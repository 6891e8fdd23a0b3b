"""Independent output checks: NumPy / pandas / plain-Python recomputations.

Each ``check_*`` returns a list of mismatch messages; an empty list means
the program's output is correct. The benchmark counts an operation whose
checks return anything as failed. The checks re-derive results from the
generated inputs with their own code, not the program's, and compare
scores with a tolerance of a few units in the sixth decimal, where the
program rounds.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

TOL = 2.5e-6


def fround(x, digits: int = 6):
    s = 10.0 ** digits
    return np.floor(np.asarray(x, dtype=np.float64) * s + 0.5) / s


# -- embeddings --------------------------------------------------------------

def hash_embed(texts, dim: int = 64) -> np.ndarray:
    """Hashing-trick embedding: lowercased single-space tokens, md5 → bucket
    and sign, L2-normalised."""
    out = np.zeros((len(texts), dim))
    for i, t in enumerate(texts):
        for tok in t.lower().split(" "):
            if tok:
                h = hashlib.md5(tok.encode("utf-8")).hexdigest()
                out[i, int(h[:8], 16) % dim] += 1.0 if int(h[8], 16) >= 8 else -1.0
        n = np.linalg.norm(out[i])
        if n > 0:
            out[i] /= n
    return out


def check_embeddings(texts, got: np.ndarray) -> list[str]:
    want = hash_embed(texts, got.shape[1]).astype(np.float32)
    bad = np.nonzero(np.abs(want - got).max(axis=1) > 1e-6)[0]
    return [f"embedding of row {i} differs" for i in bad[:5]]


# -- query resolution ---------------------------------------------------------

def resolve_expected(queries: pd.DataFrame, part: pd.DataFrame) -> dict:
    """qid → item id: exact id first, else the shortest title containing
    the text (case-insensitive), ties by title then id; None if nothing."""
    ids = part.p_partkey.to_numpy()
    titles = part.p_name.tolist()
    lower = [t.lower() for t in titles]
    by_id = set(int(i) for i in ids)
    out = {}
    for qid, text in zip(queries.qid, queries.query_text):
        text = text.strip(" ")
        if text.isdigit() and int(text) in by_id and str(int(text)) == text:
            out[int(qid)] = int(text)
            continue
        needle = text.lower()
        hits = [(len(titles[j]), titles[j], int(ids[j]))
                for j in range(len(ids)) if needle in lower[j]]
        out[int(qid)] = min(hits)[2] if hits else None
    return out


def check_resolve(want: dict, got: dict) -> list[str]:
    return [f"query {q} resolved to {got.get(q)}, expected {w}"
            for q, w in sorted(want.items()) if got.get(q, "missing") != w][:5]


# -- co-purchase / CF -----------------------------------------------------------

def copurchase_weights(lineitem: pd.DataFrame, sources=None) -> pd.DataFrame:
    """(src, dst, weight): orders holding both items, for every pair of
    distinct items (or only pairs whose src is in ``sources``)."""
    src_orders = (lineitem if sources is None
                  else lineitem[lineitem.l_partkey.isin(list(sources))])
    pairs = src_orders.merge(lineitem, on="l_orderkey", suffixes=("_s", "_d"))
    pairs = pairs[pairs.l_partkey_s != pairs.l_partkey_d]
    return (pairs.groupby(["l_partkey_s", "l_partkey_d"]).size()
            .rename("weight").reset_index()
            .rename(columns={"l_partkey_s": "src", "l_partkey_d": "dst"}))


def cf_expected(lineitem: pd.DataFrame, sources, top_n: int) -> pd.DataFrame:
    """(src, dst, weight, cf_score, cf_rank) for the given sources: score =
    weight / max weight of the source, ranked by weight desc then dst asc."""
    w = copurchase_weights(lineitem, sources)
    w["cf_score"] = fround(w.weight / w.groupby("src").weight.transform("max"))
    w = w.sort_values(["src", "weight", "dst"], ascending=[True, False, True])
    w["cf_rank"] = w.groupby("src").cumcount() + 1
    return w[w.cf_rank <= top_n].reset_index(drop=True)


def check_cf(want: pd.DataFrame, got: pd.DataFrame) -> list[str]:
    cols = ["src", "dst", "weight", "cf_rank"]
    a = want[cols].sort_values(cols).to_numpy()
    b = got[cols].sort_values(cols).to_numpy()
    if a.shape != b.shape or not (a == b).all():
        return [f"CF rows differ: {len(got)} rows, expected {len(want)}"]
    m = want.merge(got, on=["src", "dst"], suffixes=("_w", "_g"))
    bad = (m.cf_score_w - m.cf_score_g).abs() > TOL
    return [f"cf_score of {int(r.src)}->{int(r.dst)} is {r.cf_score_g}, "
            f"expected {r.cf_score_w}" for r in m[bad].head(5).itertuples()]


# -- exact content top-k and hybrid fusion ------------------------------------

class ExactIndex:
    """Corpus matrix for exact cosine search (ids sorted ascending)."""

    def __init__(self, ids: np.ndarray, mat: np.ndarray):
        order = np.argsort(ids)
        self.ids = ids[order]
        m = mat[order].astype(np.float64)
        n = np.linalg.norm(m, axis=1)
        n[n == 0] = 1.0
        self.unit = m / n[:, None]
        self.raw = mat[order]

    def vectors(self, qids) -> np.ndarray:
        return self.raw[np.searchsorted(self.ids, qids)]

    def topk(self, qids, k: int) -> dict:
        """qid → [(cand, score)] by (score desc, cand asc), self excluded."""
        q = self.unit[np.searchsorted(self.ids, qids)]
        sims = fround(self.unit @ q.T)
        out = {}
        for j, qid in enumerate(qids):
            col = sims[:, j].copy()
            col[self.ids == qid] = -np.inf
            top = np.lexsort((self.ids, -col))[:k]
            out[int(qid)] = [(int(self.ids[i]), float(col[i])) for i in top]
        return out


def hybrid_expected(content: list, cf: pd.DataFrame, alpha: float,
                    k: int) -> tuple[list, dict]:
    """α-fusion of one query's content pool and CF pool (missing side 0),
    clamped to [0, 1], rounded, ranked by (score desc, cand asc).
    Returns the top-k [(cand, score)] and every pooled candidate's score."""
    cs = dict(content)
    cfs = dict(zip(cf.dst.astype(int), cf.cf_score.astype(float)))
    scores = {c: float(fround(min(1.0, max(0.0, alpha * cs.get(c, 0.0)
                                            + (1.0 - alpha) * cfs.get(c, 0.0)))))
              for c in set(cs) | set(cfs)}
    top = sorted(scores.items(), key=lambda cs_: (-cs_[1], cs_[0]))[:k]
    return top, scores


def check_ranked(top: list, scores: dict, got: list) -> list[str]:
    """``got`` [(cand, score)] in rank order against the expected top list;
    candidates whose scores tie within the tolerance may swap."""
    if len(got) != len(top):
        return [f"{len(got)} results, expected {len(top)}"]
    errs = []
    if len({c for c, _ in got}) != len(got):
        errs.append("duplicate candidates")
    for i, ((_, ws), (gc, gs)) in enumerate(zip(top, got)):
        if abs(ws - gs) > TOL:
            errs.append(f"rank {i + 1} score {gs}, expected {ws}")
        if gc not in scores or abs(scores[gc] - gs) > TOL:
            errs.append(f"candidate {gc} scored {gs}, expected {scores.get(gc)}")
    return errs[:5]


# -- evaluation ---------------------------------------------------------------

def precision_expected(ranked: dict, gt: dict, ks) -> dict:
    """{(model, k): mean over queries of |top-k ∩ gt| / k}.
    ``ranked``: model → {qid: [cand, ...] in rank order}."""
    out = {}
    for model, lists in ranked.items():
        for k in ks:
            p = [len(set(lists.get(q, [])[:k]) & gt[q]) / k for q in gt]
            out[(model, k)] = float(fround(np.mean(p)))
    return out


def check_precision(want: dict, got: dict) -> list[str]:
    if set(want) != set(got):
        return [f"precision grid {sorted(got)} != {sorted(want)}"]
    return [f"precision {m}@{k} = {got[(m, k)]}, expected {w}"
            for (m, k), w in sorted(want.items()) if abs(got[(m, k)] - w) > TOL]


# -- LSH index ------------------------------------------------------------------

def check_same_rows(bulk: list, appended: list) -> list[str]:
    a, b = sorted(bulk), sorted(appended)
    if a == b:
        return []
    return [f"appended index has {len(b)} rows, bulk {len(a)}; "
            f"{len(set(b) ^ set(a))} rows differ"]


# -- dedup ----------------------------------------------------------------------

def shingle_jaccard(a: str, b: str, n: int = 3) -> float:
    def sh(t):
        toks = [w for w in t.lower().split(" ") if w]
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
    x, y = sh(a), sh(b)
    inter = len(x & y)
    union = len(x) + len(y) - inter
    return float(fround(inter / union)) if union else 0.0


def check_pairs(texts: dict, pairs: pd.DataFrame, threshold: float) -> list[str]:
    errs = []
    for r in pairs.itertuples():
        j = shingle_jaccard(texts[r.id1], texts[r.id2])
        if abs(j - r.jaccard) > TOL or j < threshold or r.id1 >= r.id2:
            errs.append(f"pair ({r.id1}, {r.id2}) jaccard {r.jaccard}, "
                        f"expected {j}")
    return errs[:5]


def components(nodes, pairs: pd.DataFrame) -> dict:
    """Union-find: node → smallest node id in its component."""
    parent = {int(n): int(n) for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs.id1, pairs.id2):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def check_labels(want: dict, got: dict, what: str) -> list[str]:
    if set(want) != set(got):
        return [f"{what}: {len(got)} nodes labelled, expected {len(want)}"]
    return [f"{what}: node {n} labelled {got[n]}, expected {w}"
            for n, w in want.items() if got[n] != w][:5]


# -- graph ----------------------------------------------------------------------

def label_propagation(edges: pd.DataFrame, n_rounds: int) -> dict:
    """Synchronous LPA over symmetric integer-weighted edges: each round a
    node takes the neighbour label of largest total weight, ties to the
    smallest label."""
    und = edges[edges.src != edges.dst][["src", "dst", "weight"]]
    labels = pd.DataFrame({"node": np.unique(und.src.to_numpy())})
    labels["label"] = labels.node
    for _ in range(n_rounds):
        m = und.merge(labels, left_on="dst", right_on="node")
        s = m.groupby(["src", "label"]).weight.sum().reset_index()
        s = s.sort_values(["src", "weight", "label"],
                          ascending=[True, False, True])
        labels = (s.drop_duplicates("src")
                  .rename(columns={"src": "node"})[["node", "label"]])
    return dict(zip(labels.node.astype(int), labels.label.astype(int)))


def pagerank(edges: pd.DataFrame, n_iters: int, damping: float = 0.85) -> dict:
    """Weighted PageRank over a graph where every node has out-edges,
    rounded to six decimals after each iteration."""
    nodes = np.unique(edges.src.to_numpy())
    idx = {int(n): i for i, n in enumerate(nodes)}
    s = np.array([idx[int(x)] for x in edges.src])
    d = np.array([idx[int(x)] for x in edges.dst])
    w = edges.weight.to_numpy(dtype=np.float64)
    out_w = np.bincount(s, weights=w, minlength=len(nodes))
    n = float(len(nodes))
    rank = np.full(len(nodes), 1.0 / n)
    for _ in range(n_iters):
        c = np.bincount(d, weights=rank[s] * w / out_w[s], minlength=len(nodes))
        rank = fround((1.0 - damping) / n + damping * c)
    return dict(zip(nodes.astype(int), rank))


def check_ranks(want: dict, got: dict, tol: float = 1e-5) -> list[str]:
    if set(want) != set(got):
        return [f"pagerank: {len(got)} nodes ranked, expected {len(want)}"]
    return [f"pagerank: node {n} rank {got[n]}, expected {w}"
            for n, w in want.items() if abs(got[n] - w) > tol][:5]
