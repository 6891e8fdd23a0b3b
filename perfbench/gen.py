"""Seeded input generator for the benchmark workloads.

Everything the program receives is made here from one integer seed with
NumPy's PCG64 generator, so the same seed gives byte-identical inputs
(``digest`` hashes them; the benchmark's tests pin that). Three kinds of
input:

- a product catalog (``part``-shaped: id, title, brand, type) whose titles
  share words within a type, so content similarity has structure;
- Zipf-skewed co-purchase baskets (``lineitem``-shaped: order key, item
  key) whose companions mostly come from the anchor item's type, so the CF
  graph and the content space agree often enough for Precision@K > 0;
- documents with planted near-duplicate chains: each chain member is the
  previous one with a few words replaced, so consecutive members verify as
  duplicates and members two steps apart mostly do not. Chain lengths are
  drawn from a truncated Zipf law (long tail), which sets how many rounds
  the connected-components loops need.

Serve query strings are drawn here too (``query_batch``): exact ids, title
substrings and strings that match nothing, with Zipf item popularity.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

_SYL = ["ka", "lo", "mi", "ne", "pu", "ra", "si", "to", "ve", "du", "ge", "ho",
        "ji", "ba", "fe", "ri", "sa", "tu", "wo", "ye", "na", "ko", "le", "mo"]
# titles hold an x or q only in their last, 3-letter word, so an 8-letter
# query starting with this prefix is a substring of no title
NO_MATCH_PREFIX = "xqz"


def _words(rng: np.random.Generator, n: int, n_syl: int) -> list[str]:
    """``n`` distinct pseudo-words of ``n_syl`` syllables each."""
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        w = "".join(_SYL[i] for i in rng.integers(0, len(_SYL), n_syl))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def zipf_ranks(rng: np.random.Generator, n: int, size: int,
               a: float = 1.1) -> np.ndarray:
    """``size`` draws of ranks 0..n-1 with P(rank r) ∝ 1/(r+1)^a."""
    cdf = np.cumsum(1.0 / np.arange(1, n + 1, dtype=np.float64) ** a)
    r = np.searchsorted(cdf, rng.random(size) * cdf[-1], side="right")
    return np.minimum(r, n - 1)


@dataclass
class Catalog:
    part: pd.DataFrame       # p_partkey, p_name, p_brand, p_type
    lineitem: pd.DataFrame   # l_orderkey, l_partkey
    popularity: np.ndarray   # item ids, most popular first


def catalog(seed: int, n_items: int, n_orders: int, n_types: int = 40,
            n_brands: int = 60) -> Catalog:
    """Product catalog plus Zipf-skewed co-purchase baskets."""
    rng = np.random.default_rng([seed, 1])
    nouns = _words(rng, n_types * 6, 3)
    adjs = _words(rng, 80, 2)
    brands = _words(rng, n_brands, 2)
    types = _words(rng, n_types, 3)
    ids = np.arange(1, n_items + 1, dtype=np.int64)
    item_type = zipf_ranks(rng, n_types, n_items, a=0.6)
    noun = item_type * 6 + rng.integers(0, 6, n_items)
    adj = zipf_ranks(rng, len(adjs), n_items, a=0.8)
    brand = zipf_ranks(rng, n_brands, n_items, a=0.9)
    model = rng.integers(0, 26 ** 3, n_items)
    names = [f"{adjs[a].capitalize()} {nouns[b]} {types[t]} "
             f"{chr(97 + m // 676)}{chr(97 + m // 26 % 26)}{chr(97 + m % 26)}"
             for a, b, t, m in zip(adj, noun, item_type, model)]
    part = pd.DataFrame({
        "p_partkey": ids,
        "p_name": names,
        "p_brand": [brands[b] for b in brand],
        "p_type": [types[t] for t in item_type],
    })

    popularity = rng.permutation(ids)
    sizes = rng.integers(2, 6, n_orders)
    order = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), sizes)
    first = np.r_[0, np.cumsum(sizes)[:-1]]
    item = popularity[zipf_ranks(rng, n_items, len(order))]
    anchor = popularity[zipf_ranks(rng, n_items, n_orders, a=0.9)]
    item[first] = anchor
    # 70% of companions come from the anchor's type, Zipf within the type
    anchor_type = np.repeat(item_type[anchor - 1], sizes)
    same = rng.random(len(order)) < 0.7
    same[first] = False
    for t in range(n_types):
        pool = ids[item_type == t]
        sel = np.nonzero(same & (anchor_type == t))[0]
        if len(pool) and len(sel):
            item[sel] = pool[zipf_ranks(rng, len(pool), len(sel), a=1.0)]
    pairs = np.unique(np.stack([order, item], axis=1), axis=0)
    lineitem = pd.DataFrame({"l_orderkey": pairs[:, 0], "l_partkey": pairs[:, 1]})
    return Catalog(part, lineitem, popularity)


def query_batch(rng: np.random.Generator, cat: Catalog, size: int,
                qid0: int) -> pd.DataFrame:
    """One serve batch of query strings: ~50% exact ids, ~40% title
    substrings (two adjacent title words), ~10% strings matching nothing;
    the item behind each query is Zipf-popular."""
    n = len(cat.part)
    picks = cat.popularity[zipf_ranks(rng, n, size)]
    kind = rng.random(size)
    texts = []
    for item, u in zip(picks, kind):
        if u < 0.5:
            texts.append(str(int(item)))
        elif u < 0.9:
            words = cat.part.p_name.iat[int(item) - 1].split(" ")
            j = int(rng.integers(0, len(words) - 1))
            texts.append(" ".join(words[j:j + 2]).lower())
        else:
            texts.append(NO_MATCH_PREFIX + "".join(
                chr(97 + c) for c in rng.integers(0, 26, 5)))
    return pd.DataFrame({"qid": np.arange(qid0, qid0 + size, dtype=np.int32),
                         "query_text": texts})


def documents(seed: int, n_docs: int, doc_words: int = 48,
              max_chain: int = 24, edits: int = 3) -> pd.DataFrame:
    """Docs with planted near-duplicate chains (doc_id, source, text).

    Chain lengths follow a Zipf law truncated at ``max_chain``; ids are
    shuffled so a chain's minimum id sits anywhere along it, as in real
    data. ``edits`` replaced words per step keep consecutive members above
    a 0.5 word-3-gram Jaccard and members two steps apart mostly below."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(_words(rng, 4000, 3))
    lengths = zipf_ranks(rng, max_chain, n_docs, a=1.3) + 1
    ends = np.cumsum(lengths)
    lengths = lengths[:np.searchsorted(ends, n_docs) + 1]
    lengths[-1] -= int(lengths.sum()) - n_docs
    texts = []
    for ln in lengths:
        cur = vocab[rng.integers(0, len(vocab), doc_words)]
        texts.append(" ".join(cur))
        for _ in range(ln - 1):
            cur = cur.copy()
            cur[rng.choice(doc_words, edits, replace=False)] = \
                vocab[rng.integers(0, len(vocab), edits)]
            texts.append(" ".join(cur))
    ids = rng.permutation(n_docs).astype(np.int64) + 1
    return pd.DataFrame({"doc_id": ids,
                         "source": np.array(["gen"] * n_docs),
                         "text": texts})


def digest(*frames: pd.DataFrame) -> str:
    """sha256 over the frames' CSV bytes — equal iff the inputs are."""
    h = hashlib.sha256()
    for f in frames:
        h.update(f.to_csv(index=False).encode("utf-8"))
    return h.hexdigest()
