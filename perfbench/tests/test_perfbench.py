"""The benchmark's own tests: seeded inputs, output checks, a tiny smoke run.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pytest

import checks
import gen
import run
from spans import LAYER_FIELDS, LAYERS


# -- inputs ---------------------------------------------------------------------

def test_same_seed_gives_identical_inputs():
    a = gen.catalog(7, 300, 600)
    b = gen.catalog(7, 300, 600)
    assert gen.digest(a.part, a.lineitem) == gen.digest(b.part, b.lineitem)
    assert gen.digest(gen.documents(7, 400)) == gen.digest(gen.documents(7, 400))
    qa = gen.query_batch(np.random.default_rng(1), a, 64, 0)
    qb = gen.query_batch(np.random.default_rng(1), b, 64, 0)
    assert gen.digest(qa) == gen.digest(qb)


def test_other_seed_gives_other_inputs():
    assert gen.digest(gen.catalog(7, 300, 600).part) != gen.digest(gen.catalog(8, 300, 600).part)
    assert gen.digest(gen.documents(7, 400)) != gen.digest(gen.documents(8, 400))


def test_planted_chains_verify_consecutively():
    docs = gen.documents(3, 200, max_chain=6)
    assert len(docs) == 200 and docs.doc_id.is_unique
    texts = docs.text.tolist()
    # consecutive rows of one chain are near duplicates of each other
    js = [checks.shingle_jaccard(a, b) for a, b in zip(texts, texts[1:])]
    assert sum(j >= 0.5 for j in js) > 100


def test_no_match_queries_match_nothing():
    cat = gen.catalog(5, 500, 1000)
    q = gen.query_batch(np.random.default_rng(0), cat, 200, 0)
    want = checks.resolve_expected(q, cat.part)
    for qid, text in zip(q.qid, q.query_text):
        if text.startswith(gen.NO_MATCH_PREFIX):
            assert want[int(qid)] is None
        else:
            assert want[int(qid)] is not None


# -- each check rejects a corrupted result ------------------------------------------

def _cat():
    return gen.catalog(2, 200, 400)


def test_embedding_check_rejects_corruption():
    texts = ["alpha beta gamma", "beta delta", "omega"]
    good = checks.hash_embed(texts).astype(np.float32)
    assert checks.check_embeddings(texts, good) == []
    bad = good.copy()
    bad[1, 0] += 0.01
    assert checks.check_embeddings(texts, bad)


def test_resolve_check_rejects_corruption():
    cat = _cat()
    q = gen.query_batch(np.random.default_rng(0), cat, 32, 0)
    want = checks.resolve_expected(q, cat.part)
    assert checks.check_resolve(want, dict(want)) == []
    bad = dict(want)
    k = next(k for k, v in bad.items() if v is not None)
    bad[k] = bad[k] % 200 + 1
    assert checks.check_resolve(want, bad)


def test_cf_check_rejects_corruption():
    cat = _cat()
    src = cat.lineitem.l_partkey.unique()[:5]
    want = checks.cf_expected(cat.lineitem, src, 10)
    assert checks.check_cf(want, want.copy()) == []
    bad = want.copy()
    bad.loc[0, "weight"] += 1
    assert checks.check_cf(want, bad)
    bad = want.copy()
    bad.loc[0, "cf_score"] -= 0.01
    assert checks.check_cf(want, bad)


def test_hybrid_check_rejects_corruption():
    rng = np.random.default_rng(0)
    ids = np.arange(1, 101)
    index = checks.ExactIndex(ids, rng.normal(size=(100, 8)).astype(np.float32))
    content = index.topk([5], 20)[5]
    cf = pd.DataFrame({"dst": [7, 9, 11], "cf_score": [1.0, 0.5, 0.25]})
    top, scores = checks.hybrid_expected(content, cf, 0.6, 10)
    assert checks.check_ranked(top, scores, list(top)) == []
    assert checks.check_ranked(top, scores, top[:-1])            # one missing
    swapped = list(top)
    swapped[0] = (swapped[0][0], swapped[0][1] - 0.001)          # wrong score
    assert checks.check_ranked(top, scores, swapped)
    outsider = list(top)
    outsider[-1] = (999, outsider[-1][1])                        # wrong candidate
    assert checks.check_ranked(top, scores, outsider)


def test_precision_check_rejects_corruption():
    ranked = {"content": {1: [2, 3, 4], 2: [1, 3, 4]},
              "hybrid": {1: [3, 2, 4], 2: [4, 1, 3]}}
    gt = {1: {2, 4}, 2: {3}}
    want = checks.precision_expected(ranked, gt, [1, 2])
    assert checks.check_precision(want, dict(want)) == []
    bad = dict(want)
    bad[("hybrid", 2)] += 0.01
    assert checks.check_precision(want, bad)


def test_lsh_row_identity_check_rejects_corruption():
    rows = [(1, 0, "010", 1.0), (2, 1, "110", 0.5)]
    assert checks.check_same_rows(rows, list(reversed(rows))) == []
    assert checks.check_same_rows(rows, rows[:1])
    assert checks.check_same_rows(rows, [rows[0], (2, 1, "111", 0.5)])


def test_component_checks_reject_corruption():
    pairs = pd.DataFrame({"id1": [1, 2, 5], "id2": [2, 3, 6]})
    want = checks.components([1, 2, 3, 4, 5, 6], pairs)
    assert want == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5}
    assert checks.check_labels(want, dict(want), "cc") == []
    assert checks.check_labels(want, {**want, 3: 3}, "cc")
    assert checks.check_labels(want, {k: v for k, v in want.items() if k != 4}, "cc")


def test_pair_check_rejects_corruption():
    docs = gen.documents(4, 50, max_chain=5)
    texts = dict(zip(docs.doc_id.astype(int), docs.text))
    i1, i2 = int(docs.doc_id.iat[0]), int(docs.doc_id.iat[1])
    a, b = min(i1, i2), max(i1, i2)
    j = checks.shingle_jaccard(texts[a], texts[b])
    ok = pd.DataFrame({"id1": [a], "id2": [b], "jaccard": [j]})
    assert checks.check_pairs(texts, ok, min(j, 0.5)) == []
    assert checks.check_pairs(texts, ok.assign(jaccard=j + 0.1), min(j, 0.5))


def test_graph_checks_reject_corruption():
    edges = pd.DataFrame({"src": [1, 2, 2, 3, 3, 4], "dst": [2, 1, 3, 2, 4, 3],
                          "weight": [2, 2, 1, 1, 3, 3]})
    lpa = checks.label_propagation(edges, 2)
    assert checks.check_labels(lpa, dict(lpa), "LPA") == []
    assert checks.check_labels(lpa, {**lpa, 1: 4}, "LPA")
    pr = checks.pagerank(edges, 3)
    assert abs(sum(pr.values()) - 1.0) < 1e-5
    assert checks.check_ranks(pr, dict(pr)) == []
    assert checks.check_ranks(pr, {**pr, 2: pr[2] + 0.01})


# -- reporting ------------------------------------------------------------------------

def test_tail_has_ten_samples_beyond():
    assert run.tail([1.0] * 10) == (None, None, 10)
    pct, val, n = run.tail([float(i) for i in range(1, 31)])
    assert (n, val) == (30, 20.0) and sum(v > val for v in range(1, 31)) == 10
    assert pct == pytest.approx(100 * 20 / 30)


def test_benchmark_json_lists_what_the_run_prints():
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    assert [m["name"] for m in spec["end_to_end"]] == run.END_TO_END
    layer_names = [f"{lay}.{f}" for lay in LAYERS for f in LAYER_FIELDS]
    assert [m["name"] for m in spec["per_layer"]] == layer_names + list(run.SPECIAL_UNITS)
    assert spec["end_to_end"][-1]["name"] == "setup_s"


# -- smoke run ----------------------------------------------------------------------------

TINY = {"Serve": {"N_ITEMS": 300, "N_ORDERS": 600},
        "Build": {"N_ITEMS": 300, "N_ORDERS": 600},
        "DedupGraph": {"N_DOCS": 200, "MAX_CHAIN": 5, "N_ITEMS": 200, "N_ORDERS": 400}}


@pytest.mark.parametrize("name", ["serve", "build", "dedup_graph"])
@pytest.mark.parametrize("trace", [False, True])
def test_tiny_smoke_run(name, trace, tmp_path, monkeypatch):
    import workloads

    cls = workloads.WORKLOADS[name]
    for attr, value in TINY[cls.__name__].items():
        monkeypatch.setattr(cls, attr, value)
    monkeypatch.setattr(run, "SETUP_REPS", 2)
    monkeypatch.chdir(tmp_path)
    result, report = run.run_workload(name, seed=1, seconds=0.1, trace=trace)
    assert result["correct"], report["errors"]
    assert result["failed"] == 0 and result["attempted"] >= 3
    expected = (set(m["name"] for m in json.loads(
        (run.ROOT / "BENCHMARK.json").read_text())["per_layer"])
        if trace else set(run.END_TO_END))
    assert set(result["metrics"]) == expected
    assert not (tmp_path / ".bench_work" / "run").exists()
