"""The three benchmark workloads: set-up, one timed operation, checks.

Each workload is one closed loop with one client: the next operation starts
when the previous one has returned. Every call into the program goes
through ``ctx.tracer.call`` with the layer it belongs to, so the traced run
can attribute Spark work to layers; with tracing off the call is direct.

Sizes are set by the run budget (see README.md): a run, JVM launch and
three set-ups included, has to stay near a minute on a 4-CPU host, where
Spark's per-job floor (0.1-0.25 s) already makes one operation take
seconds. The sizes keep every layer's shape (partitioned index writes,
shuffles, iterative rounds) at the smallest scale that still has it.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd

import checks
import gen
from spans import Tracer, span_counter, span_rows

from hybrid_recommendation_system_using_vector_db_spark import (ALPHA, CF_TOP_N,
                                                                 CONTENT_TOP_N,
                                                                 EVAL_KS, TOP_K)
from hybrid_recommendation_system_using_vector_db_spark import pipeline
from hybrid_recommendation_system_using_vector_db_spark.embeddings import hashing_embedder
from hybrid_recommendation_system_using_vector_db_spark.operators import (copurchase, dedup,
                                                                          evaluate, graph,
                                                                          hybrid, resolve,
                                                                          similarity)

EMBED_DIM = 64
LSH_BITS, LSH_TABLES = 3, 4   # 32 index partition dirs


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    out: Path                 # where the workload's artifacts are written
    in_op: bool = False       # set by run.py around each operation
    held: list = field(default_factory=list)      # set-up scope
    op_held: list = field(default_factory=list)   # operation scope
    counts: dict = field(default_factory=dict)    # traced-run counters

    def hold(self, df):
        """Persist and materialize a DataFrame, released at the end of the
        current operation (or of the set-up, when called from it)."""
        df = df.persist()
        df.count()
        (self.op_held if self.in_op else self.held).append(df)
        return df

    def release_op(self) -> None:
        for df in self.op_held:
            df.unpersist()
        self.op_held.clear()
        self.tracer.release()

    def release(self) -> None:
        self.release_op()
        for df in self.held:
            df.unpersist()
        self.held.clear()

    def count(self, key: str, n: float) -> None:
        self.counts[key] = self.counts.get(key, 0.0) + n

    def write(self, name: str, fn, *args, input_bytes: int, **kwargs):
        """A ``pipeline`` call writing under ``ctx.out``; the traced run
        counts the files it leaves and their bytes."""
        if not self.tracer.enabled:
            return fn(*args, **kwargs)
        before = _files(self.out)
        result = self.tracer.call("pipeline", name, fn, *args, **kwargs)
        new = {p: s for p, s in _files(self.out).items() if before.get(p) != s}
        self.count("pipeline.files_written", len(new))
        self.count("pipeline.bytes_written", sum(new.values()))
        self.count("pipeline.bytes_in", input_bytes)
        return result


def _files(root: Path) -> dict:
    return {p: p.stat().st_size for p in root.rglob("*")
            if p.is_file() and not p.name.endswith(".crc")}


def _embed(ctx: Ctx, part):
    """Catalog → (vec_id, doc) → (vec_id, embedding)."""
    t = ctx.tracer
    docs = t.call("hybrid", "product_text", hybrid.product_text, part) \
        .withColumnRenamed("item_id", "vec_id")
    return t.call("embeddings", "hashing_embedder", hashing_embedder, docs,
                  id_col="vec_id", text_col="doc")


def _doc_texts(part: pd.DataFrame) -> list[str]:
    """The catalog text the program embeds: title | Group: brand | Category: type."""
    return [f"{n} | Group: {b} | Category: {t}"
            for n, b, t in zip(part.p_name, part.p_brand, part.p_type)]


def _vectors(df) -> tuple[np.ndarray, np.ndarray]:
    rows = df.select("vec_id", "embedding").collect()
    return (np.array([r[0] for r in rows], dtype=np.int64),
            np.array([r[1] for r in rows], dtype=np.float32))


def _ranked(rows, score: str) -> dict:
    """qid → [(cand, score)] in rank order."""
    out: dict = {}
    for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
        out.setdefault(int(r["qid"]), []).append((int(r["cand"]), float(r[score])))
    return out


def _check_embeddings(ctx: Ctx, part: pd.DataFrame, exact: checks.ExactIndex,
                      n: int = 200) -> list[str]:
    rng = np.random.default_rng([ctx.seed, 9])
    rows = rng.choice(len(part), size=min(n, len(part)), replace=False)
    sub = part.iloc[np.sort(rows)]
    return checks.check_embeddings(_doc_texts(sub), exact.vectors(sub.p_partkey))


class Serve:
    """The reference's user operation: resolve 64 query strings, then
    hybrid top-k through the exact GEMM path and through the LSH index.

    Why: small batches make the per-action floor and the per-batch corpus
    decode dominate, which is the serving cost a user sees. The corpus, CF
    ranking and LSH index are built and persisted in set-up, so the timed
    loop runs no build shuffles, index writes or fixpoint loops. The index
    is built in memory rather than written and loaded: the parquet round
    trip cost 5-10 s per set-up, which three set-ups per run cannot afford,
    and the ``build`` workload measures it."""

    name = "serve"
    why = "64-query batches: resolve, exact GEMM hybrid and LSH hybrid over a prebuilt index"
    N_ITEMS = 1500        # warm set-up ≈ 4 s, mostly per-job floor
    N_ORDERS = 3000       # ~10k Zipf-skewed basket rows
    BATCH = 64            # query strings per batch
    SAMPLE = 4            # queries per batch re-checked in NumPy

    def setup(self, ctx: Ctx) -> None:
        spark, t = ctx.spark, ctx.tracer
        self.cat = gen.catalog(ctx.seed, self.N_ITEMS, self.N_ORDERS)
        part = spark.createDataFrame(self.cat.part)
        lineitem = spark.createDataFrame(self.cat.lineitem)
        self.names = ctx.hold(part.selectExpr("p_partkey AS item_id",
                                              "p_name AS name"))
        self.corpus = ctx.hold(_embed(ctx, part))
        edges = t.call("copurchase", "copurchase_edges",
                       copurchase.copurchase_edges, lineitem)
        redges = t.call("copurchase", "restrict_to_universe",
                        copurchase.restrict_to_universe, edges, self.corpus)
        self.cf = ctx.hold(t.call("copurchase", "cf_topn", copurchase.cf_topn,
                                  redges, CF_TOP_N))
        self.index = ctx.hold(t.call("similarity.lsh", "lsh_build_index",
                                     similarity.lsh_build_index, self.corpus,
                                     n_bits=LSH_BITS, n_tables=LSH_TABLES))
        self.exact = checks.ExactIndex(*_vectors(self.corpus))
        self.rng = np.random.default_rng([ctx.seed, 3])

    def setup_errors(self, ctx: Ctx) -> list[str]:
        return _check_embeddings(ctx, self.cat.part, self.exact)

    def op(self, ctx: Ctx, i: int) -> dict:
        spark, t = ctx.spark, ctx.tracer
        batch = gen.query_batch(self.rng, self.cat, self.BATCH, i * self.BATCH)
        t0 = time.perf_counter()
        with t.parent(f"serve_batch#{i}"):
            resolved = t.call("resolve", "resolve_queries", resolve.resolve_queries,
                              spark.createDataFrame(batch), self.names).collect()
            ids = np.array(sorted({r.item_id for r in resolved
                                   if r.item_id is not None}), dtype=np.int64)
            vecs = self.exact.vectors(ids)
            qids = spark.createDataFrame([(int(x),) for x in ids], "vec_id long")
            cands = t.call("similarity.gemm", "cosine_topk_gemm",
                           similarity.cosine_topk_gemm, qids, self.corpus,
                           CONTENT_TOP_N, q_local=(ids, vecs))
            exact = t.call("hybrid", "hybrid_recommend", hybrid.hybrid_recommend,
                           qids, self.corpus, None, None, content_candidates=cands,
                           cf_candidates=self.cf).collect()
            t1 = time.perf_counter()
            qvecs = spark.createDataFrame(
                [(int(x), v.tolist()) for x, v in zip(ids, vecs)],
                "vec_id long, embedding array<float>")
            lsh = t.call("similarity.lsh", "lsh_topk", similarity.lsh_topk, qvecs,
                         self.corpus, CONTENT_TOP_N, n_bits=LSH_BITS,
                         n_tables=LSH_TABLES, index=self.index, dim=EMBED_DIM)
            ann = t.call("hybrid", "hybrid_recommend", hybrid.hybrid_recommend,
                         qids, self.corpus, None, None, content_candidates=lsh,
                         cf_candidates=self.cf).collect()
        t2 = time.perf_counter()
        if t.enabled:
            ctx.count("lsh.results", lsh.count())

        got_exact = _ranked(exact, "hybrid_score")
        got_ann = _ranked(ann, "hybrid_score")
        recall = [len({c for c, _ in got_ann.get(q, [])[:TOP_K]}
                      & {c for c, _ in top}) / len(top)
                  for q, top in got_exact.items() if top]
        errors = checks.check_resolve(
            checks.resolve_expected(batch, self.cat.part),
            {int(r.qid): r.item_id for r in resolved})
        sample = self.rng.choice(ids, size=min(self.SAMPLE, len(ids)), replace=False)
        content = self.exact.topk(sample, CONTENT_TOP_N)
        cf = checks.cf_expected(self.cat.lineitem, sample, CF_TOP_N)
        for q in sample:
            top, scores = checks.hybrid_expected(content[int(q)], cf[cf.src == q],
                                                 ALPHA, TOP_K)
            errors += checks.check_ranked(top, scores, got_exact.get(int(q), []))
        return {"op_ms": (t2 - t0) * 1e3, "serve_batch_ms": (t1 - t0) * 1e3,
                "ann_batch_ms": (t2 - t1) * 1e3, "recall": recall,
                "errors": errors}

    def layer_metrics(self, ctx: Ctx, spans, counters) -> dict:
        cand = span_rows(spans, "similarity.lsh", "lsh_topk", "BroadcastHashJoin")
        res = ctx.counts.get("lsh.results", 0.0)
        return {"similarity.lsh.candidates_per_result": cand / res if res else 0.0}


class Build:
    """A cold index build from generated inputs, then the evaluation.

    embed → co-purchase edges → universe restriction → CF ranking; LSH
    index written on 80% of the catalog, grown by four append batches and
    loaded; then Precision@K over every eligible query as one GEMM batch.

    Why: it is the write and shuffle side of the layers ``serve`` reads,
    and its GEMM has enough queries to be compute-bound rather than
    floor-bound. Every operation rebuilds from scratch (all cached tables
    are released), so no serving reuse and no fixpoint loop is involved."""

    name = "build"
    why = "cold build: embed, CF edges and ranking, LSH write + 4 appends + load, Precision@K"
    N_ITEMS = 3000        # one cold build + eval ≈ 40 s on a 4-CPU host
    N_ORDERS = 6000
    APPENDS = 4           # append batches of 5% of the catalog each
    MAX_K = max(EVAL_KS)
    CF_POOL = max(CF_TOP_N, MAX_K)

    def setup(self, ctx: Ctx) -> None:
        spark = ctx.spark
        self.cat = gen.catalog(ctx.seed, self.N_ITEMS, self.N_ORDERS)
        self.part = ctx.hold(spark.createDataFrame(self.cat.part))
        self.lineitem = ctx.hold(spark.createDataFrame(self.cat.lineitem))
        self.expected = None
        self.bulk_rows = None

    def setup_errors(self, ctx: Ctx) -> list[str]:
        return []

    def _expect(self, ctx: Ctx, ids: np.ndarray, mat: np.ndarray) -> None:
        """NumPy/pandas recompute of the CF ranking and the Precision@K grid."""
        exact = checks.ExactIndex(ids, mat)
        every = checks.cf_expected(self.cat.lineitem, ids, len(ids))
        cf = every[every.cf_rank <= self.CF_POOL]
        eligible = np.unique(cf.src.to_numpy())
        content = exact.topk(eligible, self.MAX_K)
        hyb = {}
        for q in eligible:
            pool = cf[(cf.src == q) & (cf.cf_rank <= self.MAX_K)]
            top, _ = checks.hybrid_expected(content[int(q)], pool, ALPHA, self.MAX_K)
            hyb[int(q)] = [c for c, _ in top]
        ranked = {"content": {q: [c for c, _ in v] for q, v in content.items()},
                  "hybrid": hyb}
        # ground truth: every co-purchase neighbour of the query
        gt = {int(q): set(g.dst.astype(int)) for q, g in every.groupby("src")}
        rng = np.random.default_rng([ctx.seed, 4])
        self.cf_sample = rng.choice(eligible, size=min(20, len(eligible)),
                                    replace=False)
        self.expected = {
            "precision": checks.precision_expected(ranked, gt, EVAL_KS),
            "cf": cf[cf.src.isin(self.cf_sample)],
        }

    def op(self, ctx: Ctx, i: int) -> dict:
        spark, t = ctx.spark, ctx.tracer
        index_dir = str(ctx.out / "lsh")
        n = self.N_ITEMS
        base_n = int(n * 0.8)
        step = (n - base_n) // self.APPENDS
        t0 = time.perf_counter()
        with t.parent(f"build#{i}"):
            corpus = ctx.hold(_embed(ctx, self.part))
            edges = t.call("copurchase", "copurchase_edges",
                           copurchase.copurchase_edges, self.lineitem)
            redges = ctx.hold(t.call("copurchase", "restrict_to_universe",
                                     copurchase.restrict_to_universe, edges, corpus))
            cf = ctx.hold(t.call("copurchase", "cf_topn", copurchase.cf_topn,
                                 redges, self.CF_POOL))
            row_bytes = 8 + 4 * EMBED_DIM
            ctx.write("write_lsh_index", pipeline.write_lsh_index, spark,
                      corpus.filter(f"vec_id <= {base_n}"), index_dir,
                      n_bits=LSH_BITS, n_tables=LSH_TABLES,
                      input_bytes=base_n * row_bytes)
            append_ms = []
            for b in range(self.APPENDS):
                lo = base_n + b * step
                hi = n if b == self.APPENDS - 1 else lo + step
                ta = time.perf_counter()
                ctx.write("append_lsh_index", pipeline.append_lsh_index, spark,
                          corpus.filter(f"vec_id > {lo} AND vec_id <= {hi}"),
                          index_dir, input_bytes=(hi - lo) * row_bytes)
                append_ms.append((time.perf_counter() - ta) * 1e3)
            index = ctx.hold(t.call("pipeline", "load_lsh_index",
                                    pipeline.load_lsh_index, spark, index_dir))
            t1 = time.perf_counter()
            eligible = ctx.hold(corpus.join(
                redges.selectExpr("src AS vec_id").distinct(), "vec_id", "left_semi"))
            q_ids, q_mat = _vectors(eligible)
            ranked = ctx.hold(t.call("similarity.gemm", "cosine_topk_gemm",
                                     similarity.cosine_topk_gemm, eligible, corpus,
                                     self.MAX_K, q_local=(q_ids, q_mat)))
            hyb = t.call("hybrid", "hybrid_recommend", hybrid.hybrid_recommend,
                         eligible, corpus, None, None, k=self.MAX_K,
                         content_top_n=self.MAX_K, cf_top_n=self.MAX_K,
                         content_candidates=ranked, cf_candidates=cf)
            gt = redges.join(eligible.selectExpr("vec_id AS src"), "src", "left_semi")
            prec = t.call("evaluate", "precision_at_k", evaluate.precision_at_k,
                          {"content": ranked.select("qid", "cand", "rank"),
                           "hybrid": hyb.select("qid", "cand", "rank")},
                          gt, eligible.selectExpr("vec_id AS qid")).collect()
        t2 = time.perf_counter()

        ids, mat = _vectors(corpus)
        if self.expected is None:
            self._expect(ctx, ids, mat)
        errors = _check_embeddings(ctx, self.cat.part, checks.ExactIndex(ids, mat))
        got_cf = cf.filter(cf.src.isin([int(x) for x in self.cf_sample])).toPandas()
        errors += checks.check_cf(self.expected["cf"], got_cf)
        errors += checks.check_precision(
            self.expected["precision"],
            {(r.model, int(r.k)): float(r.precision) for r in prec})
        appended = [tuple(r) for r in index.select("cand", "t", "bucket", "c_nrm").collect()]
        if self.bulk_rows is None:
            bulk_dir = str(ctx.out / "lsh_bulk")
            pipeline.write_lsh_index(spark, corpus, bulk_dir, n_bits=LSH_BITS,
                                     n_tables=LSH_TABLES)
            self.bulk_rows = [tuple(r) for r in pipeline.load_lsh_index(spark, bulk_dir)
                              .select("cand", "t", "bucket", "c_nrm").collect()]
        errors += checks.check_same_rows(self.bulk_rows, appended)
        return {"op_ms": (t2 - t0) * 1e3, "build_ms": (t1 - t0) * 1e3,
                "append_ms": append_ms, "eval_ms": (t2 - t1) * 1e3,
                "errors": errors}

    def layer_metrics(self, ctx: Ctx, spans, counters) -> dict:
        return {}


class DedupGraph:
    """The iterative operators: near-duplicate clustering and graph loops.

    ``pipeline.write_dedup_clusters`` (MinHash signatures → bands → exact
    Jaccard verify → large-star/small-star components) on generated docs
    with planted near-duplicate chains, min-label connected components on
    the same verified pairs, then label propagation and PageRank on the
    co-purchase graph.

    Why: it runs the component, label-propagation and PageRank loops that a
    shared fixpoint driver would merge, and per-round job floor dominates;
    chain depth is drawn with a long tail (capped to fit the run budget) so
    the number of component rounds varies with the seed. It does not use
    the GEMM path."""

    name = "dedup_graph"
    why = "near-dup clusters (star CC + min-label CC) on planted dup chains, then LPA and PageRank"
    N_DOCS = 2000         # one operation ≈ 35 s, mostly per-job floor
    MAX_CHAIN = 4
    N_ITEMS = 2000        # co-purchase graph for LPA / PageRank
    N_ORDERS = 4000
    LPA_ROUNDS = 3
    PR_ITERS = 2
    THRESHOLD = 0.5
    PAIR_SAMPLE = 40      # verified pairs re-checked in Python per operation

    def setup(self, ctx: Ctx) -> None:
        spark, t = ctx.spark, ctx.tracer
        self.docs = gen.documents(ctx.seed, self.N_DOCS, max_chain=self.MAX_CHAIN)
        self.cat = gen.catalog(ctx.seed, self.N_ITEMS, self.N_ORDERS)
        self.docs_df = ctx.hold(spark.createDataFrame(self.docs))
        lineitem = spark.createDataFrame(self.cat.lineitem)
        self.edges = ctx.hold(t.call("copurchase", "copurchase_edges",
                                     copurchase.copurchase_edges, lineitem))
        self.texts = dict(zip(self.docs.doc_id.astype(int), self.docs.text))
        self.text_bytes = int(sum(len(s.encode("utf-8")) + 8 for s in self.docs.text))
        self.expected = None
        self.rng = np.random.default_rng([ctx.seed, 5])

    def setup_errors(self, ctx: Ctx) -> list[str]:
        return []

    def op(self, ctx: Ctx, i: int) -> dict:
        spark, t = ctx.spark, ctx.tracer
        out = str(ctx.out / "dedup")
        t0 = time.perf_counter()
        with t.parent(f"dedup_graph#{i}"):
            ctx.write("write_dedup_clusters", pipeline.write_dedup_clusters, spark,
                      self.docs_df, out, threshold=self.THRESHOLD,
                      input_bytes=self.text_bytes)
            star = t.call("pipeline", "load_dedup_clusters",
                          pipeline.load_dedup_clusters, spark, out).collect()
            pairs = ctx.hold(spark.read.parquet(f"{out}/dedup_pairs"))
            minlabel = t.call("dedup", "connected_components",
                              dedup.connected_components, pairs,
                              self.docs_df.select("doc_id")).collect()
            t1 = time.perf_counter()
            lpa = t.call("graph", "label_propagation", graph.label_propagation,
                         self.edges, n_rounds=self.LPA_ROUNDS, symmetric=True).collect()
            pr = t.call("graph", "pagerank", graph.pagerank, self.edges,
                        n_iters=self.PR_ITERS, symmetric=True).collect()
        t2 = time.perf_counter()
        if t.enabled:
            bands = spark.read.parquet(f"{out}/dedup_bands")
            cand = t.call("dedup", "bucket_chain_links", dedup.bucket_chain_links,
                          bands).distinct().count()
            ctx.count("dedup.candidates", cand)
            ctx.count("dedup.verified", pairs.count())

        got_pairs = pairs.toPandas()
        if self.expected is None:
            e = checks.copurchase_weights(self.cat.lineitem)
            self.expected = {"lpa": checks.label_propagation(e, self.LPA_ROUNDS),
                             "pr": checks.pagerank(e, self.PR_ITERS)}
        want = checks.components(self.docs.doc_id, got_pairs)
        errors = checks.check_labels(want, {int(r.doc_id): int(r.cluster_id)
                                            for r in star}, "star CC")
        errors += checks.check_labels(want, {int(r.doc_id): int(r.cluster_id)
                                             for r in minlabel}, "min-label CC")
        sample = got_pairs.sample(n=min(self.PAIR_SAMPLE, len(got_pairs)),
                                  random_state=int(self.rng.integers(2**31)))
        errors += checks.check_pairs(self.texts, sample, self.THRESHOLD)
        errors += checks.check_labels(self.expected["lpa"],
                                      {int(r.node): int(r.label) for r in lpa}, "LPA")
        errors += checks.check_ranks(self.expected["pr"],
                                     {int(r.node): float(r.rank) for r in pr})
        return {"op_ms": (t2 - t0) * 1e3, "dedup_ms": (t1 - t0) * 1e3,
                "graph_ms": (t2 - t1) * 1e3, "errors": errors}

    def layer_metrics(self, ctx: Ctx, spans, counters) -> dict:
        cand = ctx.counts.get("dedup.candidates", 0.0)
        return {
            "dedup.verify.kept_ratio":
                ctx.counts.get("dedup.verified", 0.0) / cand if cand else 0.0,
            "dedup.cc.rounds": span_counter(spans, counters, "dedup",
                                            "connected_components", "action.count")
            / max(1, sum(1 for s in spans if s["name"] == "connected_components")),
            "graph.lpa.rounds": float(self.LPA_ROUNDS),
        }


WORKLOADS = {w.name: w for w in (Serve, Build, DedupGraph)}
