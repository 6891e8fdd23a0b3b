"""Benchmark entry point: one workload, one seed, one measuring window.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Run from the repository root. The program is imported from the package
beside this directory and driven through its public functions on one
driver process with ``local[N]``, N = usable CPUs.

A run launches the JVM once, then sets the workload up ``SETUP_REPS``
times in one Spark session, each time from freshly generated inputs and
after releasing everything the previous set-up cached, and reports the
median as ``setup_s``. The last set-up serves the timed loop, which runs
operations back to back for ``--seconds`` (at least one), checks every
operation's output, and counts a wrong or raising operation as failed.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` prints the
per-layer metrics instead: every set-up gets a fresh session, the last one
with Spark's event log on and every layer call wrapped in a span, and the
timed loop runs traced. The traced set-up minus the untraced one before
it (same inputs, same work, both warm) is the tracing overhead. The spans
and the per-layer table are also written to
``.bench_work/trace-<workload>-<seed>.json``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. The line before it,
``REPORT {...}``, carries the workload's named metrics, the contention
and hygiene record and the sample counts. Everything the run writes stays
under ``.bench_work/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "hybrid_recommendation_system_using_vector_db_spark"
SETUP_REPS = 3
DRIVER_MEMORY = "2g"

UNITS = {"setup_s": "s", "jvm_peak_rss_mb": "MB", "op_ms_p50": "ms",
         "op_cpu_s_p50": "s", "failed_ratio": "ratio", "serve_batch_ms_p50": "ms",
         "serve_batch_ms_tail": "ms", "ann_batch_ms_p50": "ms",
         "ann_recall_at_10": "ratio", "build_s": "s", "append_batch_ms_p50": "ms",
         "eval_s": "s", "dedup_s": "s", "graph_s": "s"}
END_TO_END = ["op_cpu_s_p50", "setup_s"]
LAYER_UNITS = {"wall_s": "s", "jobs": "count", "tasks": "count", "task_s": "s",
               "gc_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB",
               "floor_s": "s"}
SPECIAL_UNITS = {"similarity.lsh.candidates_per_result": "ratio",
                 "dedup.verify.kept_ratio": "ratio", "dedup.cc.rounds": "count",
                 "graph.lpa.rounds": "count", "pipeline.files_written": "count",
                 "pipeline.bytes_per_input_byte": "ratio", "session.start_s": "s",
                 "session.jvm_threads_end": "count", "session.cached_mb_end": "MB",
                 "session.tmp_dirs_end": "count", "tracing.overhead_ms": "ms"}


def tail(values: list[float]) -> tuple[float | None, float | None, int]:
    """(percentile, value, n) of the highest nearest-rank percentile with at
    least ten samples above it; (None, None, n) below eleven samples."""
    v = sorted(values)
    n = len(v)
    if n < 11:
        return None, None, n
    j = n - 11
    return 100.0 * (j + 1) / n, v[j], n


def configure(work: Path) -> Path:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # Python workers import the package's UDF closures by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"
    return tmp


def stop_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the connection may already be gone; the process is what matters
        traceback.print_exc(file=sys.stderr)
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    """Run one workload; returns (contract result, report)."""
    work = Path.cwd() / ".bench_work" / "run"
    shutil.rmtree(work, ignore_errors=True)
    tmp = configure(work)
    sys.path.insert(0, str(ROOT))
    import host
    from spans import LAYERS, LAYER_FIELDS, Tracer, fold, read_event_log
    from workloads import WORKLOADS, Ctx

    from hybrid_recommendation_system_using_vector_db_spark.session import get_spark

    cores = host.usable_cpus()
    wl = WORKLOADS[name]()
    attempted = failed = 0
    messages: list[str] = []

    def record(errors: list[str]) -> None:
        nonlocal attempted, failed
        attempted += 1
        if errors:
            failed += 1
            messages.extend(errors)

    t0 = time.perf_counter()
    get_spark(cpus=cores).stop()
    jvm_launch_s = time.perf_counter() - t0
    from pyspark import SparkContext
    jvm = SparkContext._jvm

    def loop(ctx: Ctx, budget: float) -> list[dict]:
        """Operations back to back; stops when the next one, taking as long
        as the median one so far, would end past ``budget`` seconds."""
        results, walls, i, start = [], [], 0, time.perf_counter()
        pid = host.jvm_pid(ctx.spark)
        while True:
            t_op = time.perf_counter()
            cpu0 = host.tree_cpu_s(pid)
            ctx.in_op = True
            try:
                r = wl.op(ctx, i)
            except Exception as e:  # a raising operation is a failed operation
                traceback.print_exc(file=sys.stderr)
                r = {"errors": [f"{type(e).__name__}: {e}"]}
            finally:
                ctx.in_op = False
                ctx.release_op()
            record(r["errors"])
            if "op_ms" in r:
                r["op_cpu_s"] = host.tree_cpu_s(pid) - cpu0
                results.append(r)
            i += 1
            now = time.perf_counter()
            walls.append(now - t_op)
            if now - start + statistics.median(walls) > budget:
                return results

    setups: list[float] = []
    event_dir = work / "eventlog"
    tracer = Tracer(False)
    ctx = spark = None
    for rep in range(SETUP_REPS):
        if ctx is not None:
            ctx.release()
            if trace:
                spark.stop()
        if trace and rep == SETUP_REPS - 1:
            event_dir.mkdir()
            for k, v in {"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": event_dir.as_uri(),
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"}.items():
                jvm.System.setProperty(k, v)
            tracer = Tracer(True)
        out = work / f"out{rep}"
        out.mkdir()
        t0 = time.perf_counter()
        spark = tracer.call("session", "get_spark", get_spark, cpus=cores)
        tracer.bind(spark)
        ctx = Ctx(spark, tracer, seed, out)
        wl.setup(ctx)
        setups.append(time.perf_counter() - t0)
        record(wl.setup_errors(ctx))

    stall = host.canary_stall()
    steal = host.StealWindow()
    steal.start()
    results = loop(ctx, seconds)
    steal.stop()
    hygiene = host.hygiene(spark, tmp)
    rss = host.jvm_peak_rss_mb(host.jvm_pid(spark))
    app_id = spark.sparkContext.applicationId
    ctx.release()
    spark.stop()
    stop_jvm()

    if not results:
        raise RuntimeError(f"no {name} operation completed: {messages[:3]}")
    med = lambda xs: statistics.median(xs) if xs else None  # noqa: E731
    ops = [r["op_ms"] for r in results]
    named = {"setup_s": med(setups), "jvm_peak_rss_mb": rss,
             "op_ms_p50": med(ops), "op_cpu_s_p50": med([r["op_cpu_s"] for r in results]),
             "failed_ratio": failed / attempted if attempted else 1.0}
    detail: dict = {"op_ms": ops, "setup_samples": setups,
                    "jvm_launch_s": jvm_launch_s}
    if name == "serve":
        pct, val, n = tail([r["serve_batch_ms"] for r in results])
        named.update({
            "serve_batch_ms_p50": med([r["serve_batch_ms"] for r in results]),
            "serve_batch_ms_tail": val,
            "ann_batch_ms_p50": med([r["ann_batch_ms"] for r in results]),
            "ann_recall_at_10": (statistics.fmean([x for r in results for x in r["recall"]])
                                 if results else None)})
        detail["serve_batch_ms_tail"] = {"percentile": pct, "samples": n}
    elif name == "build":
        appends = [x for r in results for x in r["append_ms"]]
        named.update({"build_s": _s(med([r["build_ms"] for r in results])),
                      "append_batch_ms_p50": med(appends),
                      "eval_s": _s(med([r["eval_ms"] for r in results]))})
        detail["append_samples"] = len(appends)
    else:
        named.update({"dedup_s": _s(med([r["dedup_ms"] for r in results])),
                      "graph_s": _s(med([r["graph_ms"] for r in results]))})
    report = {"workload": name, "seed": seed, "trace": trace, "metrics": named,
              "units": {k: UNITS[k] for k in named}, "detail": detail,
              "contention": host.contention(steal.frac, stall),
              "hygiene": hygiene, "errors": messages[:20]}

    if trace:
        counters = read_event_log(event_dir, app_id)
        layers = fold(tracer.spans, counters, cores)
        metrics = {f"{layer}.{f}": {"value": layers[layer][f], "unit": LAYER_UNITS[f]}
                   for layer in LAYERS for f in LAYER_FIELDS}
        specials = {"similarity.lsh.candidates_per_result": 0.0,
                    "dedup.verify.kept_ratio": 0.0, "dedup.cc.rounds": 0.0,
                    "graph.lpa.rounds": 0.0}
        specials.update(wl.layer_metrics(ctx, tracer.spans, counters))
        written_in = ctx.counts.get("pipeline.bytes_in", 0.0)
        starts = [s["end"] - s["start"] for s in tracer.spans
                  if s["layer"] == "session"]
        specials.update({
            "pipeline.files_written": ctx.counts.get("pipeline.files_written", 0.0),
            "pipeline.bytes_per_input_byte":
                ctx.counts.get("pipeline.bytes_written", 0.0) / written_in
                if written_in else 0.0,
            "session.start_s": med(starts),
            "session.jvm_threads_end": hygiene["jvm_threads_end"],
            "session.cached_mb_end": hygiene["cached_mb_end"],
            "session.tmp_dirs_end": hygiene["tmp_dirs_end"],
            # the last two set-ups run the same work in fresh sessions,
            # untraced and traced
            "tracing.overhead_ms": (setups[-1] - setups[-2]) * 1e3})
        metrics.update({k: {"value": float(v), "unit": SPECIAL_UNITS[k]}
                        for k, v in specials.items()})
        trace_file = Path.cwd() / ".bench_work" / f"trace-{name}-{seed}.json"
        tracer.dump(trace_file, {"layers": layers, "metrics": metrics,
                                 "counters": {str(k): v for k, v in counters.items()}})
    else:
        metrics = {k: {"value": float(named[k]), "unit": UNITS[k]} for k in END_TO_END}
    shutil.rmtree(work, ignore_errors=True)
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return result, report


def _s(ms: float | None) -> float | None:
    return None if ms is None else ms / 1000.0


def run_all(seed: int, seconds: float) -> dict:
    """Each workload in its own process, then one table of the named metrics."""
    reports, attempted, failed = [], 0, 0
    for name in ("serve", "build", "dedup_graph"):
        proc = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", name, "--seed",
             str(seed), "--seconds", str(seconds), "--trace", "0"],
            capture_output=True, text=True, check=True)
        lines = proc.stdout.strip().splitlines()
        reports.append(json.loads(lines[-2][len("REPORT "):]))
        last = json.loads(lines[-1])
        attempted += last["attempted"]
        failed += last["failed"]
    metrics = {}
    for rep in reports:
        print(f"# {rep['workload']} (seed {seed}, contended: "
              f"{rep['contention']['contended']})")
        for k, v in rep["metrics"].items():
            unit = rep["units"][k]
            print(f"  {k:24s} {v if v is not None else 'n/a'} {unit}")
            if k in ("setup_s", "jvm_peak_rss_mb", "failed_ratio", "op_ms_p50",
                     "op_cpu_s_p50"):
                metrics[f"{rep['workload']}.{k}"] = {"value": v, "unit": unit}
            else:
                metrics[k] = {"value": v, "unit": unit}
        t = rep["detail"].get("serve_batch_ms_tail")
        if t:
            print(f"  (serve_batch_ms_tail: p{t['percentile']} of {t['samples']} batches)"
                  if t["percentile"] else
                  f"  (serve_batch_ms_tail: n/a, {t['samples']} batches; it needs 11)")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["serve", "build", "dedup_graph", "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not (ROOT / PACKAGE).is_dir():
        print(f"run.py: the {PACKAGE} package is not beside {HERE.name}/", file=sys.stderr)
        return 2
    if args.workload == "all":
        print(json.dumps(run_all(args.seed, args.seconds)))
        return 0
    try:
        result, report = run_workload(args.workload, args.seed, args.seconds,
                                      bool(args.trace))
    finally:
        stop_jvm()
    for err in report["errors"]:
        print(f"check failed: {err}", file=sys.stderr)
    if report["contention"]["contended"]:
        print(f"CONTENDED RUN: {report['contention']}", file=sys.stderr)
    print("REPORT " + json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
