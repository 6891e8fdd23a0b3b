"""Spans around calls into the program's layers, folded with Spark's event log.

Tracing off (the end-to-end run): ``Tracer.call`` is a plain call, so the
timed path is the program's own. Tracing on (the per-layer run):

- every call becomes a span (id, layer, name, start, end, parent);
- the span's jobs run under a Spark job group named after the span, and a
  DataFrame the call returns is persisted and written to the ``noop`` sink
  inside the span, because plans are lazy and would otherwise run in
  whichever span consumes them (the ``noop`` write keeps the
  materializing action apart from the program's own ``count`` actions,
  which the round counters read); the benchmark releases those blocks
  after each operation;
- after the session stops, the uncompressed, non-rolling event log is read
  back and every job, task, SQL execution and SQL metric is attributed to
  its span through the job group.

``fold`` returns per-layer totals: wall, jobs, tasks, task time, GC time,
shuffle write, spill and the scheduling floor (wall minus task time spread
over the cores). Each span also keeps its SQL action counts (from the
event log) and the output rows of every operator of the plan it
materialized (read from the plan's live metrics), which the workloads turn
into round counts and candidate ratios.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

LAYERS = ["session", "embeddings", "copurchase", "resolve", "similarity.gemm",
          "similarity.lsh", "hybrid", "evaluate", "pipeline", "dedup", "graph"]
LAYER_FIELDS = ["wall_s", "jobs", "tasks", "task_s", "gc_s",
                "shuffle_write_mb", "spill_mb", "floor_s"]
_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._held: list = []
        self._sc = None

    def bind(self, spark) -> None:
        """Attach to the session whose jobs the spans should label."""
        self._sc = spark.sparkContext

    def _open(self, layer: str, name: str) -> dict:
        span = {"id": len(self.spans), "layer": layer, "name": name,
                "parent": self._stack[-1] if self._stack else None,
                "start": time.time(), "end": None}
        self.spans.append(span)
        self._stack.append(span["id"])
        self._label(span["id"])
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.time()
        self._stack.pop()
        self._label(self._stack[-1] if self._stack else None)

    def _label(self, span_id: int | None) -> None:
        if self._sc is None:
            return
        if span_id is None:
            self._sc.setLocalProperty(_GROUP, None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            s = self.spans[span_id]
            self._sc.setJobGroup(f"span-{span_id}", f"{s['layer']}:{s['name']}")

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        """``fn(*args, **kwargs)``, as a span when tracing is on."""
        if not self.enabled:
            return fn(*args, **kwargs)
        from pyspark.sql import DataFrame

        span = self._open(layer, name)
        try:
            out = fn(*args, **kwargs)
            if isinstance(out, DataFrame):
                out = out.persist()
                out.write.format("noop").mode("overwrite").save()
                self._held.append(out)
                span["rows"] = plan_rows(out)
            return out
        finally:
            self._close(span)

    @contextmanager
    def parent(self, name: str):
        """Groups the spans of one operation under one parent span."""
        if not self.enabled:
            yield
            return
        span = self._open("op", name)
        try:
            yield
        finally:
            self._close(span)

    def release(self) -> None:
        """Unpersist the outputs materialized at span boundaries."""
        for df in self._held:
            df.unpersist()
        self._held.clear()

    def dump(self, path: Path, extra: dict) -> None:
        path.write_text(json.dumps({"spans": self.spans, **extra}, indent=1))


def plan_rows(df) -> dict:
    """Operator name → output rows summed over the executed plan of a
    materialized DataFrame, descending into adaptive stages and into the
    cached plan behind the DataFrame itself (not into cached inputs, whose
    work belongs to earlier spans)."""
    out: dict = {}
    entered = []

    def walk(node) -> None:
        metrics = node.metrics()
        if metrics.contains("numOutputRows"):
            name = node.nodeName()
            out[name] = out.get(name, 0) + metrics.apply("numOutputRows").value()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            kids = [node.executedPlan()]
        elif cls.endswith("QueryStageExec"):
            kids = [node.plan()]
        elif cls == "InMemoryTableScanExec":
            kids = [] if entered else [node.relation().cachedPlan()]
            entered.append(node)
        else:
            seq = node.children()
            kids = [seq.apply(i) for i in range(seq.size())]
        for k in kids:
            walk(k)

    walk(df._jdf.queryExecution().executedPlan())
    return out


def read_event_log(log_dir: Path, app_id: str) -> dict:
    """Per-span counters from one application's event log."""
    path = next(p for p in log_dir.iterdir() if p.name.startswith(app_id))
    stage_span: dict[int, int] = {}
    per_span: dict[int, dict] = defaultdict(lambda: defaultdict(float))

    def span_of(group: str | None) -> int | None:
        if group and group.startswith("span-"):
            return int(group[5:])
        return None

    with open(path, encoding="utf-8") as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"].rsplit(".", 1)[-1]
            if kind == "SparkListenerJobStart":
                sid = span_of(e.get("Properties", {}).get(_GROUP))
                if sid is None:
                    continue
                per_span[sid]["jobs"] += 1
                for st in e["Stage IDs"]:
                    stage_span.setdefault(st, sid)
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(e["Stage ID"])
                tm = e.get("Task Metrics")
                if sid is None or tm is None:
                    continue
                c = per_span[sid]
                c["tasks"] += 1
                c["task_s"] += tm["Executor Run Time"] / 1000.0
                c["gc_s"] += tm["JVM GC Time"] / 1000.0
                c["shuffle_write_mb"] += \
                    tm["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 2**20
                c["spill_mb"] += tm["Disk Bytes Spilled"] / 2**20
            elif kind == "SparkListenerSQLExecutionStart":
                sid = span_of(e.get("jobGroupId"))
                if sid is None:
                    continue
                # the first frame of the call site names the Dataset action
                action = e.get("details", "").split("(", 1)[0].rsplit(".", 1)[-1]
                per_span[sid][f"action.{action}"] += 1
    return {sid: dict(c) for sid, c in per_span.items()}


def fold(spans: list[dict], counters: dict, cores: int) -> dict:
    """Per-layer totals: ``{layer: {field: value}}`` for every layer."""
    out = {layer: dict.fromkeys(LAYER_FIELDS, 0.0) for layer in LAYERS}
    for s in spans:
        if s["layer"] not in out:
            continue
        row = out[s["layer"]]
        row["wall_s"] += s["end"] - s["start"]
        c = counters.get(s["id"], {})
        for f in ("jobs", "tasks", "task_s", "gc_s", "shuffle_write_mb",
                  "spill_mb"):
            row[f] += c.get(f, 0.0)
    for row in out.values():
        row["floor_s"] = row["wall_s"] - row["task_s"] / cores
    return out


def span_counter(spans: list[dict], counters: dict, layer: str, name: str,
                 key: str) -> float:
    """Sum of one event-log counter over the spans of ``layer`` called ``name``."""
    return sum(counters.get(s["id"], {}).get(key, 0.0) for s in spans
               if s["layer"] == layer and s["name"] == name)


def span_rows(spans: list[dict], layer: str, name: str, node: str) -> float:
    """Output rows of plan operator ``node`` over the spans of ``layer``
    called ``name``."""
    return float(sum(s.get("rows", {}).get(node, 0) for s in spans
                     if s["layer"] == layer and s["name"] == name))
