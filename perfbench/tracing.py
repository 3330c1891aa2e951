"""Traced-run support: in-memory spans with self time, Spark action hooks,
and the event-log parser that yields per-layer engine counts.

Spans are recorded by the benchmark around calls into each layer's public
function; Spark is lazy, so a span only means something when the layer's
output is forced inside it.  Two mechanisms force and attribute work:

* the benchmark forces a layer's output itself (``df.write.format("noop")``
  or a parquet write) inside the layer's span;
* :class:`ActionHooks` wraps the DataFrame actions (parquet writes, count,
  collect) so that every Spark job a composed pipeline triggers gets its own
  child span, named after the action and its output directory, and carries
  that name as a Spark local property — the event log then attributes each
  job to its span.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    """Spans (id, name, start, end, parent, run id), kept in memory and
    written out once at the end of the run."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self.run_id = ""

    def tag(self, name: str) -> str:
        """The span name as Spark jobs carry it: qualified by run id, so the
        event log tells repeated iterations of one span apart."""
        return f"{name}#{self.run_id}"

    @contextmanager
    def span(self, name: str):
        with self._lock:
            sid = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            rec = {"id": sid, "name": name, "start": time.perf_counter(),
                   "end": None, "parent": parent, "run": self.run_id}
            self.spans.append(rec)
            self._stack.append(sid)
        try:
            yield rec
        finally:
            with self._lock:
                rec["end"] = time.perf_counter()
                self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of closed intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Per span id: its duration minus the part of its interval covered by
    its direct children (children clipped to the parent's interval)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in children.get(s["id"], ())
            if min(b, s["end"]) > max(a, s["start"])
        ]
        out[s["id"]] = (s["end"] - s["start"]) - _covered(clipped)
    return out


class ActionHooks:
    """Context manager that wraps DataFrameWriter.parquet/save and
    DataFrame.count/collect so each action becomes a child span of the
    current span, named ``<prefix>/<action>``, and tags the jobs it runs
    with that name as ``SPAN_PROPERTY``."""

    def __init__(self, tracer: Tracer, spark, prefix: str):
        self.tracer = tracer
        self.sc = spark.sparkContext
        self.prefix = prefix
        self._saved: list[tuple[type, str, object]] = []

    def _wrap(self, cls: type, attr: str, label) -> None:
        orig = getattr(cls, attr)
        tracer, sc, prefix = self.tracer, self.sc, self.prefix

        def wrapped(obj, *args, **kwargs):
            name = f"{prefix}/{label(args, kwargs)}"
            prev = sc.getLocalProperty(SPAN_PROPERTY)
            with tracer.span(name):
                sc.setLocalProperty(SPAN_PROPERTY, tracer.tag(name))
                try:
                    return orig(obj, *args, **kwargs)
                finally:
                    sc.setLocalProperty(SPAN_PROPERTY, prev)

        self._saved.append((cls, attr, orig))
        setattr(cls, attr, wrapped)

    def __enter__(self) -> "ActionHooks":
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame  # what sessions return

        def path_label(kind):
            def label(args, kwargs):
                path = args[0] if args else kwargs.get("path")
                return f"{kind}:{os.path.basename(str(path).rstrip('/'))}" if path else kind
            return label

        self._wrap(DataFrameWriter, "parquet", path_label("write"))
        self._wrap(DataFrameWriter, "save", path_label("save"))
        self._wrap(DataFrame, "count", lambda a, k: "count")
        self._wrap(DataFrame, "collect", lambda a, k: "collect")
        return self

    def __exit__(self, *exc) -> None:
        for cls, attr, orig in reversed(self._saved):
            setattr(cls, attr, orig)
        self._saved.clear()


@contextmanager
def tagged(spark, tracer: Tracer, name: str):
    """A span whose Spark jobs carry ``name`` as their span property."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty(SPAN_PROPERTY)
    with tracer.span(name) as rec:
        sc.setLocalProperty(SPAN_PROPERTY, tracer.tag(name))
        try:
            yield rec
        finally:
            sc.setLocalProperty(SPAN_PROPERTY, prev)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_PY_ROWS = "number of output rows"


def _plan_python_accumulators(plan: dict, acc: dict[str, set]) -> None:
    """Accumulator ids of the Python-boundary metrics of every plan node
    that exchanges data with Python workers."""
    metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if _PY_SENT in metrics:
        acc["sent"].add(metrics[_PY_SENT])
        if _PY_RECV in metrics:
            acc["recv"].add(metrics[_PY_RECV])
        if _PY_ROWS in metrics:
            acc["rows"].add(metrics[_PY_ROWS])
    for child in plan.get("children", []):
        _plan_python_accumulators(child, acc)


def read_event_log(events_dir: str) -> list[dict]:
    out = []
    for name in sorted(os.listdir(events_dir)):
        with open(os.path.join(events_dir, name)) as f:
            out.extend(json.loads(line) for line in f if line.strip())
    return out


def engine_counts(events: list[dict], select) -> dict:
    """Shuffle, spill, task-time, skew and Python-boundary counts over the
    jobs whose span property ``p`` satisfies ``select(p)``."""
    acc = {"sent": set(), "recv": set(), "rows": set()}
    stage_to_span: dict[int, str] = {}
    jobs = 0
    for ev in events:
        kind = ev.get("Event", "")
        if kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _plan_python_accumulators(ev.get("sparkPlanInfo", {}), acc)
        elif kind == "SparkListenerJobStart":
            span = (ev.get("Properties") or {}).get(SPAN_PROPERTY) or ""
            if select(span):
                jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_to_span[sid] = span
    out = {
        "jobs": jobs, "tasks": 0, "run_time_s": 0.0,
        "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
        "input_bytes": 0, "output_bytes": 0,
        "py_sent": 0, "py_recv": 0, "py_rows": 0,
        "input_bytes_by_span": {},
    }
    stage_tasks: dict[int, list[float]] = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        sid = ev.get("Stage ID")
        if sid not in stage_to_span:
            continue
        span = stage_to_span[sid]
        tm = ev.get("Task Metrics") or {}
        out["tasks"] += 1
        run_s = tm.get("Executor Run Time", 0) / 1000.0
        out["run_time_s"] += run_s
        stage_tasks.setdefault(sid, []).append(run_s)
        sw = tm.get("Shuffle Write Metrics") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        out["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        inb = (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
        outb = (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
        out["input_bytes"] += inb
        out["output_bytes"] += outb
        ib = out["input_bytes_by_span"]
        ib[span] = ib.get(span, 0) + inb
        for a in (ev.get("Task Info") or {}).get("Accumulables", []):
            aid, upd = a.get("ID"), a.get("Update")
            if not isinstance(upd, (int, float, str)):
                continue
            for key, ids in (("py_sent", acc["sent"]), ("py_recv", acc["recv"]),
                             ("py_rows", acc["rows"])):
                if aid in ids:
                    out[key] += int(upd)
    widest = max(stage_tasks.values(), key=len, default=[])
    med = statistics.median(widest) if widest else 0.0
    out["task_skew"] = (max(widest) / med) if med > 0 else 1.0
    return out
