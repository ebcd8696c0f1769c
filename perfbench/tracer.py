"""Outside-in tracer: spans around the engine's public calls and Spark's
entry points, credited with Spark's own task metrics from the event log.

Nothing in `hdata_spark` is edited. `install()` wraps:

- Spark entry points: `DataFrame.collect`, `DataFrame.count` and
  `DataFrameWriter.parquet`. Each span is named `<method>@<caller>`, where the
  caller is the nearest `hdata_spark` function on the Python stack (or the
  benchmark function when the engine is not on it), e.g.
  `parquet@_apply_run` or `count@stream_replay`.
- Engine public calls: `replay`, `stream_replay`, `apply_change_batch`,
  `delta_footer_stats` (also under the name `stream_replay.py` imported),
  `SnapshotTable` methods, `CommitLedger.commit`, `MetricsLog.append` and
  `SchemaRegistry.apply_change`.

Every span is set as the Spark job group while it is open, so the event log
(`spark.eventLog.enabled`, uncompressed) ties each stage to the span that
launched it. Stages whose job group is not a span (jobs started by the
streaming engine's own thread) are credited to the innermost span open at
their submission time. Spans stay in memory and are written out once, at the
end of the run.

Fused whole-stage-codegen pipelines hide per-operator time inside one job,
so the Spark-side numbers (tasks, task seconds, shuffle, spill, GC, bytes
written) come from the stage metrics, not from wall-clock timers alone.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from contextlib import contextmanager

_GROUP_PREFIX = "perfbench-span-"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._next_id = 0
        self._patches: list[tuple[object, str, object]] = []
        self._sc = None
        self._jvm = None
        self.heap_after_gc_max_mb = 0.0
        # Wall time spent in the tracer's own bookkeeping (span open/close,
        # stack walks, job-group calls): the in-process part of the tracing
        # overhead. The event-log writer's cost is in the JVM and shows as
        # the gap between a traced and an untraced run.
        self.bookkeeping_s = 0.0

    # ---------------- spans ----------------

    @contextmanager
    def span(self, name: str, layer: str):
        t_enter = time.perf_counter()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
            parent = self._stack[-1] if self._stack else None
            self._stack.append(sid)
        rec = {"id": sid, "name": name, "layer": layer, "parent": parent,
               "error": None}
        prev = None
        if self._sc is not None:
            prev = self._sc.getLocalProperty("spark.jobGroup.id")
            self._sc.setLocalProperty("spark.jobGroup.id", f"{_GROUP_PREFIX}{sid}")
        rec["t0"] = time.time()
        self.bookkeeping_s += time.perf_counter() - t_enter
        try:
            yield rec
        except BaseException as exc:
            rec["error"] = type(exc).__name__
            raise
        finally:
            rec["t1"] = time.time()
            t_exit = time.perf_counter()
            if self._sc is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", prev)
            with self._lock:
                self._stack.remove(sid)
                self.spans.append(rec)
            self.bookkeeping_s += time.perf_counter() - t_exit

    # ---------------- patching ----------------

    def _patch(self, owner, attr: str, wrapper_factory) -> None:
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapper_factory(original))

    def _wrap_call(self, name: str, layer: str):
        tracer = self

        def factory(fn):
            def wrapped(*args, **kwargs):
                with tracer.span(name, layer):
                    return fn(*args, **kwargs)

            wrapped.__wrapped__ = fn
            return wrapped

        return factory

    def _wrap_entry(self, method: str):
        tracer = self

        def factory(fn):
            def wrapped(*args, **kwargs):
                caller = _engine_caller(sys._getframe(1))
                with tracer.span(f"{method}@{caller}", "spark"):
                    return fn(*args, **kwargs)

            wrapped.__wrapped__ = fn
            return wrapped

        return factory

    def install(self, spark) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        import importlib

        def mod(name):  # package attributes shadow some submodule names
            return importlib.import_module(f"hdata_spark.{name}")

        snapshot = mod("sinks.snapshot")
        ledger = mod("streaming.ledger")
        metrics = mod("streaming.metrics")
        replay = mod("streaming.replay")
        stream_replay = mod("streaming.stream_replay")
        registry = mod("plans.schema_registry")

        self._sc = spark.sparkContext
        self._jvm = spark._jvm
        self._patch(DataFrame, "collect", self._wrap_entry("collect"))
        self._patch(DataFrame, "count", self._wrap_entry("count"))
        self._patch(DataFrameWriter, "parquet", self._wrap_entry("parquet"))
        self._patch(replay, "replay", self._wrap_call("replay", "streaming.replay"))
        self._patch(stream_replay, "stream_replay",
                    self._wrap_call("stream_replay", "streaming.stream_replay"))
        self._patch(stream_replay, "apply_change_batch",
                    self._wrap_call("apply_change_batch", "streaming.stream_replay"))
        footer = self._wrap_call("delta_footer_stats", "streaming.stream_replay")
        self._patch(snapshot, "delta_footer_stats", footer)
        # stream_replay.py imported the function by name: patch that binding.
        self._patch(stream_replay, "delta_footer_stats", footer)
        for meth in ("merge", "register_deltas", "compact", "overwrite",
                     "read", "evolve_schema"):
            self._patch(snapshot.SnapshotTable, meth,
                        self._wrap_call(f"SnapshotTable.{meth}", "sinks.snapshot"))
        self._patch(ledger.CommitLedger, "commit",
                    self._wrap_call("CommitLedger.commit", "streaming.ledger"))
        self._patch(metrics.MetricsLog, "append",
                    self._wrap_call("MetricsLog.append", "streaming.metrics"))
        self._patch(registry.SchemaRegistry, "apply_change",
                    self._wrap_call("SchemaRegistry.apply_change",
                                    "plans.schema_registry"))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()
        self._sc = None
        self._jvm = None

    def sample_jvm(self) -> None:
        """Track the peak of the heap left in use after the last GC."""
        mf = self._jvm.java.lang.management.ManagementFactory
        used = 0
        for pool in mf.getMemoryPoolMXBeans():
            if str(pool.getType().name()) == "HEAP":
                usage = pool.getCollectionUsage()
                if usage is not None:
                    used += usage.getUsed()
        self.heap_after_gc_max_mb = max(self.heap_after_gc_max_mb,
                                        used / (1024 * 1024))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: r["id"]):
                f.write(json.dumps(rec) + "\n")


def _engine_caller(frame) -> str:
    """Nearest `hdata_spark` function on the stack; else the nearest frame
    outside pyspark and this module (the benchmark's own caller)."""
    first_outside = None
    while frame is not None:
        mod = frame.f_globals.get("__name__", "")
        if mod.startswith("hdata_spark"):
            return frame.f_code.co_name
        if first_outside is None and not (
            mod.startswith("pyspark") or mod == __name__
        ):
            first_outside = frame.f_code.co_name
        frame = frame.f_back
    return first_outside or "?"


# ---------------- event log ----------------


def read_event_log(log_dir: str) -> list[dict]:
    """Per-stage Spark metrics from the (single, uncompressed) event log
    under `log_dir`: one dict per completed stage attempt."""
    logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    stages: dict[tuple[int, int], dict] = {}
    job_groups: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    with open(logs[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                job_groups[jid] = (ev.get("Properties") or {}).get(
                    "spark.jobGroup.id"
                )
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                stages[key] = {
                    "stage": info["Stage ID"],
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                    "submitted": info.get("Submission Time"),
                    "tasks": 0, "task_ms": 0, "gc_ms": 0, "shuffle_write": 0,
                    "spill": 0, "output": 0, "failed_tasks": 0,
                }
            elif kind == "SparkListenerTaskEnd":
                st = stages.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                if st is None:
                    continue
                st["tasks"] += 1
                if ev["Task End Reason"]["Reason"] != "Success":
                    st["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                st["task_ms"] += m.get("Executor Run Time", 0)
                st["gc_ms"] += m.get("JVM GC Time", 0)
                st["spill"] += m.get("Disk Bytes Spilled", 0)
                st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st["output"] += (m.get("Output Metrics") or {}).get(
                    "Bytes Written", 0
                )
    for st in stages.values():
        jid = stage_job.get(st["stage"])
        st["job"] = jid
        if st["group"] is None and jid is not None:
            st["group"] = job_groups.get(jid)
    return list(stages.values())


def credit_stages(spans: list[dict], stages: list[dict]) -> None:
    """Attach Spark stage metrics to spans (in place): by job group when the
    group is a span, else by submission time to the innermost open span."""
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        s.update(jobs=set(), tasks=0, task_ms=0, gc_ms=0,
                 shuffle_write=0, spill=0, output=0, failed_tasks=0)
    for st in stages:
        target = None
        g = st["group"]
        if g and g.startswith(_GROUP_PREFIX):
            target = by_id.get(int(g[len(_GROUP_PREFIX):]))
        if target is None and st["submitted"] is not None:
            t = st["submitted"] / 1000.0
            covering = [s for s in spans if s["t0"] <= t <= s["t1"]]
            if covering:
                target = max(covering, key=lambda s: s["t0"])
        if target is None:
            continue
        if st["job"] is not None:
            target["jobs"].add(st["job"])
        for k in ("tasks", "task_ms", "gc_ms", "shuffle_write", "spill",
                  "output", "failed_tasks"):
            target[k] += st[k]
    for s in spans:
        s["jobs"] = len(s["jobs"])


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = _union_length(
            [(max(c["t0"], s["t0"]), min(c["t1"], s["t1"]))
             for c in children.get(s["id"], [])]
        )
        out[s["id"]] = (s["t1"] - s["t0"]) - covered
    return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def subtree(spans: list[dict], root_id: int) -> list[dict]:
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root_id]
    by_id = {s["id"]: s for s in spans}
    while todo:
        sid = todo.pop()
        out.append(by_id[sid])
        todo.extend(k["id"] for k in kids.get(sid, []))
    return out
