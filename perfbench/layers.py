"""Per-layer metrics of a traced run: spans joined with Spark stage metrics.

Layers are named after `hdata_spark` modules. A layer's time is the self
time of its spans (duration minus the part its child spans cover), so the
self times of every span under the timed phase, plus the timed phase's own
self time (`unattributed`: the benchmark loop between engine calls), sum to
the timed phase exactly.
"""

from __future__ import annotations

import json
import os
import statistics

from tracer import credit_stages, read_event_log, self_times, subtree

MB = 1024 * 1024
STAGE_WRITES = ("parquet@_apply_run", "parquet@apply_change_batch")
ERROR_LAYERS = {
    "replay.errors": "streaming.replay",
    "stream.errors": "streaming.stream_replay",
    "snapshot.errors": "sinks.snapshot",
    "ledger.errors": "streaming.ledger",
    "metrics.errors": "streaming.metrics",
    "registry.errors": "plans.schema_registry",
    "spark.errors": "spark",
}


def per_layer(tracer, root_rec, read_rec, log_dir, n_units, session_start_s,
              read_times, final_root, jvm) -> dict:
    spans = tracer.spans
    credit_stages(spans, read_event_log(log_dir))
    selfs = self_times(spans)
    phase = subtree(spans, root_rec["id"])
    reads = subtree(spans, read_rec["id"])

    def named(names, pool=phase):
        return [s for s in pool if s["name"] in names]

    def dur(ss):
        return sum(s["t1"] - s["t0"] for s in ss)

    def self_sum(ss):
        return sum(selfs[s["id"]] for s in ss)

    def incl(ss, key):
        """Sum of a stage metric over the spans' whole subtrees."""
        seen = {}
        for s in ss:
            for t in subtree(spans, s["id"]):
                seen[t["id"]] = t
        return sum(t[key] for t in seen.values())

    stage = named(STAGE_WRITES)
    stream_calls = named({"stream_replay"})
    compacts = named({"SnapshotTable.compact"})
    merges = named({"SnapshotTable.merge"})
    changes = named({"SchemaRegistry.apply_change"})
    timed_s = root_rec["t1"] - root_rec["t0"]
    unattributed = selfs[root_rec["id"]]

    out = {
        "session.start_s": (session_start_s, "s"),
        "replay.bounds_s": (dur(named({"collect@replay"})), "s"),
        "replay.metrics_agg_s": (dur(named({"collect@_run_metrics"})), "s"),
        "replay.schema_s": (dur(named({"collect@_apply_schema_changes",
                                       "SnapshotTable.evolve_schema"})), "s"),
        "replay.self_s": (self_sum(named({"replay"})), "s"),
        "stage.write_s": (dur(stage), "s"),
        "stage.jobs": (sum(s["jobs"] for s in stage), "count"),
        "stage.tasks": (sum(s["tasks"] for s in stage), "count"),
        "stage.task_s": (sum(s["task_ms"] for s in stage) / 1000.0, "s"),
        "stage.shuffle_write_mb": (sum(s["shuffle_write"] for s in stage) / MB, "MB"),
        "stage.spill_mb": (sum(s["spill"] for s in stage) / MB, "MB"),
        "stage.gc_s": (sum(s["gc_ms"] for s in stage) / 1000.0, "s"),
        "stream.call_self_s": (
            self_sum(named({"stream_replay", "apply_change_batch"})), "s"),
        "stream.profile_scan_s": (dur(named({"count@stream_replay"})), "s"),
        "stream.footer_stats_s": (dur(named({"delta_footer_stats"})), "s"),
        "stream.jobs_per_segment": (
            incl(stream_calls, "jobs") / len(stream_calls) if stream_calls else 0.0,
            "count"),
        "snapshot.compact_s": (dur(compacts), "s"),
        "snapshot.compactions": (len(compacts), "count"),
        "snapshot.compact_write_mb": (incl(compacts, "output") / MB, "MB"),
        "snapshot.compact_shuffle_mb": (incl(compacts, "shuffle_write") / MB, "MB"),
        "snapshot.merge_s": (dur(merges), "s"),
        "snapshot.merge_write_mb": (incl(merges, "output") / MB, "MB"),
        "snapshot.merge_shuffle_mb": (incl(merges, "shuffle_write") / MB, "MB"),
        "snapshot.register_deltas_s": (
            dur(named({"SnapshotTable.register_deltas"})), "s"),
        "snapshot.manifest_kb": (
            os.path.getsize(current_manifest_path(final_root)) / 1024.0, "KB"),
        "snapshot.delta_files_max": (_delta_files_max(final_root), "count"),
        "snapshot.commit_conflicts": (
            sum(1 for s in phase if s["error"] == "ConcurrentCommitError"), "count"),
        # Median time of the consumer query on the end state (per-layer
        # only: too noisy across runs to gate).
        "snapshot.read_s": (
            statistics.median(read_times) if read_times else 0.0, "s"),
        "snapshot.read_shuffle_mb": (
            incl([read_rec], "shuffle_write") / MB / max(1, len(
                named({"SnapshotTable.read"}, reads))), "MB"),
        "ledger.commit_s": (dur(named({"CommitLedger.commit"})), "s"),
        "metrics.append_s": (dur(named({"MetricsLog.append"})), "s"),
        "registry.apply_s": (dur(changes), "s"),
        "registry.changes": (len(changes), "count"),
        "bench.land_s": (dur(named({"land_segment"})), "s"),
        "jvm.peak_rss_mb": (jvm["peak_rss_mb"], "MB"),
        "jvm.heap_after_gc_max_mb": (jvm["heap_after_gc_max_mb"], "MB"),
        "jvm.gc_s": (jvm["gc_s"], "s"),
        "jvm.cpu_s": (jvm["cpu_s"], "s"),
        "trace.timed_s": (timed_s, "s"),
        "trace.unattributed_s": (unattributed, "s"),
        "trace.unattributed_frac": (unattributed / timed_s, "ratio"),
        "trace.bookkeeping_s": (tracer.bookkeeping_s, "s"),
        "trace.spans": (len(spans), "count"),
    }
    for name, layer in ERROR_LAYERS.items():
        n = sum(1 for s in phase if s["layer"] == layer and s["error"])
        if layer == "spark":
            n += sum(s["failed_tasks"] for s in phase)
        out[name] = (n, "count")
    _print_table(phase, selfs, timed_s, unattributed, n_units)
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def _manifests(table_root: str) -> list[dict]:
    d = os.path.join(table_root, "manifests")
    out = []
    for fn in sorted(os.listdir(d)):
        if fn.endswith(".json"):
            with open(os.path.join(d, fn)) as f:
                out.append(json.load(f))
    return out


def current_manifest_path(table_root: str) -> str:
    """The current manifest, from the table's on-disk format: the `_latest`
    pointer file names the version of `manifests/vNNNNNNNN.json`."""
    with open(os.path.join(table_root, "_latest")) as f:
        v = int(f.read().strip())
    return os.path.join(table_root, "manifests", f"v{v:08d}.json")


def _delta_files_max(table_root: str) -> int:
    return max((len(m.get("delta_files", [])) for m in _manifests(table_root)),
               default=0)


def _print_table(phase, selfs, timed_s, unattributed, n_units) -> None:
    rows: dict[tuple[str, str], dict] = {}
    for s in phase:
        r = rows.setdefault((s["layer"], s["name"]), dict(
            calls=0, self_s=0.0, jobs=0, tasks=0, task_s=0.0, shuffle=0, out=0))
        r["calls"] += 1
        r["self_s"] += selfs[s["id"]]
        r["jobs"] += s["jobs"]
        r["tasks"] += s["tasks"]
        r["task_s"] += s["task_ms"] / 1000.0
        r["shuffle"] += s["shuffle_write"]
        r["out"] += s["output"]
    print(f"perfbench per-layer table ({n_units} units; self times)")
    print(f"  {'layer':<26}{'span':<34}{'calls':>6}{'self_s':>9}{'share':>7}"
          f"{'jobs':>6}{'tasks':>7}{'task_s':>8}{'shufMB':>8}{'outMB':>8}")
    total = 0.0
    for (layer, name), r in sorted(rows.items(), key=lambda kv: -kv[1]["self_s"]):
        total += r["self_s"]
        label = "unattributed" if name == "timed_phase" else name
        print(f"  {layer:<26}{label:<34}{r['calls']:>6}{r['self_s']:>9.3f}"
              f"{r['self_s'] / timed_s:>7.1%}{r['jobs']:>6}{r['tasks']:>7}"
              f"{r['task_s']:>8.2f}{r['shuffle'] / MB:>8.1f}{r['out'] / MB:>8.1f}")
    print(f"  sum of self times {total:.3f} s = timed phase {timed_s:.3f} s; "
          f"unattributed {unattributed:.3f} s ({unattributed / timed_s:.1%})")
