"""perfbench: end-to-end and per-layer benchmark of the hdata_spark CDC engine.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 15 --trace 0

Drives the engine only through its public calls (`replay`, `stream_replay`,
`SnapshotTable.overwrite` / `.read`, `ReplayConfig`) in one process at
`local[nproc]`, as one closed-loop client, then checks every final table
against `fixtures.oracle_final_state`. Fixtures and oracle results come from
`prep.py`, run in a child process to completion before Spark starts.

`--trace 0` prints the end-to-end metrics. `--trace 1` runs the same work
with the outside-in tracer (tracer.py) and the Spark event log on, prints a
per-layer table and reports the per-layer metrics. The last line of stdout
is one JSON object: {"correct", "attempted", "failed", "metrics"}. The exit
code is 1 when any operation failed or any table differs from the oracle,
and 2 when the engine is not next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import prep  # noqa: E402  (sibling module; imports nothing heavy)

SETUPS = 3  # set-up is repeated; setup_s is the median
# Consumer-query repeats; the per-layer snapshot.read_s is their median. The
# backfill read of a table without delta files is short, so it takes more.
READS = {"backfill": 5, "tail": 3}


# ---------------- host-derived settings ----------------


def host_settings(work: str) -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    # A quarter of the host's memory, 1-8 GB: local mode runs every task in
    # the driver JVM, and the host is shared.
    driver_mb = max(1024, min(8192, mem_kb // 1024 // 4))
    with open("/proc/mounts") as f:
        mounts = [l.split()[1:3] for l in f]
    fs = max((m for m in mounts if work.startswith(m[0].rstrip("/") + "/")),
             key=lambda m: len(m[0]), default=["/", "?"])
    return {
        "cpus": cpus,
        "shuffle_partitions": 2 * cpus,
        "driver_memory": f"{driver_mb}m",
        "mem_total_mb": mem_kb // 1024,
        # The benchmark may write only inside its checkout, so the Spark
        # work and shuffle dirs stay there; the filesystem type says whether
        # that is tmpfs.
        "work_fs": fs[1],
        "n_buckets": prep.N_BUCKETS,
    }


def confine(work: str) -> None:
    """Point the temp and scratch dirs of this process, its children and the
    JVMs they launch (the Spark launcher and the driver) into `work`.
    -XX:-UsePerfData keeps the JVMs from writing hsperfdata under /tmp."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def spark_conf(work: str, setup: int, trace: bool) -> dict:
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog", f"s{setup}")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            # Spark 4.1 writes zstd by default; keep the log plain JSON.
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


# ---------------- engine plumbing ----------------


class Ops:
    """Attempted / failed operation counts. An operation is an epoch or
    segment apply, a read, or an oracle check."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def fail(self, n: int, what: str) -> None:
        self.failed += n
        print(f"perfbench: FAILED {what}", file=sys.stderr, flush=True)


def engine_modules():
    """The replay and stream_replay modules. (`hdata_spark.streaming`
    re-exports functions of the same names, which shadow the submodules as
    package attributes.)"""
    import importlib

    return (importlib.import_module("hdata_spark.streaming.replay"),
            importlib.import_module("hdata_spark.streaming.stream_replay"))


def new_table(d: str):
    from hdata_spark.plans.schema_registry import SchemaRegistry
    from hdata_spark.sinks.snapshot import SnapshotTable
    from hdata_spark.streaming import CommitLedger, MetricsLog

    return (
        SnapshotTable(os.path.join(d, "table"), n_buckets=prep.N_BUCKETS),
        CommitLedger(os.path.join(d, "ledger")),
        MetricsLog(os.path.join(d, "metrics")),
        SchemaRegistry(state_path=os.path.join(d, "registry.json")),
    )


def load_base(spark, d: str, base_path: str):
    t = new_table(d)
    t[0].overwrite(spark, spark.read.parquet(base_path))
    return t


def consumer_query(spark, table) -> list:
    """The fixed read every workload ends with: per-language live rows,
    repos and content bytes over `SnapshotTable.read()`."""
    from pyspark.sql import functions as F

    return (
        table.read(spark)
        .groupBy("lang")
        .agg(F.count("*").alias("rows"), F.countDistinct("repo").alias("repos"),
             F.sum(F.length("content")).alias("bytes"))
        .collect()
    )


def warm_up(workload: str, spark, warm: str, d: str) -> None:
    """Warm the path the workload times, on the seed-independent slice and
    an empty table: a batch replay with the schema changes and compaction
    (backfill) or a WAL tail whose last commit compacts (tail). The COW
    merge path is warmed by the base loads (`overwrite` is a merge into an
    empty table), and the first consumer read stays cold: snapshot.read_s
    is a median. A merge replay in the warm-up did not make the first timed
    merge unit faster, so there is none."""
    rp, sr = engine_modules()
    table, ledger, metrics, registry = new_table(d)
    if workload == "backfill":
        rp.replay(spark, spark.read.parquet(os.path.join(warm, "events.parquet")),
                  table, ledger, metrics, registry, rp.ReplayConfig())
        return
    segs = sorted(os.listdir(os.path.join(warm, "segments")))
    cfg = rp.ReplayConfig(stream_compact_delta_files=prep.N_BUCKETS * (len(segs) - 1))
    wal = os.path.join(d, "wal")
    os.makedirs(wal)
    for name in segs:
        land(os.path.join(warm, "segments", name), wal)
        sr.stream_replay(spark, wal, table, ledger, metrics, registry,
                         os.path.join(d, "ckpt"), cfg, max_files_per_trigger=1)


def land(src: str, wal: str) -> None:
    """Land one WAL segment atomically (hidden temp name, then rename)."""
    name = os.path.basename(src)
    tmp = os.path.join(wal, f".{name}.tmp")
    shutil.copyfile(src, tmp)
    os.replace(tmp, os.path.join(wal, name))


def parquet_bytes(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if fn.endswith(".parquet"):
                p = os.path.join(dirpath, fn)
                out[p] = os.path.getsize(p)
    return out


def live_file_bytes(table_root: str) -> int:
    """Bytes of the files the current manifest references."""
    from layers import current_manifest_path

    with open(current_manifest_path(table_root)) as f:
        m = json.load(f)
    return sum(os.path.getsize(os.path.join(table_root, f))
               for fs in m["buckets"].values() for f in fs)


# ---------------- workloads ----------------


def run_backfill(spark, fx: str, tables: list[str], ops: Ops, tracer) -> dict:
    """`units` replays of the fixture, each into a fresh base-loaded table,
    alternating the sink commit mode (`prep.sink_mode`)."""
    rp, _ = engine_modules()

    w = prep.WORKLOADS["backfill"]
    events_path = os.path.join(fx, "events.parquet")
    walls = {"append": [], "merge": []}
    written = 0
    for u, d in enumerate(tables):
        mode = prep.sink_mode(u)
        before = parquet_bytes(os.path.join(d, "table"))
        table, ledger, metrics, registry = new_table(d)
        ops.attempted += w["epochs"]
        t0 = time.perf_counter()
        try:
            out = rp.replay(spark, spark.read.parquet(events_path), table,
                            ledger, metrics, registry,
                            rp.ReplayConfig(sink_commit=mode))
        except Exception:
            traceback.print_exc()
            ops.fail(w["epochs"], f"{mode} replay into {d}")
            continue
        dt = time.perf_counter() - t0
        if out.get("epochs_applied") != w["epochs"]:
            ops.fail(w["epochs"], f"replay applied {out.get('epochs_applied')} epochs")
        walls[mode].append(dt)
        after = parquet_bytes(os.path.join(d, "table"))
        written += sum(s for p, s in after.items() if p not in before)
        if tracer is not None:
            tracer.sample_jvm()
    print("perfbench replay_s: " + json.dumps(
        {m: [round(x, 3) for x in v] for m, v in walls.items()}), flush=True)
    return {
        # A replay() call commits all its epochs: MOR fast-appends plus the
        # end-of-run compaction (append), or one COW MERGE per epoch (merge).
        "commits": walls["append"],
        "rewrites": walls["merge"],
        "timed_s": sum(walls["append"]) + sum(walls["merge"]),
        "written_bytes": written,
        "payload_units": len(walls["append"]) + len(walls["merge"]),
    }


def run_tail(spark, fx: str, d: str, ops: Ops, tracer) -> dict:
    """Closed loop: land one segment, call stream_replay on the same
    checkpoint, wait for it to return, repeat."""
    rp, sr = engine_modules()

    w = prep.WORKLOADS["tail"]
    table, ledger, metrics, registry = new_table(d)
    cfg = rp.ReplayConfig(
        stream_compact_delta_files=prep.N_BUCKETS * (w["compact_every"] - 1))
    wal, ckpt = os.path.join(d, "wal"), os.path.join(d, "ckpt")
    os.makedirs(wal)
    segs = [os.path.join(fx, "segments", n)
            for n in sorted(os.listdir(os.path.join(fx, "segments")))]
    before = parquet_bytes(table.root)
    compacting, walls = [], []
    for seg in segs:
        ops.attempted += 1
        t0 = time.perf_counter()
        try:
            if tracer is not None:
                with tracer.span("land_segment", "bench"):
                    land(seg, wal)
            else:
                land(seg, wal)
            sr.stream_replay(spark, wal, table, ledger, metrics, registry,
                             ckpt, cfg, max_files_per_trigger=1)
        except Exception:
            traceback.print_exc()
            ops.fail(1, f"segment {os.path.basename(seg)}")
            continue
        dt = time.perf_counter() - t0
        walls.append(dt)
        if table.delta_file_count() == 0:
            compacting.append(dt)
        if tracer is not None:
            tracer.sample_jvm()
    after = parquet_bytes(table.root)
    print("perfbench commit_s: " + json.dumps(
        [round(w, 3) for w in walls]), flush=True)
    return {
        "commits": walls,
        "rewrites": compacting,
        "timed_s": sum(walls),
        "written_bytes": sum(s for p, s in after.items() if p not in before),
        "payload_units": 1,
    }


def check_tables(spark, tables: list[str], oracle: dict, ops: Ops) -> None:
    """Compare each final table with the oracle (row count + content-sha256
    fingerprint); a mismatch or an exception is a failed operation."""
    from check import compare, spark_fingerprint

    for d in tables:
        ops.attempted += 1
        try:
            why = compare(spark_fingerprint(new_table(d)[0].read(spark)), oracle)
        except Exception as exc:
            traceback.print_exc()
            why = f"check raised {type(exc).__name__}"
        if why:
            ops.fail(1, f"oracle check of {os.path.basename(d)}: {why}")


# ---------------- main ----------------


def fail_setup(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> None:
    ap = argparse.ArgumentParser(description="hdata_spark CDC benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(prep.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "hdata_spark", "__init__.py")):
        fail_setup(f"no hdata_spark package next to {HERE}; run from a checkout")

    work = os.path.join(prep.STATE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    confine(work)
    host = host_settings(work)
    os.environ["SPARK_DRIVER_MEMORY"] = host["driver_memory"]
    sys.path.insert(0, ROOT)
    units = prep.units_for(args.workload, args.seconds)
    try:
        # Fixture, oracle and warm slice are built (or found cached) in a
        # child process before Spark starts; none of it counts as set-up.
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "prep.py"), "--workload",
             args.workload, "--seed", str(args.seed), "--units", str(units)],
            cwd=ROOT, stdout=subprocess.PIPE, text=True,
        )
        if p.returncode != 0:
            fail_setup(f"prep exited with code {p.returncode}")
        dirs = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"perfbench prep: {time.perf_counter() - t0:.2f} s", flush=True)
        result = measure(args, units, dirs["warm"], dirs["fixture"], work, host)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


def measure(args, units, warm, fx, work, host) -> dict:
    from hdata_spark.session import get_spark

    trace = bool(args.trace)
    print("perfbench config: " + json.dumps(
        {"workload": args.workload, "seed": args.seed, "units": units,
         "setups": SETUPS, "reads": READS[args.workload], **host}),
          flush=True)
    # ---- set-up, repeated: session start + base load ----
    # The first set-up is the cold one: it launches the JVM, warms the
    # workload's paths on the pre-written slice, and its base load is the
    # first (cold) merge; cold_start_s is its time. Every set-up pays a
    # session start and a base load; setup_s is the median of all of them.
    setup_s, session_s = [], []
    spark = None
    try:
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark(f"perfbench-{args.workload}", cpus=host["cpus"],
                              shuffle_partitions=host["shuffle_partitions"],
                              extra_conf=spark_conf(work, i, trace))
            t1 = time.perf_counter()
            if i == 0:
                warm_up(args.workload, spark, warm, os.path.join(work, "warm"))
            t2 = time.perf_counter()
            template = os.path.join(work, f"base{i}")
            load_base(spark, template, os.path.join(fx, "base.parquet"))
            t3 = time.perf_counter()
            session_s.append(t1 - t0)
            setup_s.append(t3 - t0)
            print(f"perfbench setup {i}: session {t1 - t0:.2f} s, warm-up "
                  f"{t2 - t1:.2f} s, base load {t3 - t2:.2f} s", flush=True)
        with open(os.path.join(fx, "oracle.json")) as f:
            oracle = json.load(f)
        return timed(args, units, spark, fx, oracle, work, trace, template,
                     setup_s, session_s)
    finally:
        if spark is not None:
            stop_spark(spark)


def timed(args, units, spark, fx, oracle, work, trace, template, setup_s,
          session_s) -> dict:
    # Fresh base-loaded tables for each backfill unit: file copies of the
    # last set-up's table (manifests hold table-relative paths).
    if args.workload == "backfill":
        tables = []
        for u in range(units):
            d = os.path.join(work, f"unit{u}")
            shutil.copytree(template, d)
            tables.append(d)
    else:
        tables = [template]

    tracer = None
    if trace:
        from tracer import Tracer

        tracer = Tracer()
        tracer.install(spark)

    ops = Ops()
    jvm_gc0 = jvm_gc_ms(spark)
    cpu0 = jvm_cpu_s(spark)
    steal0 = cpu_steal_ticks()
    root = tracer.span("timed_phase", "bench") if tracer else nullcontext()
    with root as root_rec:
        if args.workload == "backfill":
            run = run_backfill(spark, fx, tables, ops, tracer)
        else:
            run = run_tail(spark, fx, tables[0], ops, tracer)
    jvm_gc_s = (jvm_gc_ms(spark) - jvm_gc0) / 1000.0
    jvm_cpu = jvm_cpu_s(spark) - cpu0
    # Host context for reading the timings: the share of CPU time the
    # hypervisor took from this VM during the timed phase.
    steal1 = cpu_steal_ticks()
    # The timed phase of a traced and an untraced run of the same seed
    # differ by the tracing overhead.
    print(f"perfbench timed phase: {run['timed_s']:.3f} s; host steal "
          f"{(steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]):.1%} of CPU "
          f"time; JVM CPU {jvm_cpu:.1f} s", flush=True)

    # ---- consumer reads on the end state ----
    final_root = os.path.join(tables[-1], "table")
    table = new_table(tables[-1])[0]
    reads = []
    read_root = tracer.span("read_phase", "bench") if tracer else nullcontext()
    with read_root as read_rec:
        for _ in range(READS[args.workload]):
            ops.attempted += 1
            t0 = time.perf_counter()
            try:
                consumer_query(spark, table)
            except Exception:
                traceback.print_exc()
                ops.fail(1, "consumer read")
                continue
            reads.append(time.perf_counter() - t0)
    driver_rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm_peak_rss_mb = jvm_rss_mb(spark)
    if tracer is not None:
        tracer.uninstall()

    # ---- oracle check of every final table (outside timing) ----
    check_tables(spark, tables, oracle, ops)

    if not trace:
        metrics = end_to_end(run, setup_s, oracle, final_root, driver_rss_mb, ops)
    else:
        import layers

        spark.stop()  # closes the event log
        spans_path = os.path.join(
            prep.STATE, "out", f"spans-{args.workload}-s{args.seed}.jsonl")
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        tracer.write(spans_path)
        metrics = layers.per_layer(
            tracer, root_rec, read_rec,
            os.path.join(work, "eventlog", f"s{SETUPS - 1}"),
            n_units=units, session_start_s=session_s[0], read_times=reads,
            final_root=final_root,
            jvm={"peak_rss_mb": jvm_peak_rss_mb, "gc_s": jvm_gc_s, "cpu_s": jvm_cpu,
                 "heap_after_gc_max_mb": tracer.heap_after_gc_max_mb},
        )
        print(f"perfbench spans: {spans_path}")
    return {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }


def end_to_end(run, setup_s, oracle, final_root, driver_rss_mb, ops) -> dict:
    def m(value, unit):
        return {"value": value, "unit": unit}

    out = {"setup_s": m(statistics.median(setup_s), "s"),
           "cold_start_s": m(setup_s[0], "s")}
    units = run["payload_units"]
    out["events_per_s"] = m(oracle["events"] * units / run["timed_s"], "1/s")
    payload = oracle["payload_bytes"] * units
    out["commit_p50_s"] = m(statistics.median(run["commits"]), "s")
    out["rewrite_commit_p50_s"] = m(statistics.median(run["rewrites"]), "s")
    out["space_amp"] = m(live_file_bytes(final_root) / oracle["live_bytes"], "ratio")
    out["write_amp"] = m(run["written_bytes"] / payload, "ratio")
    out["driver_rss_mb"] = m(driver_rss_mb, "MB")
    out["ok_frac"] = m((ops.attempted - ops.failed) / ops.attempted, "ratio")
    return out


def cpu_steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole VM so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def jvm_gc_ms(spark) -> int:
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(max(0, b.getCollectionTime())
               for b in mf.getGarbageCollectorMXBeans())


def jvm_pid(spark) -> int:
    return spark._jvm.java.lang.ProcessHandle.current().pid()


def jvm_cpu_s(spark) -> float:
    with open(f"/proc/{jvm_pid(spark)}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def jvm_rss_mb(spark) -> float:
    with open(f"/proc/{jvm_pid(spark)}/status") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
    return kb / 1024.0


if __name__ == "__main__":
    main()
