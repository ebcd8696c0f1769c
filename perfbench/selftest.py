"""Negative test of the benchmark's oracle check: corrupted tables must fail.

    python3 perfbench/selftest.py

Replays a small fixture into a table, checks that `run.check_tables` (the
check every benchmark run ends with) passes it, then corrupts copies of the
table through `SnapshotTable.merge` at an LSN above every event and checks
that each one is caught: a changed content, a deleted row and an extra row.
It also checks that the Spark-side and oracle-side fingerprints agree on a
frame with NULLs. Exits 0 when every case behaves, 1 otherwise.
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import prep  # noqa: E402
import run  # noqa: E402

BIG_LSN = 10**15


def corrupt(spark, d: str, kind: str) -> None:
    from pyspark.sql import functions as F

    table = run.new_table(d)[0]
    row = table.read(spark).orderBy("repo", "path").limit(1)
    if kind == "content":
        batch = row.withColumn("content", F.concat(F.col("content"), F.lit("!")))
        op = "update"
    elif kind == "delete":
        batch, op = row, "delete"
    else:  # an extra key
        batch = row.withColumn("path", F.concat(F.col("path"), F.lit(".extra")))
        op = "insert"
    batch = batch.withColumn("content_sha256", F.sha2(F.col("content"), 256))
    table.merge(spark, batch.withColumn("op", F.lit(op))
                .withColumn("lsn", F.lit(BIG_LSN)))


def main() -> int:
    import pandas as pd

    from check import compare, spark_fingerprint
    from hdata_spark.fixtures import (generate_base, generate_events,
                                      oracle_final_state, sha256_fingerprint)

    def oracle_fingerprint(df) -> dict:
        return {"rows": len(df), "fp": sha256_fingerprint(df)}
    from hdata_spark.session import get_spark

    work = os.path.join(prep.STATE, "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cfg = prep._fixture_cfg(seed=5, n_repos=20, base_rows=500, events=4_000,
                            epoch_size=2_000)
    base, events = generate_base(cfg), generate_events(cfg)
    base.to_parquet(os.path.join(work, "base.parquet"), index=False)
    events.to_parquet(os.path.join(work, "events.parquet"), index=False)
    oracle = oracle_fingerprint(oracle_final_state(base, events))

    run.confine(work)
    host = run.host_settings(work)
    spark = get_spark("perfbench-selftest", cpus=host["cpus"],
                      shuffle_partitions=host["shuffle_partitions"],
                      extra_conf=run.spark_conf(work, 0, trace=False))
    failures = []
    try:
        rp, _ = run.engine_modules()
        good = os.path.join(work, "good")
        table, ledger, metrics, registry = run.load_base(
            spark, good, os.path.join(work, "base.parquet"))
        rp.replay(spark, spark.read.parquet(os.path.join(work, "events.parquet")),
                  table, ledger, metrics, registry, rp.ReplayConfig())

        ops = run.Ops()
        run.check_tables(spark, [good], oracle, ops)
        if ops.failed:
            failures.append("the uncorrupted table failed the check")
        for kind in ("content", "delete", "extra"):
            d = os.path.join(work, kind)
            shutil.copytree(good, d)
            corrupt(spark, d, kind)
            ops = run.Ops()
            run.check_tables(spark, [d], oracle, ops)
            if ops.failed != 1:
                failures.append(f"a table with a corrupted {kind} passed the check")

        frame = pd.DataFrame({"repo": ["r", "r"], "path": ["a", "b"],
                              "commit": ["c", None], "lang": [None, "go"],
                              "content": ["x", None]})
        if compare(spark_fingerprint(spark.createDataFrame(frame)),
                   oracle_fingerprint(frame)):
            failures.append("Spark and oracle fingerprints differ on NULLs")
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        print(f"selftest FAILED: {f}")
    print("selftest", "failed" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
