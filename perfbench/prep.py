"""Prep step: fixtures, oracle results and the warm slice, cached on disk.

Runs in its own process, to completion before the measured one starts
Spark, so fixture and oracle generation never count in set-up time or driver
memory and never compete with the measured process for CPU. Everything is keyed
by workload, seed, unit count and a hash of the workload config plus the
fixture generator's source, so a cached directory is reused only for
identical inputs.

    python3 perfbench/prep.py --workload tail --seed 3 --units 22

prints one JSON line: {"warm": <warm-slice dir>, "fixture": <fixture dir>}.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
CACHE = os.path.join(STATE, "cache")

N_BUCKETS = 16
# Key space and row shape shared by every fixture (CDCFixtureConfig fields):
# 300 paths per repo, two hot monorepos with 25x the paths, 40-token content.
SHAPE = dict(paths_per_repo=300, hot_repos=2, hot_factor=25, content_tokens=40)
# The backfill fixture and the warm slice's batch log carry three schema
# changes at seeded LSNs, so every replay runs the registry / evolve_schema
# path and splits into runs.
SCHEMA_CHANGES = (("add", "stars", "int"), ("rename", "stars", "stargazers"),
                  ("widen", "stargazers", "bigint"))

WORKLOADS = {
    # One unit = one replay() of the whole fixture into a fresh table. Units
    # alternate sink modes, starting with "append" (MOR fast-append per
    # epoch plus end-of-run compaction); every second one is "merge"
    # (per-epoch copy-on-write MERGE, no compaction).
    "backfill": dict(
        n_repos=500, base_rows=10_000, events=30_000, epochs=1,
        unit_s=3.5, min_units=4,
    ),
    # One unit = one WAL segment landed plus one stream_replay() call on
    # the same checkpoint; every `compact_every`-th commit compacts.
    "tail": dict(
        n_repos=250, base_rows=10_000, segment_events=10_000, compact_every=3,
        unit_s=2.2, min_units=6,
    ),
}

# Seed-independent warm slice, built once per checkout: a short event log
# with the schema changes for the batch path, and a few WAL segments for the
# stream path.
WARM = dict(n_repos=60, events=10_000, epochs=2,
            segments=2, segment_events=5_000, seed=1_000_003)

LOGICAL = ("repo", "path", "commit", "lang", "content")


def units_for(workload: str, seconds: int) -> int:
    """Deterministic work size: enough units to fill `seconds` at the
    nominal unit cost on a 4-vCPU host, never below the workload minimum.
    The backfill runs an even count, as many merge units as append ones, so
    it ends on a merge unit and its final read is of a table with no delta
    files. The tail runs whole compaction cycles, then one plain commit, so
    its final read finds delta files pending."""
    w = WORKLOADS[workload]
    n = max(w["min_units"], round(seconds / w["unit_s"]))
    step = w.get("compact_every")
    if step is None:
        return n + n % 2
    return max(2, round(n / step)) * step + 1


def sink_mode(unit: int) -> str:
    """Sink commit mode of backfill unit `unit`."""
    return "merge" if unit % 2 else "append"


def _config_key(payload: dict) -> str:
    h = hashlib.sha256(json.dumps(payload, sort_keys=True).encode())
    with open(os.path.join(ROOT, "hdata_spark", "fixtures.py"), "rb") as f:
        h.update(f.read())
    with open(__file__, "rb") as f:
        h.update(f.read())
    return h.hexdigest()[:12]


def _payload_bytes(df) -> int:
    """UTF-8 bytes of the logical columns (NULLs count 0)."""
    return sum(len(v.encode()) for c in LOGICAL for v in df[c] if v is not None)


def _fixture_cfg(seed: int, n_repos: int, base_rows: int, events: int,
                 epoch_size: int, schema_changes: tuple = ()):
    from hdata_spark.fixtures import CDCFixtureConfig

    return CDCFixtureConfig(
        seed=seed, n_repos=n_repos, base_rows=base_rows, n_events=events,
        epoch_size=epoch_size, schema_changes=schema_changes, **SHAPE,
    )


def _write_events(df, path: str) -> None:
    # Same layout as the repo's bench fixture: uncompressed, 50k-row groups.
    df.to_parquet(path, index=False, row_group_size=50_000, compression=None)


def _build(out: str, workload: str, seed: int, units: int) -> None:
    from hdata_spark.fixtures import (generate_base, generate_events,
                                      oracle_final_state, sha256_fingerprint)

    w = WORKLOADS[workload]
    if workload == "backfill":
        cfg = _fixture_cfg(seed, w["n_repos"], w["base_rows"], w["events"],
                           w["events"] // w["epochs"], SCHEMA_CHANGES)
    else:
        cfg = _fixture_cfg(seed, w["n_repos"], w["base_rows"],
                           units * w["segment_events"], w["segment_events"])
    base = generate_base(cfg)
    events = generate_events(cfg)
    base.to_parquet(os.path.join(out, "base.parquet"), index=False)
    if workload == "backfill":
        _write_events(events, os.path.join(out, "events.parquet"))
    else:
        seg_dir = os.path.join(out, "segments")
        os.makedirs(seg_dir)
        for k in range(units):
            lo = k * w["segment_events"]
            _write_events(
                events.iloc[lo:lo + w["segment_events"]],
                os.path.join(seg_dir, f"seg_{k:06d}.parquet"),
            )
    final = oracle_final_state(base, events)
    with open(os.path.join(out, "oracle.json"), "w") as f:
        json.dump({
            "rows": len(final),
            "fp": sha256_fingerprint(final),
            "events": int((events["op"] != "schema_change").sum()),
            "payload_bytes": _payload_bytes(events),
            "live_bytes": _payload_bytes(final),
        }, f)


def _build_warm(out: str) -> None:
    from hdata_spark.fixtures import generate_events

    n = WARM["events"]
    batch = generate_events(_fixture_cfg(WARM["seed"], WARM["n_repos"], 0, n,
                                         n // WARM["epochs"], SCHEMA_CHANGES))
    _write_events(batch, os.path.join(out, "events.parquet"))
    stream = generate_events(_fixture_cfg(WARM["seed"], WARM["n_repos"], 0, n,
                                          WARM["segment_events"]))
    seg_dir = os.path.join(out, "segments")
    os.makedirs(seg_dir)
    k_n = WARM["segment_events"]
    for k in range(WARM["segments"]):
        _write_events(stream.iloc[k * k_n:(k + 1) * k_n],
                      os.path.join(seg_dir, f"seg_{k:06d}.parquet"))


KEEP = 6  # cached fixtures kept per workload; older ones are evicted


def _cached(name: str, build) -> str:
    """Build into a temp dir and rename into place: a crashed prep never
    leaves a half-written directory under the final name."""
    out = os.path.join(CACHE, name)
    if os.path.isdir(out):
        os.utime(out)
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.replace(tmp, out)
    return out


def _evict(workload: str) -> None:
    mine = [os.path.join(CACHE, d) for d in os.listdir(CACHE)
            if d.startswith(f"{workload}-s") and ".tmp-" not in d]
    for d in sorted(mine, key=os.path.getmtime)[:-KEEP]:
        shutil.rmtree(d, ignore_errors=True)


def warm_slice() -> str:
    return _cached(f"warm-{_config_key({'warm': WARM, 'shape': SHAPE})}",
                   _build_warm)


def fixture(workload: str, seed: int, units: int) -> str:
    w = WORKLOADS[workload]
    key = _config_key({"workload": workload, "seed": seed, "units": units,
                       "w": w, "shape": SHAPE})
    out = _cached(f"{workload}-s{seed}-u{units}-{key}",
                  lambda d: _build(d, workload, seed, units))
    _evict(workload)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--units", type=int, required=True)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    print(json.dumps({"warm": warm_slice(),
                      "fixture": fixture(args.workload, args.seed, args.units)}))


if __name__ == "__main__":
    main()
