"""Commit-METADATA cost vs live-file count — the round-5 probe for the
delta-manifest split (VERDICT r4 "next round" #1).

Round 4 serialized the full live-file map into every commit's JSON, so
commit metadata cost grew O(live-files). Round 5 stores per-commit
deltas + periodic full rollups; this probe measures the pure metadata
path (no Spark, no data writes — exactly the part that used to scale
with the table) by committing synthetic file batches through
the apply commit's manifest machinery at growing live-file
counts and timing ``_commit`` + a cold ``manifest()`` read.

Pass criterion (VERDICT): 10x more live files -> ~same commit seconds.

Usage: python BENCH/manifest_bench.py [--files-per-commit 8]
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from audience_behavior_semantic_etl_spark.cdc import table as table_mod
from audience_behavior_semantic_etl_spark.cdc.table import Manifest, SnapshotTable


def _commit_synthetic(t: SnapshotTable, n_files: int, batch_id: int) -> float:
    """One append commit of n_files synthetic manifest entries through
    the real commit primitive (``_commit``: lock, mutate, manifest
    write); returns wall seconds of the metadata critical section (file adoption is bypassed — the
    probe isolates metadata cost from data I/O)."""
    snapshot = uuid.uuid4().hex
    rels = {
        str(b): [f"data/f-{snapshot}-{b}-{i}.parquet" for i in range(n_files // 16 or 1)]
        for b in range(16)
    }
    stats = {r: [f"c{batch_id:08d}", f"c{batch_id:08d}~"] for fs in rels.values() for r in fs}

    def mutate(m: Manifest) -> None:
        for b, fs in rels.items():
            m.buckets[b] = list(m.buckets.get(b, [])) + fs
        m.file_stats.update(stats)

    t0 = time.perf_counter()
    t._commit(
        mutate, lineage={"op": "probe"}, ledger=("probe", batch_id, {"0": batch_id})
    )
    return time.perf_counter() - t0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--files-per-commit", type=int, default=16)
    ap.add_argument("--levels", type=int, nargs="*", default=[1_000, 10_000, 100_000])
    args = ap.parse_args()

    out: dict[str, dict] = {}
    with tempfile.TemporaryDirectory(prefix="manifest-bench-") as root:
        # the metadata plane never touches the Spark session
        t = SnapshotTable.create(None, os.path.join(root, "t"), n_buckets=16)
        batch = 0
        live = 0
        for target in sorted(args.levels):
            # grow the table to the target live-file count
            while live < target:
                _commit_synthetic(t, args.files_per_commit, batch)
                batch += 1
                live += args.files_per_commit
            # measure a window of steady-state commits at this size
            times = []
            for _ in range(40):
                times.append(_commit_synthetic(t, args.files_per_commit, batch))
                batch += 1
                live += args.files_per_commit
            times.sort()
            # cold manifest read: cache cleared, reconstruct from disk
            table_mod._STATE_CACHE.clear()
            r0 = time.perf_counter()
            m = t.manifest()
            cold_read = time.perf_counter() - r0
            r0 = time.perf_counter()
            t.manifest()
            warm_read = time.perf_counter() - r0
            out[str(target)] = {
                "live_files": sum(len(fs) for fs in m.buckets.values()),
                "commit_p50_ms": round(times[len(times) // 2] * 1000, 3),
                "commit_p95_ms": round(times[int(len(times) * 0.95)] * 1000, 3),
                "cold_read_ms": round(cold_read * 1000, 3),
                "warm_read_ms": round(warm_read * 1000, 3),
            }
        lo, hi = str(min(args.levels)), str(max(args.levels))
        ratio = out[hi]["commit_p50_ms"] / max(out[lo]["commit_p50_ms"], 1e-9)
        print(json.dumps({
            "metric": "commit_metadata_ms_vs_live_files",
            "levels": out,
            "p50_ratio_largest_vs_smallest": round(ratio, 3),
            "files_per_commit": args.files_per_commit,
            "rollup_every": table_mod.ROLLUP_EVERY,
        }))


if __name__ == "__main__":
    main()
