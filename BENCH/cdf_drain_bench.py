"""Streaming CDF-source drain throughput: table -> readStream
(transcripts_cdf) -> parquet sink, availableNow.

Measures the NEW surface only (cdc/cdf_source.py): rows/sec delivered
through the Python DataSource -> Arrow RecordBatch path, and verifies
exactly-once (sink row count == applied row versions). Table build
time (the apply path) is reported separately and benchmarked by
BENCH/replay_bench.py — not part of the drain number.

Usage:
    python BENCH/cdf_drain_bench.py [--batches 8] [--convs-per-batch 20000] [--cpus 8]
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_table(spark, root: str, n_batches: int, convs_per_batch: int, turns: int):
    """An insert-only table of ``n_batches`` applies of
    ``convs_per_batch`` new conversations x ``turns`` turns."""
    from pyspark.sql import functions as F

    from audience_behavior_semantic_etl_spark.cdc.apply import ApplyConfig, apply_batch
    from audience_behavior_semantic_etl_spark.cdc.schema import ENVELOPE_SCHEMA
    from audience_behavior_semantic_etl_spark.cdc.table import SnapshotTable

    table = SnapshotTable.create(spark, root, n_buckets=16)
    cfg = ApplyConfig(app_id="cdfb", auto_compact=False, shuffle_partitions=16)
    for b in range(n_batches):
        lo = b * convs_per_batch
        env = (
            spark.range(lo * turns, (lo + convs_per_batch) * turns)
            .select(
                F.col("id").alias("lsn"),
                F.timestamp_seconds(F.lit(1735689600) + F.col("id"))
                .cast("timestamp_ntz")
                .alias("ts"),
                F.lit("insert").alias("op"),
                F.format_string("c%010d", (F.col("id") / turns).cast("long")).alias(
                    "conv_id"
                ),
                F.pmod(F.col("id"), F.lit(turns)).cast("int").alias("turn_idx"),
                F.to_json(
                    F.struct(
                        F.lit("user").alias("role"),
                        F.format_string("t%d", F.col("id")).alias("text"),
                        F.lit(None).cast("string").alias("tool"),
                        F.lit("2025-01-01T00:00:00").alias("ts"),
                    )
                ).alias("payload"),
                F.lit(1).alias("schema_ver"),
                F.lit(0).alias("source_part"),
            )
        )
        assert [f.name for f in ENVELOPE_SCHEMA.fields] == env.columns
        apply_batch(env, table, b, cfg)
    return table


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", type=int, default=8)
    ap.add_argument("--convs-per-batch", type=int, default=20000)
    ap.add_argument("--turns", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=8)
    args = ap.parse_args()

    from audience_behavior_semantic_etl_spark.session import get_spark
    from audience_behavior_semantic_etl_spark.cdc.cdf_source import TranscriptsCDF

    spark = get_spark(cpus=args.cpus, shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    spark.dataSource.register(TranscriptsCDF)
    work = tempfile.mkdtemp(
        prefix="cdfb-", dir="/dev/shm" if os.path.isdir("/dev/shm") else None
    )
    try:
        t0 = time.perf_counter()
        table = build_table(
            spark, os.path.join(work, "t"), args.batches, args.convs_per_batch, args.turns
        )
        build_secs = time.perf_counter() - t0
        events = args.batches * args.convs_per_batch * args.turns
        os.system("sync")
        t0 = time.perf_counter()
        q = (
            spark.readStream.format("transcripts_cdf")
            .option("path", table.root)
            .option("startingVersion", 0)
            .load()
            .writeStream.format("parquet")
            .option("path", f"{work}/sink")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        drain_secs = time.perf_counter() - t0
        delivered = spark.read.parquet(f"{work}/sink").count()
        out = {
            "metric": "cdf_drain_rows_per_sec",
            "value": round(delivered / drain_secs, 1),
            "unit": "rows/sec",
            "cpus": args.cpus,
            "events": events,
            "delivered": delivered,
            "exactly_once_ok": delivered == events,
            "drain_secs": round(drain_secs, 3),
            "table_build_secs": round(build_secs, 3),
        }
        print(json.dumps(out))
        return 0 if delivered == events else 1
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
