"""Streaming deduplication with bounded state.

``dropDuplicatesWithinWatermark`` is the streaming analog of the CDC
engine's re-delivery dedup (cdc/apply.py LWW): the first row per key is
emitted immediately (append mode — no window wait), duplicates arriving
while the key's state lives are dropped, and state is EVICTED once the
event-time watermark passes ``event_ts + delay`` — so memory is bounded
by keys seen within the horizon, never total history.

The contract mirrors the snapshot table's tombstone-retention rule: the
``delay`` IS the source's re-delivery horizon. A duplicate re-delivered
with its original event time after the horizon has passed is dropped as
LATE DATA (below the watermark), not re-emitted — the same
"stale re-delivery cannot resurrect" guarantee the table enforces with
``_lsn`` tombstones, here enforced by the watermark.

At scale: state is hash-partitioned by key across executors by the
engine; the only knob that matters is the horizon (state size ∝ arrival
rate × delay).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from audience_behavior_semantic_etl_spark.streaming.drain import run_sink


def streaming_dedup(
    spark: SparkSession,
    src_dir: str,
    key_cols: list[str],
    ts_col: str = "ts",
    delay: str = "1 hour",
    files_per_trigger: int = 1,
    progress: list | None = None,
) -> DataFrame:
    """Drain ``src_dir`` (parquet files = arrival order by mtime) as a
    stream, emitting each key's FIRST row and dropping duplicates that
    arrive within ``delay`` of its event time. Returns the finished
    result from the file sink; ``progress`` receives the query progress
    dicts so callers can assert state eviction."""
    static = spark.read.parquet(src_dir)
    src = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(src_dir)
    )
    src = src.withColumn("__evt", F.col(ts_col).cast("timestamp"))
    deduped = (
        src.withWatermark("__evt", delay)
        .dropDuplicatesWithinWatermark(key_cols)
        .drop("__evt")
    )
    return run_sink(deduped, progress)
