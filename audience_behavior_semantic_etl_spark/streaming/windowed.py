"""Structured Streaming windowed aggregation — the idiomatic modern
expression of the reference's "autonomous daily pipeline" (SURVEY.md
§1.1: its only incrementality is daily S3 folder appends).

Event-time tumbling windows + watermark give the same daily/hourly
cube semantics incrementally, in APPEND mode: a window is emitted
exactly once, when the watermark passes its end, and its state is then
EVICTED — so the operator runs unbounded streams in bounded memory
(state size ∝ open windows, never total history). Complete mode +
memory sink would be the anti-pattern at scale: the watermark never
evicts, state and sink grow with every (window, key) group forever.

At 100 TB the source is Kafka and the sink a table; here the
availableNow trigger drains a bounded directory so results are
deterministic and oracle-checkable (the finished result equals the
batch GROUP BY).

Bounded-drain flush: the drained directory has no event after its
final windows, so ``streaming/drain.py`` stages one flush sentinel
that rides the last data micro-batch and advances the watermark past
them; Spark's no-data micro-batch then emits them (why, and where the
sentinel goes, is explained there once).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from audience_behavior_semantic_etl_spark.streaming.drain import (
    files_per_trigger,
    run_sink,
    span_watermark,
    stage_source,
)


def tumbling_window_counts(
    spark: SparkSession,
    src_dir: str,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_len: str = "1 hour",
    watermark: str = "1 hour",
    progress: list | None = None,
) -> DataFrame:
    """Drain ``src_dir`` (parquet) as a stream, counting events per
    (tumbling event-time window, key): append mode, watermark-evicted
    state, file sink — no driver-side collect of results. Returns the
    finished result as a DataFrame over the sink (window start
    formatted as a string for stable comparison). ``progress``, if
    given, receives the query's progress dicts (state-store metrics)
    so tests can assert eviction actually happened.
    """
    static = spark.read.parquet(src_dir)
    max_ts, _ = span_watermark(static, ts_col)
    srcd, n_files = stage_source(
        src_dir, ts_col, max_ts, watermark, window_len, {key_col: "__flush__"}
    )
    src = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", files_per_trigger(n_files, 1))
        .parquet(srcd)
    )
    # Watermarks need an instant; testdata timestamps are NTZ (session
    # TZ is UTC, so the cast is a pure reinterpretation).
    src = src.withColumn("__evt", F.col(ts_col).cast("timestamp"))
    agg = (
        src.withWatermark("__evt", watermark)
        .groupBy(F.window("__evt", window_len).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            F.col(key_col),
            F.col("n_events"),
        )
    )
    return run_sink(agg, progress).filter(F.col(key_col) != "__flush__")


def stream_static_enrich_counts(
    spark: SparkSession,
    src_dir: str,
    dim: DataFrame,
    key_col: str,
    dim_key_col: str,
    label_col: str,
    ts_col: str = "ts",
    window_len: str = "1 hour",
    watermark: str | None = None,
    progress: list | None = None,
) -> DataFrame:
    """STREAM-STATIC enrichment: the stream joins a small static
    dimension (read once, BROADCAST into every micro-batch — Structured
    Streaming's stream-static join, the streaming form of the
    reference's enrich-then-aggregate chain), then counts per (tumbling
    event-time window, dimension label) in append mode with
    watermark-evicted state and a file sink.

    The stream arrives over MULTIPLE micro-batches in arbitrary
    event-time order, so the default watermark covers the directory's
    full event-time span (no real row is ever late and the drained
    result equals the batch join+GROUP BY — production streams set the
    real disorder bound instead, shrinking state accordingly; same
    contract as streaming_sessionize). The join is LEFT OUTER with a
    final label-not-null filter (== inner-join semantics): an INNER
    join would let Catalyst push its join-key IS NOT NULL filter below
    the EventTimeWatermark node to the scan, killing the NULL-key flush
    sentinel BEFORE it can advance event time — the windows would
    then never close and the drain would emit nothing. With the outer
    join the sentinel survives to the watermark tracker (its label
    stays NULL and the final filter drops it from the output). The
    dim never enters the state store."""
    static = spark.read.parquet(src_dir)
    hi, span_delay = span_watermark(static, ts_col)
    watermark = watermark or span_delay
    # NULL join key: survives to the watermark tracker, dropped by the
    # label filter below
    srcd, n_files = stage_source(
        src_dir, ts_col, hi, watermark, window_len, {key_col: None}
    )
    src = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", files_per_trigger(n_files, 2))
        .parquet(srcd)
        .withColumn("__evt", F.col(ts_col).cast("timestamp"))
        .withWatermark("__evt", watermark)
    )
    joined = src.join(
        F.broadcast(dim), src[key_col] == dim[dim_key_col], "left_outer"
    )
    agg = (
        joined.groupBy(F.window("__evt", window_len).alias("w"), F.col(label_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            F.col(label_col),
            F.col("n_events"),
        )
    )
    # label NULL = the sentinel row (and any unmatched stream key) — the
    # filter restores inner-join semantics
    return run_sink(agg, progress).filter(F.col(label_col).isNotNull())
