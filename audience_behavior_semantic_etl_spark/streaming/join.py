"""Stream-stream INTERVAL join — two live event streams joined on a
key plus an event-time range condition, the streaming form of the
reference's attribution join (``SURVEY.md §2.4`` J2: the
goals-to-pageviews equi+time-theta ``dataFrameEx`` join,
``AcmeGoalsETL.scala``). In the reference that join runs once a day
over full-day folders; here both sides arrive incrementally and the
match is emitted the moment the partner row lands.

Execution model (why this scales): Spark hash-shuffles BOTH streams on
the join key, so each state-store partition holds only its key range;
per-key buffered state is bounded by watermark-delay + the join's time
range — rows older than ``watermark - range`` can never match a future
partner and are evicted. State therefore grows with event RATE ×
disorder bound, never with stream history. An inner join emits each
match exactly once, in whichever micro-batch completes the pair, so
matches spanning micro-batches (a view in batch 0, its purchase in
batch 2) come out naturally — no sentinel/flush machinery is needed
because emission is match-driven, not watermark-driven (contrast the
windowed aggregates in ``windowed.py``).

As everywhere in this repo's streaming suite, the bounded drain uses an
``availableNow`` trigger with a watermark covering the directory's full
event-time span, making the finished result equal to the batch interval
join — which is exactly the DuckDB oracle. Production deployments set
the real disorder bound instead, shrinking state accordingly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from audience_behavior_semantic_etl_spark.streaming.drain import run_sink, span_watermark


def stream_stream_interval_join(
    spark: SparkSession,
    src_dir: str,
    key_col: str,
    ts_col: str,
    left_filter: str,
    right_filter: str,
    range_seconds: int,
    extra_cols: tuple[str, ...] = (),
    watermark: str | None = None,
    max_files_per_trigger: int = 2,
    state_shuffle_partitions: int = 8,
    progress: list | None = None,
) -> DataFrame:
    """Join two filtered views of the event stream in ``src_dir``:
    left rows (``left_filter``) match right rows (``right_filter``)
    with the same ``key_col`` and ``right.ts`` in
    ``[left.ts, left.ts + range_seconds]`` (end-INCLUSIVE, matching
    SQL BETWEEN so the oracle is a plain interval join).

    Returns the drained distributed result with columns
    ``key, l_ts, r_ts, *extra_cols`` (extra cols prefixed ``l_``/``r_``),
    timestamps formatted as strings for engine-stable comparison.
    """
    static = spark.read.parquet(src_dir)
    if watermark is None:
        # the right side must also tolerate range_seconds of skew vs
        # the left watermark before its rows can be state-evicted
        _, watermark = span_watermark(static, ts_col, range_seconds)

    def side(prefix: str, cond: str) -> DataFrame:
        s = (
            spark.readStream.schema(static.schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(src_dir)
            .filter(cond)
            .select(
                F.col(key_col).alias(f"{prefix}_key"),
                F.col(ts_col).cast("timestamp").alias(f"{prefix}_ts"),
                *[F.col(c).alias(f"{prefix}_{c}") for c in extra_cols],
            )
        )
        return s.withWatermark(f"{prefix}_ts", watermark)

    left, right = side("l", left_filter), side("r", right_filter)
    joined = left.join(
        right,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {int(range_seconds)} SECONDS")),
        "inner",
    ).select(
        F.col("l_key").alias(key_col),
        F.date_format("l_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("l_ts"),
        F.date_format("r_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("r_ts"),
        *[F.col(f"l_{c}") for c in extra_cols],
        *[F.col(f"r_{c}") for c in extra_cols],
    )
    # A stream-stream join maintains FOUR state stores per shuffle
    # partition (keyToNumValues / keyWithIndexToValue x both sides),
    # and every store pays a per-batch checkpoint commit regardless of
    # row volume — so the state partition count is a capacity knob
    # (sized once for peak rate x disorder bound; it is frozen into
    # the checkpoint at first batch), NOT a per-batch compute knob.
    # Left at the session's batch-oriented shuffle.partitions (32+)
    # the fixed commit cost dominates small micro-batches 10x over.
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_shuffle_partitions))
    try:
        return run_sink(joined, progress)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
