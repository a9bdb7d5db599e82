"""Custom STATEFUL streaming sessionization via
``applyInPandasWithState`` — the arbitrary-stateful-operator tier of
Structured Streaming, beyond what watermarked windows/dedup can
express (a session's extent is data-dependent: it closes only when the
event-time watermark passes ``last_event + gap``).

Reference parity: the reference's Sessionize is a custom stateful
generator over a sorted partition (Sessionize.scala — SURVEY.md §2.7);
the batch re-expression lives in ``operators/sessionize.py``. This
module is the STREAMING form of the same gap rule, with state that a
100 TB deployment can actually run:

- grouped on the session key, so state lives on the shuffle partition
  that owns the key — executor-count scalable like every other stage;
- per-key state = the event-time buffer of the OPEN horizon only:
  every closed session is emitted and its events dropped from state the
  moment the watermark passes ``session_end + gap``. State size is
  ∝ rate × (watermark delay + gap) per key, independent of stream
  length — the same bound dropDuplicatesWithinWatermark gives dedup.
- late rows beyond the watermark are dropped by Spark before the
  function runs (append-mode stateful contract), so the gap rule never
  sees an event that could reopen an already-emitted session: emission
  is exactly-once per session.

Event-time semantics (same rule as the batch operator): events for a
key, sorted by event time, belong to one session while each successive
gap is <= ``gap``; a larger gap starts a new session. Out-of-order
arrivals WITHIN the watermark horizon are handled exactly: events
buffer in state and sessionization happens on the sorted buffer at
every evaluation, so arrival order never changes the result — the
drained output is bit-equal to the batch operator on the same data
(pinned by test and by the driver-contract oracle).

Bounded-drain flush: one sentinel staged by ``streaming/drain.py``
advances the watermark past every real session's ``last + gap``; in
Spark's no-data micro-batch that follows, the final open sessions time
out and emit (explained there once). The sentinel file counts toward
``files_per_trigger``.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from audience_behavior_semantic_etl_spark.streaming.drain import (
    run_sink,
    span_watermark,
    stage_source,
)
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

STATE_SCHEMA = StructType([StructField("buf", ArrayType(LongType()))])


def _out_schema(key_col: str) -> StructType:
    return StructType(
        [
            StructField(key_col, LongType()),
            StructField("session_start", LongType()),  # epoch seconds
            StructField("session_end", LongType()),
            StructField("n_events", LongType()),
        ]
    )


def _split_sessions(ts_sorted: list[int], gap_s: int) -> list[tuple[int, int, int]]:
    """Gap rule over SORTED epoch-second timestamps ->
    (start, end, n_events) per session."""
    out = []
    start = prev = ts_sorted[0]
    n = 1
    for t in ts_sorted[1:]:
        if t - prev > gap_s:
            out.append((start, prev, n))
            start, n = t, 0
        prev = t
        n += 1
    out.append((start, prev, n))
    return out


def _make_fn(gap_s: int):
    """The per-key stateful kernel. State is one row: the sorted open
    event-time buffer. Closed sessions (watermark past end+gap) are
    emitted and their events dropped from the buffer — state holds the
    open horizon only."""

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: Any) -> Iterator[pd.DataFrame]:
        buf: list[int] = list(state.get[0]) if state.exists else []
        if not state.hasTimedOut:
            for pdf in pdfs:
                # tolist() yields Python ints from the int64 column in
                # one C call — the per-element int(v) generator was the
                # hottest line of the per-key kernel (guide §4.2)
                buf.extend(pdf["__evt_s"].tolist())
        if not buf:
            state.remove()
            return
        wm_now = state.getCurrentWatermarkMs()
        mn = min(buf)
        if (mn + gap_s) * 1000 >= wm_now:
            # FAST PATH: the earliest possible session end is min(buf),
            # so nothing can close yet — the common case for every
            # mid-stream batch (the watermark trails the open horizon).
            # Skip the sort + gap-split entirely; the buffer is stored
            # as-appended (every slow-path evaluation sorts before
            # splitting, so order in state is free) and the timeout is
            # set to the earliest instant anything COULD close
            # ((min+gap), conservative: a spurious wake re-checks and
            # lands back here or in the slow path — never early/late
            # emission). Cuts the per-key Python work of a buffering
            # batch from O(buffer) sort+scan to two C-speed passes.
            state.update((buf,))
            state.setTimeoutTimestamp(max((mn + gap_s) * 1000, wm_now + 1))
            return
        buf.sort()
        # STRICT millisecond compare: Spark's late-row filter admits rows
        # with event time == watermark, so an event arriving at exactly
        # t == end+gap (== watermark) can still extend this session under
        # the batch gap rule (which breaks only on gaps > gap). Closing
        # with <= on floored seconds would emit the session one event too
        # early — a boundary event would then open a SECOND session,
        # breaking bit-equality with the batch operator. Close only when
        # the watermark has strictly passed end+gap, matching the
        # EventTimeTimeout fire condition.
        wm_ms = state.getCurrentWatermarkMs()
        sessions = _split_sessions(buf, gap_s)
        closed = [s for s in sessions if (s[1] + gap_s) * 1000 < wm_ms]
        kept = [s for s in sessions if (s[1] + gap_s) * 1000 >= wm_ms]
        if kept:
            keep_from = kept[0][0]  # sessions are time-ordered
            state.update(([t for t in buf if t >= keep_from],))
            # wake when the watermark can close the oldest open session;
            # a kept session exactly AT the boundary must not set a
            # timeout <= watermark (Spark rejects it) — bump past it.
            state.setTimeoutTimestamp(max((kept[0][1] + gap_s) * 1000, wm_ms + 1))
        else:
            state.remove()
        if closed:
            yield pd.DataFrame(
                {
                    "k": [key[0]] * len(closed),
                    "session_start": [s[0] for s in closed],
                    "session_end": [s[1] for s in closed],
                    "n_events": [s[2] for s in closed],
                }
            )

    return fn


def streaming_sessionize(
    spark: SparkSession,
    src_dir: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    delay: str | None = None,
    files_per_trigger: int = 4,
    progress: list | None = None,
) -> DataFrame:
    """Drain ``src_dir`` (parquet) as a stream and emit every closed
    session ``(key, session_start, session_end, n_events)`` through a
    file sink (no driver-side result collect). ``delay`` is the
    watermark horizon; default covers the directory's full event-time
    span so no real row is ever late and the drained result is
    bit-equal to the batch gap rule — production streams would set the
    real disorder bound instead (state shrinks accordingly).

    CONSTRAINT: ``key_col`` values must be NON-NEGATIVE. The bounded-
    drain flush injects a sentinel row under key ``-1`` and the final
    read filters ``key >= 0`` to strip it; a deployment whose key
    domain includes negative values must remap keys first (or replace
    the sentinel mechanism with a marker column)."""
    gap_s = gap_minutes * 60
    static = spark.read.parquet(src_dir)
    hi, span_delay = span_watermark(static, ts_col)
    delay = delay or span_delay

    srcd, _ = stage_source(
        src_dir, ts_col, hi, delay, f"{gap_s} seconds", {key_col: -1}
    )
    src = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(srcd)
    )
    events = (
        src.withColumn("__evt", F.col(ts_col).cast("timestamp"))
        .withWatermark("__evt", delay)
        .withColumn("__evt_s", F.col("__evt").cast("long"))
        .select(key_col, "__evt", "__evt_s")
    )
    sessions = events.groupBy(F.col(key_col)).applyInPandasWithState(
        _make_fn(gap_s),
        outputStructType=_out_schema("k"),
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )
    return (
        run_sink(sessions, progress)
        .filter(F.col("k") >= 0)  # sentinel key is -1
        .withColumnRenamed("k", key_col)
    )
