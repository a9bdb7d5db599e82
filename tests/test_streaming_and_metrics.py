"""Unit tests for the streaming windowed op, metric-layer resolution
(M5 analog), and the WAL source module."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def test_metric_layers_resolve_and_error(spark):
    from audience_behavior_semantic_etl_spark.operators.metrics import (
        MetricAnalysisError,
        add_metric_layers,
        resolve_metric_layers,
    )

    df = spark.createDataFrame([(1, 2.0), (2, 3.0)], "a int, b double")
    layers = resolve_metric_layers(df, {"m2": "m1 * 10", "m1": "a + b"})
    assert [sorted(layer) for layer in layers] == [["m1"], ["m2"]]
    out = add_metric_layers(df, {"m2": "m1 * 10", "m1": "a + b"}).orderBy("a").collect()
    assert out[0]["m2"] == 30.0

    with pytest.raises(MetricAnalysisError):
        resolve_metric_layers(df, {"bad": "no_such_col + 1"})

    # ambiguity detection (MetricResolver.scala:162-165): a metric name
    # shadowing an input column (case-insensitive, Spark resolution) or
    # another metric is rejected up front
    with pytest.raises(MetricAnalysisError, match="ambiguous"):
        resolve_metric_layers(df, {"a": "b * 2"})
    with pytest.raises(MetricAnalysisError, match="ambiguous"):
        resolve_metric_layers(df, {"m1": "a + b", "M1": "a - b"})


@pytest.mark.parametrize(
    "kwargs, want",
    [
        ({}, {("2025-01-01 00:00:00", "a"): 2, ("2025-01-01 01:00:00", "b"): 1}),
        (
            {"watermark": "12 hours"},
            {("2025-01-01 00:00:00", "a"): 2, ("2025-01-01 01:00:00", "b"): 1},
        ),
        (
            {"window_len": "1 day"},
            {("2025-01-01 00:00:00", "a"): 2, ("2025-01-01 00:00:00", "b"): 1},
        ),
    ],
    ids=["default", "watermark_12h", "window_1d"],
)
def test_tumbling_window_counts_equals_batch(spark, tmp_path, kwargs, want):
    """The drained result equals the batch windows whatever the
    watermark delay and window length: the flush sentinels must land
    past both."""
    from audience_behavior_semantic_etl_spark.streaming.windowed import tumbling_window_counts

    src = str(tmp_path / "ev")
    df = spark.createDataFrame(
        [("2025-01-01 00:10:00", "a"), ("2025-01-01 00:50:00", "a"), ("2025-01-01 01:10:00", "b")],
        "ts string, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    df.write.mode("overwrite").parquet(src)

    got = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in tumbling_window_counts(spark, src, **kwargs).collect()
    }
    assert got == want


def test_tumbling_window_state_is_evicted(spark, tmp_path):
    """Append mode must actually close windows: by end-of-drain the
    state store holds only the flush sentinels — NOT one row per
    (window, key) group forever (the complete-mode anti-pattern)."""
    from audience_behavior_semantic_etl_spark.streaming.windowed import (
        tumbling_window_counts,
    )

    src = str(tmp_path / "ev")
    rows = [(f"2025-01-01 {h:02d}:{m:02d}:00", k) for h in range(10) for m in (5, 25) for k in ("a", "b")]
    df = spark.createDataFrame(rows, "ts string, event_type string").withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    )
    df.write.mode("overwrite").parquet(src)

    prog: list = []
    out = tumbling_window_counts(spark, src, progress=prog)
    assert out.count() == 20  # 10 hours x 2 keys
    state_rows = [
        p["stateOperators"][0]["numRowsTotal"] for p in prog if p.get("stateOperators")
    ]
    assert state_rows, "no state metrics reported"
    assert state_rows[-1] <= 2, f"state not evicted: {state_rows}"
    assert max(state_rows) >= 20, "windows never entered state (wrong source?)"


def _events(spark, path, n_files: int):
    """Write 600 seeded events (``user_id``, ``ts``, ``event_type``)
    over two days, with gaps both under and over 30 minutes, as
    ``n_files`` parquet files with increasing mtimes (the file source
    orders arrivals by mtime). Returns the directory and the frame."""
    import os
    import random
    from datetime import datetime, timedelta

    rng = random.Random(5)
    t0 = datetime(2025, 1, 1)
    rows = [
        (rng.randrange(20), t0 + timedelta(seconds=rng.randrange(2 * 86400)), rng.choice("abc"))
        for _ in range(600)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp_ntz, event_type string")
    df.repartition(n_files).write.parquet(path)
    parts = sorted(p for p in os.listdir(path) if p.endswith(".parquet"))
    assert len(parts) == n_files
    for i, p in enumerate(parts):
        os.utime(os.path.join(path, p), (1_700_000_000 + i,) * 2)
    return path, spark.read.parquet(path)


def _window_rows(df, key_col: str) -> set:
    return {
        (r["window_start"], r[key_col], r["n_events"])
        for r in df.select("window_start", key_col, "n_events").collect()
    }


def _batch_windows(df, key_col: str):
    return df.groupBy(
        F.window(F.col("ts").cast("timestamp"), "1 hour").alias("w"), key_col
    ).agg(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        F.count(F.lit(1)).alias("n_events"),
    )


def test_tumbling_drain_of_one_file_takes_two_triggers(spark, tmp_path):
    """The flush sentinel rides the data micro-batch and Spark's no-data
    micro-batch emits the final windows: a one-file tumbling drain
    takes exactly 2 triggers, and its result equals the batch windows."""
    from audience_behavior_semantic_etl_spark.streaming.windowed import (
        tumbling_window_counts,
    )

    src, ev = _events(spark, str(tmp_path / "src"), 1)
    prog: list = []
    out = tumbling_window_counts(spark, src, progress=prog)
    want = _batch_windows(ev, "event_type")
    assert _window_rows(out, "event_type") == _window_rows(want, "event_type")
    assert len(prog) == 2, [p["numInputRows"] for p in prog]


def test_enrich_drain_of_four_arrivals_takes_three_triggers(spark, tmp_path):
    """Four arrival files drain in two data micro-batches, the sentinel
    riding the second, plus the no-data one: exactly 3 triggers, and
    the result equals the batch join + windows."""
    from audience_behavior_semantic_etl_spark.streaming.windowed import (
        stream_static_enrich_counts,
    )

    srcd, ev = _events(spark, str(tmp_path / "src"), 4)
    # keys 0-19 against a 15-row dim: unmatched keys drop, as in an inner join
    dim = spark.createDataFrame(
        [(i, f"label-{i % 7}") for i in range(15)], "dk long, label string"
    )

    prog: list = []
    out = stream_static_enrich_counts(
        spark, srcd, dim, key_col="user_id", dim_key_col="dk", label_col="label",
        progress=prog,
    )
    want = _batch_windows(ev.join(dim, ev["user_id"] == dim["dk"]), "label")
    assert _window_rows(out, "label") == _window_rows(want, "label")
    assert len(prog) == 3, [p["numInputRows"] for p in prog]


def test_drain_refuses_disabled_no_data_batches(spark):
    """A bounded drain emits its final windows in Spark's no-data
    micro-batch; with that batch disabled it would silently return
    none, so the drain refuses to start."""
    from audience_behavior_semantic_etl_spark.streaming.drain import run_sink

    conf = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(conf, "false")
    try:
        with pytest.raises(ValueError, match=conf):
            run_sink(spark.readStream.format("rate").load())
    finally:
        spark.conf.unset(conf)


def test_wal_source_roundtrip(spark, tmp_path):
    from audience_behavior_semantic_etl_spark.cdc.gen import GenConfig, generate_change_log, write_wal_chunks
    from audience_behavior_semantic_etl_spark.sources import read_wal

    log = generate_change_log(GenConfig(seed=3, n_convs=10))
    wal = str(tmp_path / "wal")
    write_wal_chunks(log, wal, n_chunks=2)
    df = read_wal(spark, wal)
    assert df.count() == len(log)
    assert df.schema["lsn"].dataType.simpleString() == "bigint"


def test_etl_process_dag(spark, tmp_path):
    """M1-M4 parity: topo execution, persist as partitioned parquet,
    temp-view registration, cycle detection."""
    import pytest as _pytest

    from audience_behavior_semantic_etl_spark.plans.etl_process import ETLProcess, ETLStep

    raw = ETLStep("raw", "source rows", lambda _: spark.range(10).withColumn("k", F.col("id") % 2))
    enriched = ETLStep(
        "enriched", "adds doubled", lambda d: d["raw"].withColumn("x2", F.col("id") * 2),
        inputs=("raw",),
    )
    agg = ETLStep(
        "agg", "per-k sums", lambda d: d["enriched"].groupBy("k").sum("x2"),
        inputs=("enriched",),
        persist_path=str(tmp_path / "cube"),
        partition_by=("k",),
        register_as="agg_view",
    )
    proc = ETLProcess([agg, enriched, raw])  # deliberately unordered
    assert proc.topo_order().index("raw") < proc.topo_order().index("agg")
    out = proc.run()
    assert out["agg"].count() == 2
    assert spark.table("agg_view").count() == 2
    assert spark.read.parquet(str(tmp_path / "cube")).count() == 2
    assert "agg <- ['enriched']" in proc.describe()

    bad = ETLStep("a", "", lambda d: d["b"], inputs=("b",))
    bad2 = ETLStep("b", "", lambda d: d["a"], inputs=("a",))
    with _pytest.raises(ValueError, match="cycle"):
        ETLProcess([bad, bad2]).topo_order()


def test_json_ingest_poison_policy(spark, tmp_path):
    """Raw-JSON ingest follows the CDC poison-message policy: explicit
    schema, FAILFAST by default, quarantine splits corrupt lines."""
    import pytest as _pytest
    from pyspark.sql import types as T

    from audience_behavior_semantic_etl_spark.sources.json_ingest import (
        read_json_events,
        split_corrupt,
    )

    d = tmp_path / "raw"
    d.mkdir()
    (d / "part-0.json").write_text(
        '{"event_id": 1, "event_type": "click"}\n'
        "{this is not json\n"
        '{"event_id": 2, "event_type": "view"}\n'
    )
    schema = T.StructType(
        [T.StructField("event_id", T.LongType()), T.StructField("event_type", T.StringType())]
    )
    with _pytest.raises(Exception):
        read_json_events(spark, str(d), schema=schema).collect()

    clean, corrupt = split_corrupt(
        read_json_events(spark, str(d), schema=schema, on_malformed="quarantine")
    )
    assert sorted(r["event_id"] for r in clean.collect()) == [1, 2]
    assert corrupt.count() == 1


def test_daily_cubes_pipeline(spark, tmp_path):
    """The AcmeDailyETL-style multi-cube DAG: all five cubes build from
    one event stream, persisted cubes land partitioned on disk and are
    queryable as temp views, and the goals cube carries the full
    goal-metric family (rank / sessions-to-goal / time-to-goal /
    multi-touch)."""
    import os

    from audience_behavior_semantic_etl_spark.plans.daily_cubes import build_daily_cubes

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = str(tmp_path / "cubes")
    proc = build_daily_cubes(spark, events, out)
    resolved = proc.run()

    n_sessions = resolved["sd_session_metrics"].count()
    assert n_sessions > 0
    # persisted + partitioned + registered
    assert any(d.startswith("sd_month=") for d in os.listdir(f"{out}/sd_session_metrics"))
    assert spark.table("sd_session_metrics").count() == n_sessions
    assert spark.table("sd_goals").count() == resolved["sd_goals"].count() > 0

    g = resolved["sd_goals"]
    for c in (
        "impact_event_group_rank",
        "sd_sessions_to_goal",
        "sd_time_to_goal",
        "sd_multi_touch_attr_revenue",
    ):
        assert c in g.columns
    # invariants: rank 1 exists per goal; multi-touch shares of one goal
    # sum back to its revenue; remaining-counter ends at 0
    one = g.groupBy("g_event_id").agg(
        F.min("impact_event_group_rank").alias("rk_min"),
        F.min("sd_sessions_to_goal").alias("remain_min"),
        F.round(F.sum("sd_multi_touch_attr_revenue"), 4).alias("share_sum"),
        F.round(F.max("g_revenue"), 4).alias("rev"),
    )
    bad = one.filter(
        (F.col("rk_min") != 1) | (F.col("remain_min") != 0) | (F.col("share_sum") != F.col("rev"))
    )
    assert bad.count() == 0, bad.limit(5).collect()
    # user cube consistency: total sessions match
    assert (
        resolved["sd_user_metrics"].agg(F.sum("n_sessions")).collect()[0][0] == n_sessions
    )
    # M4 showETLPlan: every step's physical plan renders without running
    plan = build_daily_cubes(spark, events, str(tmp_path / "cubes2")).show_plan()
    assert "== step: sd_goals ==" in plan and "Window" in plan


def test_stateful_running_counts(spark, tmp_path):
    """applyInPandasWithState carries per-key state ACROSS micro-batches:
    final running totals equal the batch group-by, with multiple batches
    forced via maxFilesPerTrigger-sized chunks."""
    from audience_behavior_semantic_etl_spark.cdc.gen import (
        GenConfig,
        generate_change_log,
        write_wal_chunks,
    )
    from audience_behavior_semantic_etl_spark.streaming.stateful import running_turn_counts

    log = generate_change_log(GenConfig(seed=5, n_convs=15))
    wal = str(tmp_path / "wal")
    write_wal_chunks(log, wal, n_chunks=4)

    got = {
        r["conv_id"]: r["n_turns_total"] for r in running_turn_counts(spark, wal).collect()
    }
    expect = (
        log[log["op"] != "schema_change"].groupby("conv_id").size().to_dict()
    )
    assert got == expect


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """First occurrence per key is emitted; duplicates within the
    horizon are dropped; a re-delivery whose ORIGINAL event time is
    already below the watermark is dropped as late data (the streaming
    analog of the table's tombstone re-delivery rule)."""
    import os
    import time

    import pandas as pd

    from audience_behavior_semantic_etl_spark.streaming.dedup import streaming_dedup

    src = tmp_path / "src"
    src.mkdir()
    t0 = pd.Timestamp("2025-01-01 00:00:00")

    def write(name, rows, mtime):
        pdf = pd.DataFrame(rows, columns=["k", "ts", "v"])
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        df = spark.createDataFrame(pdf)
        d = str(tmp_path / ("stage-" + name))
        df.coalesce(1).write.mode("overwrite").parquet(d)
        part = next(p for p in os.listdir(d) if p.endswith(".parquet"))
        dst = str(src / f"{name}.parquet")
        os.rename(os.path.join(d, part), dst)
        os.utime(dst, (mtime, mtime))

    now = time.time()
    # batch 1: ten keys, each duplicated in-batch
    rows1 = [(f"k{i}", t0, 1) for i in range(10)] + [(f"k{i}", t0, 2) for i in range(10)]
    write("a", rows1, now + 1)
    # batch 2: cross-batch duplicates within the horizon + a watermark
    # advancer 3h later (new key)
    rows2 = [(f"k{i}", t0, 3) for i in range(5)] + [("adv", t0 + pd.Timedelta(hours=3), 1)]
    write("b", rows2, now + 2)
    # batch 3: re-delivery of k0 with its ORIGINAL ts — the watermark is
    # now ~2h past it, so it is late data, not a fresh emission
    write("c", [("k0", t0, 9)], now + 3)

    progress: list = []
    got = streaming_dedup(
        spark, str(src), ["k"], ts_col="ts", delay="1 hour", progress=progress
    ).toPandas()
    assert sorted(got["k"]) == sorted([f"k{i}" for i in range(10)] + ["adv"])
    # every emitted row is the FIRST version of its key
    assert set(got["v"]) == {1}
    # state was actually evicted as the watermark advanced
    evicted = sum(
        so.get("numRowsRemoved", 0)
        for p in progress
        for so in p.get("stateOperators", [])
    )
    assert evicted > 0, "watermark must evict dedup state"


def _assert_batch_sessions(out, ev_pdf) -> None:
    """``out`` (pandas) equals the batch 30-minute gap rule over the
    events of ``ev_pdf`` (``user_id``, ``ts``): same sessions, bounds
    and counts."""
    import pandas as pd

    ev_pdf = ev_pdf.assign(t=ev_pdf["ts"].astype("datetime64[s]").astype("int64"))
    expected = []
    for uid, g in ev_pdf.groupby("user_id"):
        ts = sorted(g["t"])
        start = prev = ts[0]
        n = 1
        for t in ts[1:]:
            if t - prev > 1800:
                expected.append((uid, start, prev, n))
                start, n = t, 0
            prev = t
            n += 1
        expected.append((uid, start, prev, n))
    want = pd.DataFrame(
        expected, columns=["user_id", "session_start", "session_end", "n_events"]
    )
    key = ["user_id", "session_start"]
    got = out.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert len(got) == len(want), (len(got), len(want))
    pd.testing.assert_frame_equal(
        got[want.columns].astype("int64"), want.astype("int64")
    )


def test_streaming_sessionize_equals_batch_gap_rule(spark, tmp_path):
    """applyInPandasWithState sessionization drained over a multi-file
    arrival order must be BIT-EQUAL to the batch gap rule on the same
    events (same sessions, same bounds, same counts) — out-of-order
    arrival across micro-batches included, since events buffer in state
    and sessionize on the sorted buffer."""
    from audience_behavior_semantic_etl_spark.streaming.sessionize import (
        streaming_sessionize,
    )

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("user_id", "ts")
    )
    srcd = str(tmp_path / "src")
    # repartition WITHOUT ordering: files interleave times, so
    # micro-batches genuinely arrive out of event-time order
    ev.repartition(6).write.parquet(srcd)

    out = streaming_sessionize(
        spark, srcd, key_col="user_id", ts_col="ts", gap_minutes=30,
        files_per_trigger=2,
    ).toPandas()

    _assert_batch_sessions(out, ev.toPandas())


def test_sessionize_drain_of_one_file_takes_three_triggers(spark, tmp_path):
    """With ``files_per_trigger=1`` the sentinel counts toward the cap
    and takes its own micro-batch: data, sentinel, no-data — exactly 3
    triggers, the result equal to the batch gap rule."""
    from audience_behavior_semantic_etl_spark.streaming.sessionize import (
        streaming_sessionize,
    )

    src, ev = _events(spark, str(tmp_path / "src"), 1)
    prog: list = []
    out = streaming_sessionize(
        spark, src, key_col="user_id", ts_col="ts", gap_minutes=30,
        files_per_trigger=1, progress=prog,
    ).toPandas()
    _assert_batch_sessions(out, ev.select("user_id", "ts").toPandas())
    assert len(prog) == 3, [p["numInputRows"] for p in prog]


def test_streaming_sessionize_state_is_bounded(spark, tmp_path):
    """With a SHORT watermark horizon, closed sessions must leave the
    state store as the stream drains (state ∝ open horizon, not
    history): the number of state rows reported by the final progress
    events must be far below the total session count."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from audience_behavior_semantic_etl_spark.streaming.sessionize import (
        streaming_sessionize,
    )

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("user_id", "ts")
        .orderBy("ts")  # in-order arrival => a short horizon drops nothing
    )
    srcd = str(tmp_path / "src")
    ev.coalesce(1).write.parquet(srcd)
    n_users = ev.select("user_id").distinct().count()

    progress: list = []
    out = streaming_sessionize(
        spark, srcd, key_col="user_id", ts_col="ts", gap_minutes=30,
        delay="10 minutes", files_per_trigger=1, progress=progress,
    )
    assert out.count() > 0
    state_rows = [
        op.get("numRowsTotal", 0)
        for p in progress
        for op in p.get("stateOperators", [])
    ]
    assert state_rows, "no state-operator metrics reported"
    # the sentinel flush must have evicted everything but the sentinel
    # key's own state
    assert state_rows[-1] <= 2, state_rows
    assert max(state_rows) <= n_users + 1


class _FakeGroupState:
    """Minimal GroupState stub for driving the sessionize kernel
    directly — lets the watermark-BOUNDARY case be pinned
    deterministically (forcing a real stream to trigger with the
    watermark exactly at end+gap is timing-fragile)."""

    def __init__(self, buf=None, wm_ms=0):
        self.exists = buf is not None
        self._buf = buf or []
        self.hasTimedOut = False
        self._wm = wm_ms
        self.updated = None
        self.removed = False
        self.timeout = None

    @property
    def get(self):
        return (self._buf,)

    def getCurrentWatermarkMs(self):
        return self._wm

    def update(self, v):
        self.updated = v

    def remove(self):
        self.removed = True

    def setTimeoutTimestamp(self, ms):
        self.timeout = ms


def test_sessionize_kernel_watermark_boundary():
    """Spark's late-row filter ADMITS rows with event time == watermark,
    so a session whose end+gap equals the current watermark must stay
    OPEN (a boundary event could still extend it under the batch rule's
    strict > gap break); it closes only when the watermark strictly
    passes end+gap. Also: a kept boundary session must not set a timeout
    <= watermark (Spark rejects that)."""
    import pandas as pd

    from audience_behavior_semantic_etl_spark.streaming.sessionize import _make_fn

    gap_s = 1800
    fn = _make_fn(gap_s)
    buf = [1000, 2000]  # one session, end=2000, end+gap=3800

    # watermark EXACTLY at (end+gap): must not close, timeout > wm
    st = _FakeGroupState(buf=list(buf), wm_ms=3_800_000)
    out = list(fn(("k",), iter([]), st))
    assert out == [], "session at the boundary must stay open"
    assert st.updated == (buf,)
    assert st.timeout is not None and st.timeout > 3_800_000

    # watermark one ms PAST the boundary: closes, state removed
    st2 = _FakeGroupState(buf=list(buf), wm_ms=3_800_001)
    out2 = list(fn(("k",), iter([]), st2))
    assert len(out2) == 1 and st2.removed
    row = out2[0].iloc[0]
    assert (row["session_start"], row["session_end"], row["n_events"]) == (1000, 2000, 2)

    # a boundary event ARRIVING at t == end+gap == watermark merges into
    # the open session (gap == gap is NOT a break under the batch rule)
    st3 = _FakeGroupState(buf=list(buf), wm_ms=3_800_000)
    batch = pd.DataFrame({"__evt_s": [3800]})
    out3 = list(fn(("k",), iter([batch]), st3))
    assert out3 == [], "merged session is still open"
    assert st3.updated == ([1000, 2000, 3800],)
