"""Streaming change-data-feed source (cdc/cdf_source.py): the snapshot
table as a Structured Streaming SOURCE via the Spark 4 Python
DataSource API — offset = table version, micro-batch = structurally
appended files, Arrow-batch executor reads."""

from __future__ import annotations

import json

import pandas as pd
import pytest

from audience_behavior_semantic_etl_spark.cdc.apply import ApplyConfig, apply_batch
from audience_behavior_semantic_etl_spark.cdc.cdf_source import TranscriptsCDF
from audience_behavior_semantic_etl_spark.cdc.schema import ENVELOPE_SCHEMA
from audience_behavior_semantic_etl_spark.cdc.table import SnapshotTable


def _env(spark, rows):
    """rows: (lsn, op, conv_id, text)."""
    pdf = pd.DataFrame(
        [
            {
                "lsn": lsn,
                "ts": pd.Timestamp("2025-01-01") + pd.Timedelta(seconds=lsn),
                "op": op,
                "conv_id": conv,
                "turn_idx": 0,
                "payload": json.dumps(
                    {"role": "user", "text": text, "tool": None,
                     "ts": "2025-01-01T00:00:00"}
                )
                if op != "delete"
                else "{}",
                "schema_ver": 1,
                "source_part": 0,
            }
            for lsn, op, conv, text in rows
        ]
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return spark.createDataFrame(pdf, schema=ENVELOPE_SCHEMA)


@pytest.fixture()
def registered(spark):
    spark.dataSource.register(TranscriptsCDF)
    return spark


def _drain(spark, table, out, ckpt, starting=None):
    reader = spark.readStream.format("transcripts_cdf").option("path", table.root)
    if starting is not None:
        reader = reader.option("startingVersion", starting)
    q = (
        reader.load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.read.parquet(out)


def test_cdf_delivers_row_versions_with_meta(registered, tmp_path):
    spark = registered
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    cfg = ApplyConfig(app_id="cdf", auto_compact=False, shuffle_partitions=4)
    apply_batch(_env(spark, [(1, "insert", "a", "A1"), (2, "insert", "b", "B1")]), t, 0, cfg)
    got = _drain(spark, t, str(tmp_path / "out"), str(tmp_path / "ckpt"), starting=0)
    assert {"_lsn", "_deleted", "_set", "_commit_version"} <= set(got.columns)
    pdf = got.toPandas().sort_values("_lsn")
    assert list(pdf["_lsn"]) == [1, 2]
    assert sorted(pdf["text"]) == ["A1", "B1"]
    # both rows landed in the same apply commit (Delta CDF
    # _commit_version analog): one version, > 0
    assert pdf["_commit_version"].nunique() == 1 and pdf["_commit_version"].min() > 0


def test_cdf_exactly_once_across_restart_and_compaction(registered, tmp_path):
    """The checkpointed offset (= table version) must deliver each row
    version exactly once across a stream restart, and a compaction +
    tombstone purge in the window must contribute NOTHING (its files
    are rewrites of already-delivered versions) while the apply after
    it flows through — the case batch read_changes refuses."""
    spark = registered
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    cfg = ApplyConfig(app_id="cdf", auto_compact=False, shuffle_partitions=4)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    apply_batch(_env(spark, [(1, "insert", "a", "A1"), (2, "insert", "b", "B1")]), t, 0, cfg)
    _drain(spark, t, out, ckpt, starting=0)

    apply_batch(_env(spark, [(3, "update", "a", "A2"), (4, "delete", "b", "")]), t, 1, cfg)
    t.compact_buckets(list(range(4)))
    apply_batch(_env(spark, [(5, "insert", "c", "C1")]), t, 2, cfg)
    got = _drain(spark, t, out, ckpt).toPandas().sort_values("_lsn")
    # 5 events total applied -> exactly 5 row versions ever delivered
    assert list(got["_lsn"]) == [1, 2, 3, 4, 5]
    assert bool(got[got["_lsn"] == 4]["_deleted"].iloc[0]) is True
    assert got[got["_lsn"] == 5]["text"].iloc[0] == "C1"


def test_cdf_rebucket_invisible_to_stream(registered, tmp_path):
    """Bucket-count evolution rewrites every file; the stream must not
    re-deliver a single row version because of it."""
    spark = registered
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    cfg = ApplyConfig(app_id="cdf", auto_compact=False, shuffle_partitions=4)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    apply_batch(_env(spark, [(1, "insert", "a", "A1")]), t, 0, cfg)
    _drain(spark, t, out, ckpt, starting=0)
    t.rebucket(8)
    apply_batch(_env(spark, [(2, "insert", "b", "B1")]), t, 1, cfg)
    got = _drain(spark, t, out, ckpt).toPandas().sort_values("_lsn")
    assert list(got["_lsn"]) == [1, 2]


def test_cdf_refuses_a_rollback_in_the_window(registered, tmp_path):
    """A rollback drops row versions the stream already delivered;
    skipping it like a compaction would leave consumers holding them,
    so the drain fails and names it — the window batch read_changes
    refuses too."""
    spark = registered
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    cfg = ApplyConfig(app_id="cdf", auto_compact=False, shuffle_partitions=4)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    apply_batch(_env(spark, [(1, "insert", "a", "A1")]), t, 0, cfg)
    v0 = t.manifest().version
    apply_batch(_env(spark, [(2, "insert", "b", "B1")]), t, 1, cfg)
    _drain(spark, t, out, ckpt, starting=0)
    drained = t.manifest().version
    t.rollback(v0)  # drops b, already delivered
    apply_batch(_env(spark, [(3, "insert", "c", "C1")]), t, 1, cfg)
    with pytest.raises(ValueError):
        t.read_changes(drained)
    with pytest.raises(Exception, match="rollback"):
        _drain(spark, t, out, ckpt)


def test_cdf_schema_evolution_pads_old_files(registered, tmp_path):
    """A stream started after ADD COLUMN reads pre-evolution files
    padded with nulls and post-evolution files with values — the
    storage-level analog of the table's own evolved-read path."""
    spark = registered
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    cfg = ApplyConfig(app_id="cdf", auto_compact=False, shuffle_partitions=4)
    apply_batch(_env(spark, [(1, "insert", "a", "A1")]), t, 0, cfg)
    t.add_columns({"tool_name": "string", "tool_latency_ms": "long"})
    # v2 payload: role/text/tool plus the added tool metadata
    pdf = pd.DataFrame(
        [
            {
                "lsn": 2,
                "ts": pd.Timestamp("2025-01-01"),
                "op": "insert",
                "conv_id": "b",
                "turn_idx": 0,
                "payload": json.dumps(
                    {
                        "role": "user",
                        "text": "B1",
                        "tool": None,
                        "ts": "2025-01-01T00:00:00",
                        "tool_name": "search",
                        "tool_latency_ms": 42,
                    }
                ),
                "schema_ver": 2,
                "source_part": 0,
            }
        ]
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    apply_batch(spark.createDataFrame(pdf, schema=ENVELOPE_SCHEMA), t, 1, cfg)
    got = _drain(
        spark, t, str(tmp_path / "out"), str(tmp_path / "ckpt"), starting=0
    ).toPandas().sort_values("_lsn")
    assert list(got["_lsn"]) == [1, 2]
    assert pd.isna(got["tool_name"].iloc[0]) and got["tool_name"].iloc[1] == "search"
    assert got["tool_latency_ms"].iloc[1] == 42


def test_cdf_metadata_only_window_yields_empty_batch(registered, tmp_path):
    """A window containing only metadata commits (set_property) has no
    files — the stream must drain cleanly with zero new rows."""
    spark = registered
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    cfg = ApplyConfig(app_id="cdf", auto_compact=False, shuffle_partitions=4)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    apply_batch(_env(spark, [(1, "insert", "a", "A1")]), t, 0, cfg)
    _drain(spark, t, out, ckpt, starting=0)
    t.set_property("note", "metadata only")
    got = _drain(spark, t, out, ckpt)
    assert got.count() == 1  # still just the original row


def test_cdf_max_versions_per_trigger_bounds_batches(registered, tmp_path):
    """Admission control: a CONTINUOUS stream starting behind N commits
    with maxVersionsPerTrigger=2 must deliver the backlog as MULTIPLE
    bounded micro-batches (steady-state catch-up), still exactly-once.
    (Under availableNow Spark captures latestOffset once, so a capped
    stream drains one bounded batch per start() — documented.)"""
    import threading
    import time

    spark = registered
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    cfg = ApplyConfig(app_id="cdf", auto_compact=False, shuffle_partitions=4)
    for i in range(6):
        apply_batch(_env(spark, [(i + 1, "insert", f"c{i}", f"T{i}")]), t, i, cfg)
    seen = []
    done = threading.Event()

    def _count(df, bid):
        n = df.count()
        if n:
            seen.append(n)
        if sum(seen) >= 6:
            done.set()

    q = (
        spark.readStream.format("transcripts_cdf")
        .option("path", t.root)
        .option("startingVersion", 0)
        .option("maxVersionsPerTrigger", 2)
        .load()
        .writeStream.foreachBatch(_count)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()  # default processingTime trigger: keeps polling
    )
    try:
        assert done.wait(180), f"backlog not drained, saw {seen}"
        time.sleep(2)  # allow any in-flight extra trigger to land
    finally:
        q.stop()
    assert sum(seen) == 6, "full backlog delivered exactly once"
    assert len(seen) >= 3, f"expected >=3 bounded batches, got {seen}"
    assert max(seen) <= 2


def test_cdf_capped_drain_skips_interleaved_branch_versions(registered, tmp_path):
    """Version numbers are allocated globally across ref chains, so a
    capped main-stream catch-up must count commits ALONG MAIN'S CHAIN,
    not do version arithmetic — base+N may name a branch manifest (or
    a gap). Interleave branch commits between main commits and drain
    main with maxVersionsPerTrigger=2: exactly main's rows, branch
    rows never leak into the feed."""
    import threading
    import time

    spark = registered
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    cfg = ApplyConfig(app_id="cdf", auto_compact=False, shuffle_partitions=4)
    bcfg = ApplyConfig(app_id="br", auto_compact=False, shuffle_partitions=4, branch="b")
    t.create_branch("b")
    for i in range(4):
        apply_batch(_env(spark, [(i + 1, "insert", f"c{i}", f"M{i}")]), t, i, cfg)
        apply_batch(
            _env(spark, [(100 + i, "insert", f"bc{i}", f"B{i}")]), t, i, bcfg
        )
    texts: list[str] = []
    done = threading.Event()

    def _collect(df, bid):
        rows = [r["text"] for r in df.select("text").collect()]
        texts.extend(rows)
        if len(texts) >= 4:
            done.set()

    q = (
        spark.readStream.format("transcripts_cdf")
        .option("path", t.root)
        .option("startingVersion", 0)
        .option("maxVersionsPerTrigger", 2)
        .load()
        .writeStream.foreachBatch(_collect)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        assert done.wait(180), f"backlog not drained, saw {texts}"
        time.sleep(2)
    finally:
        q.stop()
    assert sorted(texts) == ["M0", "M1", "M2", "M3"], texts


def test_cdf_ref_option_streams_a_branch(registered, tmp_path):
    """`option("ref", branch)` tails a branch chain: the drain delivers
    the branch's commits (fork-point commits included via
    startingVersion=0) and none of main's post-fork commits."""
    spark = registered
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    cfg = ApplyConfig(app_id="cdf", auto_compact=False, shuffle_partitions=4)
    bcfg = ApplyConfig(app_id="br", auto_compact=False, shuffle_partitions=4, branch="b")
    apply_batch(_env(spark, [(1, "insert", "a", "SHARED")]), t, 0, cfg)
    t.create_branch("b")
    apply_batch(_env(spark, [(2, "insert", "b", "BRANCH-ONLY")]), t, 0, bcfg)
    apply_batch(_env(spark, [(3, "insert", "c", "MAIN-ONLY")]), t, 1, cfg)
    got = (
        spark.readStream.format("transcripts_cdf")
        .option("path", t.root)
        .option("ref", "b")
        .option("startingVersion", 0)
        .load()
    )
    q = (
        got.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    texts = sorted(
        r["text"] for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert texts == ["BRANCH-ONLY", "SHARED"], texts
