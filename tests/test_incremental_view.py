"""Incremental view maintenance (cdc/incremental.py): the changelog
consumer. Correctness oracle = full recompute of the same aggregate
over read_final(); scale property checked = only affected bucket
partitions of the materialized view are rewritten."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from pyspark.sql import functions as F

from audience_behavior_semantic_etl_spark.cdc.apply import apply_batch
from audience_behavior_semantic_etl_spark.cdc.gen import GenConfig, generate_change_log
from audience_behavior_semantic_etl_spark.cdc.incremental import IncrementalView
from audience_behavior_semantic_etl_spark.cdc.schema import ENVELOPE_SCHEMA
from audience_behavior_semantic_etl_spark.cdc.table import SnapshotTable, bucket_expr


def _envelope_df(spark, pdf: pd.DataFrame):
    pdf = pdf.copy()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return spark.createDataFrame(pdf, schema=ENVELOPE_SCHEMA)


def _agg(df):
    return df.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        # max: NOT self-maintainable under deletes — exactly what the
        # recompute-based design is for
        F.max("text").alias("max_text"),
    )


def _expect(table) -> pd.DataFrame:
    return (
        _agg(table.read_final())
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )


def _got(view) -> pd.DataFrame:
    return (
        view.read()
        .toPandas()[["conv_id", "n_turns", "max_text"]]
        .sort_values("conv_id")
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def split_log():
    log = generate_change_log(GenConfig(seed=11, n_convs=40))
    cut = len(log) // 2  # stream order: DDL-before-dependent preserved
    return log.iloc[:cut], log.iloc[cut:]


def test_incremental_refresh_matches_full_recompute(spark, split_log, tmp_path):
    b0, b1 = split_log
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=8)
    view = IncrementalView(table, str(tmp_path / "v"), _agg)

    apply_batch(_envelope_df(spark, b0), table, 0)
    r0 = view.refresh()
    assert r0["mode"] == "full"
    pd.testing.assert_frame_equal(_got(view), _expect(table))

    apply_batch(_envelope_df(spark, b1), table, 1)
    r1 = view.refresh()
    assert r1["mode"] == "incremental"
    assert r1["synced_version"] == table.manifest().version
    pd.testing.assert_frame_equal(_got(view), _expect(table))

    assert view.refresh()["mode"] == "noop"


def test_refresh_rewrites_only_affected_buckets(spark, tmp_path):
    rows = [
        (i, "insert", f"conv-{i:04d}", 0, '{"role":"user","text":"t","tool":null,'
         '"ts":"2025-01-01T00:00:00"}')
        for i in range(64)
    ]
    pdf = pd.DataFrame(
        {
            "lsn": [r[0] for r in rows],
            "ts": pd.Timestamp("2025-01-01"),
            "op": [r[1] for r in rows],
            "conv_id": [r[2] for r in rows],
            "turn_idx": [r[3] for r in rows],
            "payload": [r[4] for r in rows],
            "schema_ver": 1,
            "source_part": 0,
        }
    )
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=8)
    view = IncrementalView(table, str(tmp_path / "v"), _agg)
    apply_batch(_envelope_df(spark, pdf), table, 0)
    view.refresh()

    data = os.path.join(str(tmp_path / "v"), "data")
    before = {
        d: sorted(os.listdir(os.path.join(data, d)))
        for d in os.listdir(data)
        if d.startswith("__bucket=")
    }
    assert len(before) > 1, "need multiple buckets for the pruning check"

    # touch ONE conversation
    one = pdf.iloc[[0]].copy()
    one["lsn"] = 1000
    one["op"] = "update"
    one["payload"] = '{"role":"user","text":"zz","tool":null,"ts":"2025-01-01T00:00:00"}'
    apply_batch(_envelope_df(spark, one), table, 1)
    r = view.refresh()
    assert r["mode"] == "incremental" and r["affected_buckets"] == 1

    after = {
        d: sorted(os.listdir(os.path.join(data, d)))
        for d in os.listdir(data)
        if d.startswith("__bucket=")
    }
    changed = [d for d in before if before[d] != after.get(d)]
    assert len(changed) == 1, f"exactly one bucket partition rewritten, got {changed}"
    pd.testing.assert_frame_equal(_got(view), _expect(table))


def test_fully_deleted_group_leaves_the_view(spark, split_log, tmp_path):
    b0, _ = split_log
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    view = IncrementalView(table, str(tmp_path / "v"), _agg)
    apply_batch(_envelope_df(spark, b0), table, 0)
    view.refresh()
    victim = view.read().select("conv_id").orderBy("conv_id").first()["conv_id"]
    turns = (
        table.read_final().filter(F.col("conv_id") == victim).select("turn_idx").collect()
    )
    dels = pd.DataFrame(
        {
            "lsn": [10_000 + i for i in range(len(turns))],
            "ts": pd.Timestamp("2025-06-01"),
            "op": "delete",
            "conv_id": victim,
            "turn_idx": [r["turn_idx"] for r in turns],
            "payload": "{}",
            "schema_ver": 1,
            "source_part": 0,
        }
    )
    apply_batch(_envelope_df(spark, dels), table, 1)
    r = view.refresh()
    assert r["mode"] == "incremental"
    got = _got(view)
    assert victim not in set(got["conv_id"])
    pd.testing.assert_frame_equal(got, _expect(table))


def _forbid_full(view, monkeypatch):
    def _no_full(m):
        raise AssertionError("full rescan must not happen on the incremental path")

    monkeypatch.setattr(view, "_full", _no_full)


def test_compaction_in_window_stays_incremental(spark, split_log, tmp_path, monkeypatch):
    """A file-rewriting commit inside refresh()'s window contributes
    nothing to the changelog, so the refresh stays incremental (no
    O(table) rebuild) and still matches the full recompute."""
    b0, b1 = split_log
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    view = IncrementalView(table, str(tmp_path / "v"), _agg)
    apply_batch(_envelope_df(spark, b0), table, 0)
    view.refresh()
    buckets = [int(b) for b, fs in table.manifest().buckets.items() if fs]
    table.compact_buckets(buckets)
    apply_batch(_envelope_df(spark, b1), table, 1)
    _forbid_full(view, monkeypatch)
    r = view.refresh()
    assert r["mode"] == "incremental"
    assert r["synced_version"] == table.manifest().version
    pd.testing.assert_frame_equal(_got(view), _expect(table))


@pytest.mark.parametrize("cut", ["gc", "rollback"])
def test_refresh_falls_back_to_full_when_the_changelog_breaks(
    spark, split_log, tmp_path, cut
):
    """refresh() rebuilds in full exactly when no changelog reaches back
    to its synced version: gc_orphans expired the window's commits, or
    a rollback in the window dropped row versions the view holds."""
    b0, b1 = split_log
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    view = IncrementalView(table, str(tmp_path / "v"), _agg)
    apply_batch(_envelope_df(spark, b0), table, 0)
    view.refresh()
    synced = view.synced_version()
    third = len(b1) // 3  # contiguous slices keep DDL before its data
    for i, part in enumerate([b1.iloc[:third], b1.iloc[third:2 * third], b1.iloc[2 * third:]]):
        apply_batch(_envelope_df(spark, part), table, 1 + i)
    if cut == "gc":
        table.gc_orphans(keep_versions=1, staging_grace_seconds=3600.0)
    else:
        assert view.refresh()["mode"] == "incremental"
        table.rollback(synced)
    r = view.refresh()
    assert r["mode"] == "full"
    assert r["synced_version"] == table.manifest().version
    pd.testing.assert_frame_equal(_got(view), _expect(table))


def test_agg_schema_change_triggers_full_refresh(spark, split_log, tmp_path):
    """When table schema evolution changes the aggregate's output shape
    (a new measure appears), the incremental path re-materializes
    instead of unioning mismatched rows."""
    log = generate_change_log(GenConfig(seed=13, n_convs=40))
    cut = len(log) // 3  # the DDL event lands at ~50% -> in b1
    b0, b1 = log.iloc[:cut], log.iloc[cut:]

    def agg(df):
        exprs = [F.count(F.lit(1)).alias("n_turns")]
        if "tool_latency_ms" in df.columns:
            exprs.append(F.sum("tool_latency_ms").alias("latency_sum"))
        return df.groupBy("conv_id").agg(*exprs)

    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    view = IncrementalView(table, str(tmp_path / "v"), agg)
    apply_batch(_envelope_df(spark, b0), table, 0)  # pre-schema-change half
    assert "tool_latency_ms" not in table.read_final().columns
    view.refresh()
    apply_batch(_envelope_df(spark, b1), table, 1)  # brings the DDL event
    assert "tool_latency_ms" in table.read_final().columns
    r = view.refresh()
    assert r["mode"] == "full"
    got = view.read().toPandas().sort_values("conv_id").reset_index(drop=True)
    want = (
        agg(table.read_final()).toPandas().sort_values("conv_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[sorted(got.columns)], want[sorted(want.columns)])


def test_stream_refresh_survives_compaction_without_full_rescan(
    spark, split_log, tmp_path, monkeypatch
):
    """Streaming refresh off the CDF source: a compaction between
    drains must NOT force the O(table) full-rescan fallback (the
    stream excludes rewriting commits), and the view must still match
    the full recompute after the post-compaction batch."""
    b0, b1 = split_log
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    view = IncrementalView(table, str(tmp_path / "v"), _agg)
    ckpt = str(tmp_path / "ckpt")

    apply_batch(_envelope_df(spark, b0), table, 0)
    q = view.stream_refresh(ckpt)  # bootstrap full + drain (no-op window)
    q.awaitTermination(180)
    pd.testing.assert_frame_equal(_got(view), _expect(table))

    # forbid the fallback from here on: stream refresh must never full
    _forbid_full(view, monkeypatch)
    buckets = [int(b) for b, fs in table.manifest().buckets.items() if fs]
    table.compact_buckets(buckets)
    apply_batch(_envelope_df(spark, b1), table, 1)
    q = view.stream_refresh(ckpt)
    q.awaitTermination(180)
    pd.testing.assert_frame_equal(_got(view), _expect(table))
    assert view.synced_version() == table.manifest().version


def test_stream_refresh_idempotent_redelivery(spark, split_log, tmp_path):
    """Wiping the checkpoint re-delivers the whole feed; the recompute
    design must converge to the identical view (crash-healing)."""
    import shutil as _sh

    b0, b1 = split_log
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    view = IncrementalView(table, str(tmp_path / "v"), _agg)
    apply_batch(_envelope_df(spark, b0), table, 0)
    apply_batch(_envelope_df(spark, b1), table, 1)
    view.stream_refresh(str(tmp_path / "c1")).awaitTermination(180)
    before = _got(view)
    # lost checkpoint -> full re-delivery from the bootstrap version
    view.stream_refresh(str(tmp_path / "c2")).awaitTermination(180)
    pd.testing.assert_frame_equal(_got(view), before)
    pd.testing.assert_frame_equal(_got(view), _expect(table))


@pytest.mark.parametrize("path", ["stream_refresh", "refresh"])
def test_view_stays_correct_across_a_rebucket(
    spark, split_log, tmp_path, monkeypatch, path
):
    """A refresh or micro-batch reads ONE snapshot: its bucket ids,
    recompute scan and partition swap share one layout. Two ways a
    rebucket(16) of a 4-bucket table meets a view built under 4:
    - before a stream micro-batch over one conversation whose 4- and
      16-bucket ids differ (the view must rebuild, not file the group
      under a second partition);
    - inside refresh(), after the changelog window was read (the
      recompute must stay on the window's snapshot, not go stale)."""
    b0, _ = split_log
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    view = IncrementalView(table, str(tmp_path / "v"), _agg)
    apply_batch(_envelope_df(spark, b0), table, 0)
    conv = (
        table.read_final()
        .where(bucket_expr(F.col("conv_id"), 4) != bucket_expr(F.col("conv_id"), 16))
        .orderBy("conv_id", "turn_idx")
        .first()
    )
    update = pd.DataFrame({
        "lsn": [10**9], "ts": pd.Timestamp("2025-06-01"), "op": "update",
        "conv_id": conv["conv_id"], "turn_idx": conv["turn_idx"],
        "payload": '{"role":"user","text":"zzzz","tool":null,'
                   '"ts":"2025-06-01T00:00:00"}',
        "schema_ver": 1, "source_part": 0,
    })
    if path == "stream_refresh":
        ckpt = str(tmp_path / "ckpt")
        view.stream_refresh(ckpt).awaitTermination(180)
        table.rebucket(16)
        apply_batch(_envelope_df(spark, update), table, 1)
        view.stream_refresh(ckpt).awaitTermination(180)
    else:
        view.refresh()
        apply_batch(_envelope_df(spark, update), table, 1)
        read_changes = table.read_changes

        def racing(*args):
            changes = read_changes(*args)
            table.rebucket(16)  # lands after the window was planned
            return changes

        monkeypatch.setattr(table, "read_changes", racing)
        assert view.refresh()["mode"] == "incremental"
    pd.testing.assert_frame_equal(_got(view), _expect(table))
