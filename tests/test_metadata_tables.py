"""Metadata tables (cdc/table.py snapshots_df / files_df /
history_df) — the Iceberg SELECT-FROM-t.snapshots analog: commit
history with structural operation classification, live-file inventory
with key-range stats, ancestry + tag refs — and lineage(), the rows
read back along the retained commit chain."""

from __future__ import annotations

import json

import pandas as pd

from audience_behavior_semantic_etl_spark.cdc import commits
from audience_behavior_semantic_etl_spark.cdc.apply import apply_batch
from audience_behavior_semantic_etl_spark.cdc.schema import ENVELOPE_SCHEMA
from audience_behavior_semantic_etl_spark.cdc.table import SnapshotTable


def _env(spark, rows, conv="conv-m"):
    pdf = pd.DataFrame(
        [
            {
                "lsn": lsn,
                "ts": pd.Timestamp("2025-01-01") + pd.Timedelta(seconds=lsn),
                "op": op,
                "conv_id": conv,
                "turn_idx": turn,
                "payload": json.dumps({"role": "user", "text": text}),
                "schema_ver": 1,
                "source_part": 0,
            }
            for lsn, op, turn, text in rows
        ]
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return spark.createDataFrame(pdf, schema=ENVELOPE_SCHEMA)


def test_snapshots_files_history(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(_env(spark, [(1, "insert", 0, "a"), (2, "insert", 1, "b")]), t, 0)
    apply_batch(_env(spark, [(3, "update", 0, "c")]), t, 1)
    t.create_tag("audit-1")
    t.compact_buckets([0, 1])

    snaps = {r["version"]: r.asDict() for r in t.snapshots_df().collect()}
    head = t.manifest().version
    assert snaps[0]["operation"] == "create" and snaps[0]["parent"] is None
    # the two applies are pure appends; compaction is a rewrite
    appends = [v for v, r in snaps.items() if r["operation"] == "append"]
    assert len(appends) == 2
    assert snaps[head]["operation"] == "rewrite"
    # create_tag added no version: the compaction's parent is the
    # second append
    assert snaps[head]["parent"] == max(appends)
    assert snaps[head]["is_current"] and not snaps[0]["is_current"]
    assert snaps[head]["files_removed"] > 0

    files = t.files_df().collect()
    live = {f for fs in t.manifest().buckets.values() for f in fs}
    assert {r["path"] for r in files} == live
    assert all(r["size_bytes"] > 0 for r in files)
    # commit-time footer stats cover every live file of this table
    assert all(r["key_min"] == "conv-m" == r["key_max"] for r in files)
    # time travel: the v1 inventory is the era's own file set
    old_files = {r["path"] for r in t.files_df(version=1).collect()}
    assert old_files == {f for fs in t.manifest(1).buckets.values() for f in fs}
    assert old_files != live

    hist = {r["version"]: r.asDict() for r in t.history_df().collect()}
    assert all(r["is_current_ancestor"] for r in hist.values()), "linear history"
    tagged = [v for v, r in hist.items() if r["tags"]]
    assert tagged == [max(appends)] and hist[tagged[0]]["tags"] == ["audit-1"]
    refs = {r["name"]: r.asDict() for r in t.refs_df().collect()}
    assert refs["main"]["version"] == head
    assert refs["main"]["snapshot_id"] == snaps[head]["snapshot_id"]
    assert (refs["audit-1"]["type"], refs["audit-1"]["version"]) == ("tag", max(appends))
    assert refs["audit-1"]["snapshot_id"] == snaps[max(appends)]["snapshot_id"]


def test_snapshots_after_gc_marks_unknown_diff(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    for b in range(4):
        apply_batch(_env(spark, [(b + 1, "insert", b, f"t{b}")]), t, b)
    t.gc_orphans(keep_versions=2, staging_grace_seconds=0)
    snaps = {r["version"]: r.asDict() for r in t.snapshots_df().collect()}
    vs = sorted(snaps)
    assert len(vs) == 2, "expired manifests drop out of the listing"
    # delta manifests store the commit's OWN add/remove summary, so the
    # diff survives parent expiry (pre-delta formats had to report
    # "unknown" here — the stored summary is strictly better)
    assert snaps[vs[0]]["operation"] == "append"
    assert snaps[vs[0]]["files_added"] >= 1
    assert snaps[vs[0]]["files_removed"] == 0
    assert snaps[vs[1]]["operation"] == "append"


def _own_rows_only(t):
    """Every stored manifest holds at most its own lineage row."""
    for v in commits.retained_versions(t.root):
        d = commits.read_manifest(t.root, v)
        assert "lineage" not in d
        assert d["summary"] is None or d["summary"]["snapshot_id"] == d["snapshot_id"]


def test_lineage_after_rollback_is_target_rows_plus_rollback(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(_env(spark, [(1, "insert", 0, "a")]), t, 0)
    t.set_property("owner", "etl")
    apply_batch(_env(spark, [(2, "insert", 1, "b")]), t, 1)
    target, want = t.manifest().version, t.lineage()
    assert [r.get("op") for r in want] == [None, "set_property", None]
    apply_batch(_env(spark, [(3, "update", 0, "c")]), t, 2)
    t.create_tag("before-rollback")
    t.drop_tag("before-rollback")

    t.rollback(version=target)
    head = t.manifest()
    got = t.lineage()
    assert got[:-1] == want
    assert got[-1]["op"] == "rollback" and got[-1]["restored_version"] == target
    assert got[-1]["snapshot_id"] == head.snapshot_id == head.summary["snapshot_id"]
    # re-delivery after the rollback re-applies the dropped batch
    apply_batch(_env(spark, [(3, "update", 0, "c")]), t, 2)
    assert [r.get("batch_id") for r in t.lineage()] == [0, None, 1, None, 2]
    _own_rows_only(t)


def test_lineage_after_gc_is_the_retained_chain(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    for b in range(5):
        apply_batch(_env(spark, [(b + 1, "insert", b, f"t{b}")]), t, b)
    assert [r["batch_id"] for r in t.lineage()] == [0, 1, 2, 3, 4]
    t.gc_orphans(keep_versions=3, staging_grace_seconds=0)
    kept = commits.retained_versions(t.root)
    assert len(kept) == 3
    got = t.lineage()
    assert [r["batch_id"] for r in got] == [2, 3, 4]
    assert [r["snapshot_id"] for r in got] == [
        commits.read_manifest(t.root, v)["snapshot_id"] for v in kept
    ]
    _own_rows_only(t)
