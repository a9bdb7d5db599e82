"""CDC engine tests: oracle equality, exactly-once resume, re-delivery
no-op, cross-batch LWW, delete semantics, schema evolution.
(SURVEY.md §5 upgrade: golden final-state equality computed two
independent ways + idempotency/resume tests.)
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from audience_behavior_semantic_etl_spark.cdc.apply import ApplyConfig, apply_batch
from audience_behavior_semantic_etl_spark.cdc.demo import check_equal, table_to_pandas
from audience_behavior_semantic_etl_spark.cdc.gen import (
    GenConfig,
    expected_final_state,
    generate_change_log,
    write_wal_chunks,
)
from audience_behavior_semantic_etl_spark.cdc.schema import ENVELOPE_SCHEMA
from audience_behavior_semantic_etl_spark.cdc.stream import run_wal_stream
from audience_behavior_semantic_etl_spark.cdc.table import SnapshotTable


@pytest.fixture(scope="module")
def small_log():
    cfg = GenConfig(seed=42, n_convs=60)
    log = generate_change_log(cfg)
    return log, expected_final_state(log)


def _envelope_df(spark, pdf: pd.DataFrame):
    pdf = pdf.copy()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return spark.createDataFrame(pdf, schema=ENVELOPE_SCHEMA)


def test_full_replay_matches_oracle(spark, small_log, tmp_path):
    log, oracle = small_log
    wal = str(tmp_path / "wal")
    write_wal_chunks(log, wal, n_chunks=4)
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=8)
    run = run_wal_stream(spark, wal, table, str(tmp_path / "ckpt"), max_files_per_trigger=2)
    assert run.error is None
    check_equal(table_to_pandas(table), oracle)
    # lineage: contiguous coverage, no overlaps in applied batches
    lineage = table.lineage()
    batch_ids = [l["batch_id"] for l in lineage]
    assert batch_ids == sorted(set(batch_ids)), "duplicate/ooo batch commits"


def test_kill_resume_converges(spark, small_log, tmp_path):
    """Crash after the 1st table commit but before its checkpoint —
    resume must re-deliver that batch, detect it in the snapshot,
    no-op it, and converge to the oracle state."""
    log, oracle = small_log
    wal = str(tmp_path / "wal")
    write_wal_chunks(log, wal, n_chunks=4)
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=8)
    ckpt = str(tmp_path / "ckpt")

    run1 = run_wal_stream(spark, wal, table, ckpt, max_files_per_trigger=1, fail_after_batches=1)
    assert run1.error is not None, "crash should have propagated"
    applied1 = [m for m in run1.metrics if not m.skipped]
    assert len(applied1) == 1

    run2 = run_wal_stream(spark, wal, table, ckpt, max_files_per_trigger=1)
    assert run2.error is None
    skipped = [m for m in run2.metrics if m.skipped]
    assert len(skipped) == 1, "re-delivered batch must no-op exactly once"
    check_equal(table_to_pandas(table), oracle)


def test_redelivered_batch_is_noop(spark, tmp_path):
    log = generate_change_log(GenConfig(seed=7, n_convs=20))
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    df = _envelope_df(spark, log)
    m1 = apply_batch(df, table, batch_id=0)
    v1 = table.manifest().version
    m2 = apply_batch(df, table, batch_id=0)  # same batch id again
    assert not m1.skipped and m2.skipped
    assert table.manifest().version == v1, "no new snapshot for a no-op"


def _mk_events(rows):
    return pd.DataFrame(
        [
            {
                "lsn": lsn,
                "ts": pd.Timestamp("2025-01-01") + pd.Timedelta(seconds=lsn),
                "op": op,
                "conv_id": "conv-x",
                "turn_idx": 0,
                "payload": json.dumps(
                    {"role": "user", "text": text, "tool": None, "ts": "2025-01-01T00:00:00"}
                )
                if op != "delete"
                else "{}",
                "schema_ver": 1,
                "source_part": 0,
            }
            for lsn, op, text in rows
        ]
    )


def test_cross_batch_stale_event_loses(spark, tmp_path):
    """A stale event (lower lsn) arriving in a LATER batch must not
    overwrite the newer applied row — table-side LWW via _lsn."""
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(_envelope_df(spark, _mk_events([(10, "insert", "NEW")])), table, 0)
    apply_batch(_envelope_df(spark, _mk_events([(5, "update", "STALE")])), table, 1)
    got = table.read_final().toPandas()
    assert list(got["text"]) == ["NEW"]


def test_delete_beats_earlier_upserts_loses_to_later(spark, tmp_path):
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(
        _envelope_df(spark, _mk_events([(1, "insert", "A"), (2, "delete", "")])), table, 0
    )
    assert table.read_final().count() == 0, "delete must beat earlier upsert"
    apply_batch(_envelope_df(spark, _mk_events([(3, "insert", "B")])), table, 1)
    got = table.read_final().toPandas()
    assert list(got["text"]) == ["B"], "later insert must beat tombstone"


def test_schema_evolution_adds_columns(spark, small_log, tmp_path):
    log, oracle = small_log
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    apply_batch(_envelope_df(spark, log), table, 0)
    cols = [n for n, _ in table.manifest().columns]
    assert "tool_name" in cols and "tool_latency_ms" in cols
    got = table_to_pandas(table)
    assert got["tool_name"].notna().any(), "v2 payloads must populate evolved columns"
    check_equal(got, oracle)


def test_canonicalization_is_applied(spark, tmp_path):
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    messy = "café line  \r\nnext\x07"
    apply_batch(_envelope_df(spark, _mk_events([(1, "insert", messy)])), table, 0)
    got = table.read_final().toPandas()
    assert list(got["text"]) == ["café line\nnext"]


def test_stale_redelivery_after_delete_stays_deleted(spark, tmp_path):
    """Tombstone retention: a stale update re-delivered in a LATER batch
    than the delete must NOT resurrect the key — the retained tombstone's
    _lsn wins the merge window."""
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(
        _envelope_df(spark, _mk_events([(1, "insert", "A"), (5, "update", "B")])), table, 0
    )
    apply_batch(_envelope_df(spark, _mk_events([(6, "delete", "")])), table, 1)
    apply_batch(_envelope_df(spark, _mk_events([(5, "update", "B")])), table, 2)
    assert table.read_final().count() == 0, "stale redelivery resurrected a deleted key"
    # but a genuinely newer insert still beats the tombstone
    apply_batch(_envelope_df(spark, _mk_events([(9, "insert", "C")])), table, 3)
    assert list(table.read_final().toPandas()["text"]) == ["C"]


def test_purge_tombstones(spark, tmp_path):
    """Maintenance purge removes tombstones below the supplied horizon
    and keeps those at/above it (they still guard against re-delivery)."""
    from pyspark.sql import functions as F

    from audience_behavior_semantic_etl_spark.cdc.schema import DELETED_META_COL

    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(
        _envelope_df(spark, _mk_events([(1, "insert", "A"), (2, "delete", "")])), table, 0
    )
    stored = table.read()
    assert stored.filter(F.col(DELETED_META_COL)).count() == 1, "tombstone must be retained"
    table.purge_tombstones(below_lsn=3)
    assert table.read().count() == 0, "purge must drop old tombstones"
    # purge is itself a snapshot commit; final view unchanged
    assert table.read_final().count() == 0


def test_spark_generator_replay_matches_oracle(spark, tmp_path):
    """The distributed (bench-scale) WAL generator must satisfy the same
    replay contract as the pandas generator: stream-replay through the
    engine equals the independent single-threaded oracle reduction."""
    from audience_behavior_semantic_etl_spark.cdc.gen_spark import (
        generate_change_log_spark,
        write_wal_chunks_spark,
    )

    log_df = generate_change_log_spark(spark, seed=11, n_convs=300)
    wal = str(tmp_path / "wal")
    write_wal_chunks_spark(log_df, wal, n_chunks=6)

    # oracle over the stream-ordered pandas view of the same log
    log_pdf = spark.read.parquet(wal).toPandas()
    oracle = expected_final_state(log_pdf)

    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=8)
    run = run_wal_stream(spark, wal, table, str(tmp_path / "ckpt"), max_files_per_trigger=2)
    assert run.error is None
    check_equal(table_to_pandas(table), oracle)


def test_time_travel_reads_old_snapshot(spark, tmp_path):
    """Every committed version stays readable (Iceberg snapshot reads):
    after an update, version N-1 still shows the pre-update row."""
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(_envelope_df(spark, _mk_events([(1, "insert", "OLD")])), table, 0)
    v1 = table.manifest().version
    apply_batch(_envelope_df(spark, _mk_events([(2, "update", "NEW")])), table, 1)
    assert list(table.read_final().toPandas()["text"]) == ["NEW"]
    assert list(table.read_final(version=v1).toPandas()["text"]) == ["OLD"]


def test_compaction_preserves_replay_correctness(spark, small_log, tmp_path):
    """Aggressive auto-compaction (threshold 1 file) interleaved with
    streaming apply must not change the final state."""
    log, oracle = small_log
    wal = str(tmp_path / "wal")
    write_wal_chunks(log, wal, n_chunks=6)
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    cfg = ApplyConfig(compact_max_files=1)
    run = run_wal_stream(spark, wal, table, str(tmp_path / "ckpt"), cfg, max_files_per_trigger=2)
    assert run.error is None
    assert any(m.compacted_buckets > 0 for m in run.metrics), "compaction never triggered"
    check_equal(table_to_pandas(table), oracle)
    # compaction bounded the per-bucket file count
    assert max(len(fs) for fs in table.manifest().buckets.values()) <= 2


def test_hot_key_census_and_salting(spark, tmp_path):
    """A conversation holding over 1/S of the batch's rows (S = the
    session's shuffle partitions) is detected by the census, its rows
    spread over several write slots (so several files of its bucket),
    and they still apply correctly."""
    rows = [(i + 1, "insert" if i < 50 else "update", f"T{i}") for i in range(200)]
    pdf = _mk_events(rows)
    pdf["turn_idx"] = [i % 50 for i in range(200)]
    pdf["payload"] = [
        json.dumps({"role": "user", "text": f"t{i}", "tool": None, "ts": "2025-01-01T00:00:00"})
        for i in range(200)
    ]
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    m = apply_batch(_envelope_df(spark, pdf), table, 0)
    assert m.hot_keys == 1, "hot conversation not detected"
    assert table.read_final().count() == 50
    files = [fs for fs in table.manifest().buckets.values() if fs]
    assert len(files) == 1 and len(files[0]) > 1, "hot conversation written to one file"


def test_resume_across_schema_change(spark, small_log, tmp_path):
    """Crash in the batch AFTER the schema_change applied; resume must
    not re-apply DDL (idempotent) and must converge to the oracle."""
    log, oracle = small_log
    wal = str(tmp_path / "wal")
    write_wal_chunks(log, wal, n_chunks=8)
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    ckpt = str(tmp_path / "ckpt")
    # schema_change sits mid-log; crash after 5 of 8 single-chunk batches
    run1 = run_wal_stream(spark, wal, table, ckpt, max_files_per_trigger=1, fail_after_batches=5)
    assert run1.error is not None
    cols_mid = [n for n, _ in table.manifest().columns]
    assert "tool_name" in cols_mid, "expected DDL applied before the crash point"
    run2 = run_wal_stream(spark, wal, table, ckpt, max_files_per_trigger=1)
    assert run2.error is None
    check_equal(table_to_pandas(table), oracle)


def test_crash_between_manifest_and_pointer_swap(spark, tmp_path):
    """Write-manifest-last protocol: a crash after writing manifest
    v(N+1) but BEFORE the _current pointer swap must leave the table
    readable at version N, and the next apply must succeed. The orphan
    manifest is never overwritten: version allocation counts it, so the
    next commit takes v(N+2)."""
    import os

    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(_envelope_df(spark, _mk_events([(1, "insert", "A")])), table, 0)
    m = table.manifest()
    # simulate the crash window: orphan manifest exists, pointer unswapped
    orphan = {
        "version": m.version + 1,
        "snapshot_id": "deadbeef",
        "parent": m.version,
        "columns": [list(c) for c in m.columns],
        "n_buckets": m.n_buckets,
        "properties": m.properties,
        "summary": None,
        # would-be "emptied" table
        "files": {"added": {}, "removed": [], "stats_added": {},
                  "full": {"buckets": {}, "stats": {}}},
    }
    with open(os.path.join(table.root, "_manifests", f"v{m.version + 1}.json"), "w") as f:
        f.write(json.dumps(orphan))
    # readers still see version N
    assert list(table.read_final().toPandas()["text"]) == ["A"]
    # recovery: the next commit skips the orphan's number and converges
    apply_batch(_envelope_df(spark, _mk_events([(5, "update", "B")])), table, 1)
    assert list(table.read_final().toPandas()["text"]) == ["B"]
    assert table.manifest().version == m.version + 2
    assert table.manifest().snapshot_id != "deadbeef"


def test_gc_orphans_keeps_window_drops_rest(spark, tmp_path):
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    for i, (lsn, text) in enumerate([(1, "A"), (2, "B"), (3, "C"), (4, "D")]):
        apply_batch(_envelope_df(spark, _mk_events([(lsn, "insert" if i == 0 else "update", text)])), table, i)
    # compaction folds the deltas; the pre-compaction delta files are
    # now referenced only by expired-window manifests
    table.compact_buckets(list(range(2)))
    v_now = table.manifest().version
    deleted = table.gc_orphans(keep_versions=1)
    # current state unaffected
    assert list(table.read_final().toPandas()["text"]) == ["D"]
    assert table.read_final(version=v_now).count() == 1
    # expired versions are gone
    with pytest.raises(FileNotFoundError):
        table.manifest(version=0)
    # the pre-compaction delta files are gone from disk
    assert deleted, "expected orphaned delta files to be removed"


def test_adaptive_in_batch_dedup_engages_on_churn(spark, tmp_path):
    """A batch with events/key above the churn threshold pre-collapses
    in-batch (deduped=True) and writes one row per key; a low-churn
    batch appends as-is (deduped=False)."""
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    churn = _mk_events([(i, "insert" if i == 1 else "update", f"V{i}") for i in range(1, 11)])
    m = apply_batch(_envelope_df(spark, churn), table, 0)
    assert m.deduped is True
    assert m.dedup_dropped == 9, "10 versions of one key must collapse to 1"
    assert list(table.read_final().toPandas()["text"]) == ["V10"]

    low = _mk_events([(20, "update", "W")])
    m2 = apply_batch(_envelope_df(spark, low), table, 1)
    assert m2.deduped is False and m2.dedup_dropped == 0
    assert list(table.read_final().toPandas()["text"]) == ["W"]


def test_malformed_payload_policy(spark, tmp_path):
    """Poison messages: default policy fails the batch loudly; the
    quarantine policy drops the malformed upsert, counts it, and keeps
    the rest of the batch."""
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    pdf = _mk_events([(1, "insert", "GOOD"), (2, "insert", "ignored")])
    pdf.loc[1, "payload"] = "{not json"
    pdf.loc[1, "turn_idx"] = 1

    with pytest.raises(Exception):
        apply_batch(_envelope_df(spark, pdf), table, 0)

    table2 = SnapshotTable.create(spark, str(tmp_path / "t2"), n_buckets=2)
    m = apply_batch(
        _envelope_df(spark, pdf), table2, 0, ApplyConfig(on_malformed="quarantine")
    )
    assert m.malformed == 1
    got = table2.read_final().toPandas()
    assert list(got["text"]) == ["GOOD"], "well-formed rows must still apply"


def test_null_key_data_event_policy(spark, tmp_path):
    """A data event with NULL conv_id (legal only for schema_change)
    must never be silently lost: default policy fails the batch; the
    quarantine policy drops it, counts it in malformed, and applies the
    rest — and lineage/metrics never claim it as an applied upsert."""
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    pdf = _mk_events([(1, "insert", "GOOD"), (2, "insert", "NULLKEY")])
    pdf.loc[1, "conv_id"] = None

    with pytest.raises(ValueError, match="NULL"):
        apply_batch(_envelope_df(spark, pdf), table, 0)

    table2 = SnapshotTable.create(spark, str(tmp_path / "t2"), n_buckets=4)
    m = apply_batch(
        _envelope_df(spark, pdf), table2, 0, ApplyConfig(on_malformed="quarantine")
    )
    assert m.malformed == 1
    assert m.upserts == 1, "the null-key row must not count as applied"
    got = table2.read_final().toPandas()
    assert list(got["text"]) == ["GOOD"]
    assert table2.lineage()[-1]["upserts"] == 1


def test_gc_orphans_spares_fresh_staging_dirs(spark, tmp_path):
    """gc_orphans must not delete a staging dir younger than the grace
    window (it may belong to an in-flight writer), but reclaims one
    older than the window."""
    import os
    import time

    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(_envelope_df(spark, _mk_events([(1, "insert", "A")])), table, 0)
    fresh = table.new_staging_dir()
    stale = table.new_staging_dir()
    old = time.time() - 7200
    os.utime(stale, (old, old))
    table.gc_orphans(staging_grace_seconds=3600.0)
    assert os.path.isdir(fresh), "in-flight staging dir must survive GC"
    assert not os.path.isdir(stale), "crashed (old) staging dir is reclaimed"


def test_compaction_append_conflict_keeps_concurrent_rows(spark, tmp_path):
    """Rewrite-vs-append: a batch committed WHILE a compaction runs must
    survive the compaction's bucket swap. Simulated deterministically:
    capture the compaction's base file set, land an append after it,
    then commit the merged buckets against the stale base."""
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=1)
    apply_batch(_envelope_df(spark, _mk_events([(1, "insert", "A")])), table, 0)
    apply_batch(_envelope_df(spark, _mk_events([(2, "update", "B")])), table, 1)

    # compaction reads its input + base NOW (as compact_buckets does)
    m = table.manifest()
    base = {"0": list(m.buckets["0"])}
    resolved = table.read(buckets=[0])
    staged = table.new_staging_dir()
    from pyspark.sql import functions as F  # noqa: PLC0415

    from audience_behavior_semantic_etl_spark.cdc.table import bucket_expr

    (
        resolved.withColumn("__bucket", bucket_expr(F.col("conv_id"), 1))
        .write.mode("overwrite").partitionBy("__bucket").parquet(staged)
    )
    # a concurrent apply lands while the "compaction" is writing
    apply_batch(_envelope_df(spark, _mk_events([(3, "update", "C")])), table, 2)

    table.commit_merged_buckets(
        staged_dir=staged, affected_buckets=[0], lineage_row={"op": "compact"},
        base_buckets=base,
    )
    got = table.read_final().toPandas()
    assert list(got["text"]) == ["C"], "concurrent append lost by compaction swap"
    # blind swap (no base) would have produced 'B' — guard the guard:
    assert table.read_raw(buckets=[0]).count() >= 2


def test_async_compaction_overlaps_and_converges(spark, small_log, tmp_path):
    """End-to-end stream with background compaction enabled (default):
    final state equals the oracle and the stream joins the in-flight
    compaction before finishing."""
    log, oracle = small_log
    wal = str(tmp_path / "wal")
    write_wal_chunks(log, wal, n_chunks=6)
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    run = run_wal_stream(
        spark, wal, table, str(tmp_path / "ckpt"),
        ApplyConfig(compact_max_files=1),
        max_files_per_trigger=2,
    )
    assert run.error is None
    assert any(m.compacted_buckets > 0 for m in run.metrics)
    from audience_behavior_semantic_etl_spark.cdc.apply import _COMPACTIONS

    assert table.root not in _COMPACTIONS, "compaction left dangling after stream"
    check_equal(table_to_pandas(table), oracle)


def test_read_key_point_lookup_prunes_to_one_bucket(spark, small_log, tmp_path):
    """read_key resolves one conversation touching only its bucket's
    files — O(bucket), not O(table)."""
    log, oracle = small_log
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=8)
    apply_batch(_envelope_df(spark, log), table, 0)
    conv = oracle["conv_id"].iloc[0]
    got = table.read_key(conv).toPandas().sort_values("turn_idx")
    want = oracle[oracle["conv_id"] == conv].sort_values("turn_idx")
    assert list(got["text"]) == list(want["text"])
    n_total = sum(len(fs) for fs in table.manifest().buckets.values())
    n_scanned = len(table.read_key(conv).inputFiles())
    assert n_scanned < n_total, "point lookup scanned the whole table"


def test_delta_and_compacted_files_are_key_sorted(spark, tmp_path):
    """Every delta file an apply adopts, and every file a compaction
    rewrites, is sorted by (conv_id, turn_idx) — what read_key's
    per-file ranges and parquet row-group pruning rely on. 16 buckets
    over 4 write tasks puts several buckets in each task."""
    import pyarrow.parquet as pq

    def unsorted_files(t):
        bad = []
        for fs in t.manifest().buckets.values():
            for rel in fs:
                keys = pq.read_table(
                    os.path.join(t.root, rel), columns=["conv_id", "turn_idx"]
                ).to_pylist()
                ordered = [(r["conv_id"], r["turn_idx"]) for r in keys]
                if ordered != sorted(ordered):
                    bad.append(rel)
        return bad

    log = generate_change_log(GenConfig(seed=5, n_convs=300, mean_turns=4))
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=16)
    apply_batch(
        _envelope_df(spark, log), table, 0,
        ApplyConfig(shuffle_partitions=4, auto_compact=False),
    )
    assert unsorted_files(table) == []
    table.compact_buckets(list(range(16)), shuffle_partitions=4)
    assert unsorted_files(table) == []


def test_read_changes_incremental(spark, tmp_path):
    """Incremental CDC-out: each window returns exactly the row versions
    its append commits wrote (tombstones included). A compaction in the
    window contributes nothing, so a window across it stays incremental;
    a rollback in the window is refused."""
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    v0 = table.manifest().version
    apply_batch(_envelope_df(spark, _mk_events([(1, "insert", "A"), (2, "update", "B")])), table, 0)
    v1 = table.manifest().version
    ch1 = table.read_changes(v0).toPandas()
    assert sorted(ch1["_lsn"]) == [1, 2]
    apply_batch(_envelope_df(spark, _mk_events([(3, "delete", "")])), table, 1)
    v2 = table.manifest().version
    ch2 = table.read_changes(v1, v2).toPandas()
    assert list(ch2["_lsn"]) == [3] and bool(ch2["_deleted"].iloc[0])
    assert sorted(table.read_changes(v0).toPandas()["_lsn"]) == [1, 2, 3]
    table.compact_buckets([int(b) for b in table.manifest().buckets])
    v3 = table.manifest().version
    assert table.read_changes(v2, v3).count() == 0, "a rewrite adds no row version"
    apply_batch(_envelope_df(spark, _mk_events([(9, "insert", "C")])), table, 2)
    assert list(table.read_changes(v3).toPandas()["_lsn"]) == [9]
    # windows spanning the compaction: exactly the appended row versions
    across = table.read_changes(v1).toPandas().sort_values("_lsn")
    assert list(across["_lsn"]) == [3, 9]
    assert list(across["_deleted"].fillna(False)) == [True, False]
    assert across["text"].iloc[1] == "C"
    assert sorted(table.read_changes(v0).toPandas()["_lsn"]) == [1, 2, 3, 9]
    # a rollback drops row versions a consumer may hold: refused
    table.rollback(v1)
    with pytest.raises(ValueError, match="rollback"):
        table.read_changes(v2)


def test_watermarks_monotone_per_source_part(spark, small_log, tmp_path):
    """Snapshot watermarks advance monotonically per source partition
    and end at each part's max lsn."""
    log, _ = small_log
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    apply_batch(_envelope_df(spark, log), table, 0)
    wm = table.manifest().properties["watermarks"]
    data = log[log["op"] != "schema_change"]
    expect = data.groupby("source_part")["lsn"].max().to_dict()
    assert {int(k): v for k, v in wm.items()} == {int(k): int(v) for k, v in expect.items()}


def test_empty_wal_stream_noops(spark, tmp_path):
    import os

    wal = str(tmp_path / "wal")
    os.makedirs(wal)
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    run = run_wal_stream(spark, wal, table, str(tmp_path / "ckpt"))
    assert run.error is None
    assert table.read_final().count() == 0


def test_two_apps_track_exactly_once_independently(spark, tmp_path):
    """committed_batches is per app_id: a backfill app and a live app
    can interleave on one table; each no-ops only its own batch ids."""
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    live = ApplyConfig(app_id="live")
    backfill = ApplyConfig(app_id="backfill")
    apply_batch(_envelope_df(spark, _mk_events([(1, "insert", "A")])), table, 0, live)
    m = apply_batch(_envelope_df(spark, _mk_events([(2, "update", "B")])), table, 0, backfill)
    assert not m.skipped, "same batch id under a different app must apply"
    m2 = apply_batch(_envelope_df(spark, _mk_events([(3, "update", "C")])), table, 0, live)
    assert m2.skipped, "live's batch 0 already committed"
    assert list(table.read_final().toPandas()["text"]) == ["B"]


def test_widen_columns_upcasts_existing_files(spark, tmp_path):
    """int -> long widening is metadata-only: delta files written as
    int32 before the DDL are read back under the widened schema (native
    parquet upcast), and post-DDL rows exceed the int32 range."""
    from audience_behavior_semantic_etl_spark.cdc.schema import TRANSCRIPTS_V1_FIELDS

    from pyspark.sql import types as T

    cols = TRANSCRIPTS_V1_FIELDS + [("latency", T.IntegerType())]
    table = SnapshotTable.create(spark, str(tmp_path / "t"), columns=cols, n_buckets=2)

    def ev(lsn, op, payload, conv="conv-w"):
        return {
            "lsn": lsn,
            "ts": pd.Timestamp("2025-01-01"),
            "op": op,
            "conv_id": None if op == "schema_change" else conv,
            "turn_idx": None if op == "schema_change" else lsn,
            "payload": payload,
            "schema_ver": 1,
            "source_part": 0,
        }

    b0 = pd.DataFrame([ev(1, "insert", json.dumps({"role": "user", "text": "a", "latency": 7}))])
    apply_batch(_envelope_df(spark, b0), table, 0)
    assert dict(table.manifest().columns)["latency"] == "int"

    big = 2**40
    b1 = pd.DataFrame(
        [
            ev(2, "schema_change", json.dumps({"widen_columns": {"latency": "long"}})),
            ev(3, "insert", json.dumps({"role": "user", "text": "b", "latency": big})),
        ]
    )
    apply_batch(_envelope_df(spark, b1), table, 1)
    assert dict(table.manifest().columns)["latency"] == "long"
    got = table.read_final().orderBy("turn_idx").toPandas()
    assert list(got["latency"]) == [7, big]
    assert str(table.read_final().schema["latency"].dataType) == "LongType()"


def test_widen_columns_rejects_unsafe(spark, tmp_path):
    from pyspark.sql import types as T

    from audience_behavior_semantic_etl_spark.cdc.schema import TRANSCRIPTS_V1_FIELDS

    cols = TRANSCRIPTS_V1_FIELDS + [("latency", T.LongType())]
    table = SnapshotTable.create(spark, str(tmp_path / "t"), columns=cols, n_buckets=2)
    with pytest.raises(ValueError, match="unsafe promotion"):
        table.widen_columns({"latency": "int"})  # narrowing
    with pytest.raises(ValueError, match="unsafe promotion"):
        table.widen_columns({"text": "long"})
    with pytest.raises(ValueError, match="no such column"):
        table.widen_columns({"nope": "long"})


def test_quarantine_dead_letter_sink(spark, tmp_path):
    """Quarantine mode must not lose the poison PAYLOADS: malformed and
    null-key envelope rows land under _quarantine/app=<app>/batch=<id>
    as original, replayable envelope rows; re-delivery of the batch is
    a no-op that leaves the dead letters intact."""
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    pdf = _mk_events([(1, "insert", "GOOD"), (2, "insert", "BAD"), (3, "insert", "ORPHAN")])
    pdf.loc[1, "payload"] = "{not json"
    pdf.loc[1, "turn_idx"] = 1
    pdf.loc[2, "conv_id"] = None
    pdf.loc[2, "turn_idx"] = 2

    m = apply_batch(
        _envelope_df(spark, pdf), table, 0, ApplyConfig(on_malformed="quarantine")
    )
    assert m.malformed == 2
    got = table.read_final().toPandas()
    assert list(got["text"]) == ["GOOD"]

    q = table.read_quarantine().toPandas()
    assert sorted(q["lsn"]) == [2, 3], "exactly the two poison rows"
    assert "{not json" in set(q["payload"]), "original payload preserved"

    # exactly-once re-delivery: batch no-ops, dead letters untouched
    m2 = apply_batch(
        _envelope_df(spark, pdf), table, 0, ApplyConfig(on_malformed="quarantine")
    )
    assert m2.skipped
    assert table.read_quarantine().count() == 2

    # clean tables report an empty (schema-stable) quarantine
    t2 = SnapshotTable.create(spark, str(tmp_path / "t2"), n_buckets=2)
    assert t2.read_quarantine().count() == 0


def test_time_travel_survives_compaction(spark, tmp_path):
    """Compaction rewrites a bucket's live view into one delta, but the
    PRE-compaction version must stay readable (its manifest still
    references the original delta files, which compaction may not
    delete or mutate — only gc_orphans retires them)."""
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(_envelope_df(spark, _mk_events([(1, "insert", "V1")])), table, 0)
    v_pre = table.manifest().version
    apply_batch(_envelope_df(spark, _mk_events([(2, "update", "V2")])), table, 1)
    table.compact_buckets(list(range(2)))
    assert table.manifest().version > v_pre
    assert list(table.read_final().toPandas()["text"]) == ["V2"]
    assert list(table.read_final(version=v_pre).toPandas()["text"]) == ["V1"]


def test_crash_window_between_compaction_commit_and_next_apply(spark, tmp_path):
    """The async-compaction crash window (round-2 verdict #8): the app
    dies AFTER a background compaction commits but BEFORE the next
    apply (so the compaction was never joined and its staging dir may
    linger). The resumed process runs gc_orphans INSIDE the staging
    grace window first — maintenance-on-startup — then re-delivers the
    last batch and continues the stream. Required: zero data loss,
    every current-manifest file intact after GC, re-delivery no-ops,
    and the final state equals the independent LWW oracle."""
    import os

    from audience_behavior_semantic_etl_spark.cdc.apply import _COMPACTIONS, _spawn_compaction

    log = generate_change_log(GenConfig(seed=17, n_convs=40))
    oracle = expected_final_state(log)
    cuts = log["lsn"].quantile([0.34, 0.67]).tolist()
    batches = [
        log[log["lsn"] <= cuts[0]],
        log[(log["lsn"] > cuts[0]) & (log["lsn"] <= cuts[1])],
        log[log["lsn"] > cuts[1]],
    ]
    assert all(len(b) for b in batches)

    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    cfg = ApplyConfig(auto_compact=False, shuffle_partitions=4)
    apply_batch(_envelope_df(spark, batches[0]), table, 0, cfg)
    apply_batch(_envelope_df(spark, batches[1]), table, 1, cfg)

    # background compaction COMMITS (thread completes) ...
    buckets = [int(b) for b, fs in table.manifest().buckets.items() if fs]
    _spawn_compaction(table, buckets, 4)
    th, err = _COMPACTIONS[table.root]
    th.join()
    assert not err, f"compaction failed: {err}"
    v_compacted = table.manifest().version
    # ... and the process dies HERE: nothing joins the compaction, the
    # next apply never runs. A new process has an empty registry.
    _COMPACTIONS.pop(table.root, None)

    # resume from a fresh handle; startup maintenance runs GC inside
    # the grace window (any not-yet-reclaimed staging dir is younger
    # than the window and MUST survive)
    t2 = SnapshotTable(spark, table.root)
    t2.gc_orphans(keep_versions=1, staging_grace_seconds=3600.0)
    m = t2.manifest()
    assert m.version == v_compacted, "GC must not move the table version"
    for fs in m.buckets.values():
        for f in fs:
            assert os.path.exists(os.path.join(t2.root, f)), f"GC deleted live file {f}"
    check_equal(table_to_pandas(t2), expected_final_state(log[log["lsn"] <= cuts[1]]))

    # exactly-once: the stream re-delivers batch 1 on resume -> no-op
    m_re = apply_batch(_envelope_df(spark, batches[1]), t2, 1, cfg)
    assert m_re.skipped, "re-delivered pre-crash batch must no-op"
    assert t2.manifest().version == v_compacted

    # the stream continues; final state converges to the full oracle
    apply_batch(_envelope_df(spark, batches[2]), t2, 2, cfg)
    check_equal(table_to_pandas(t2), oracle)


def test_safe_dirname_distinct_apps_stay_disjoint():
    """Sanitization must keep path-hostile-but-distinct app ids in
    DISJOINT quarantine directories: 'etl/prod' and 'etl_prod' collide
    under plain character replacement, which would let overwrite-mode
    quarantine writes with overlapping batch ids clobber across apps."""
    from audience_behavior_semantic_etl_spark.cdc.table import _safe_dirname

    a, b = _safe_dirname("etl/prod"), _safe_dirname("etl_prod")
    assert a != b
    assert "/" not in a and ".." not in a
    # clean ids are unchanged (existing layouts keep their paths)
    assert _safe_dirname("etl_prod") == "etl_prod"
    assert _safe_dirname("app-1.x") == "app-1.x"
    # sanitization is deterministic
    assert _safe_dirname("etl/prod") == a


# ------------------------------------------------------------ bootstrap

def _boot_env(spark, rows):
    """rows: (lsn, op, conv_id, turn_idx, text) -> envelope frame."""
    import datetime

    pdf = pd.DataFrame(
        [
            {
                "lsn": lsn,
                "ts": datetime.datetime(2024, 1, 1, 0, 0, lsn % 60),
                "op": op,
                "conv_id": conv,
                "turn_idx": turn,
                "payload": "{}" if op == "delete" else json.dumps(
                    {"role": "user", "text": text, "ts": "2024-01-01T00:00:00"}
                ),
                "schema_ver": 1,
                "source_part": 0,
            }
            for lsn, op, conv, turn, text in rows
        ]
    )
    return _envelope_df(spark, pdf)


def test_bootstrap_fence_blocks_resurrection(spark, tmp_path):
    """A key deleted BEFORE the snapshot has no tombstone in the
    snapshot. Under at-least-once delivery with NO per-key contiguity
    guarantee (unordered WAL-chunk replay, partial re-listing), the
    tail can re-send the key's old insert WITHOUT its later delete —
    the delete's chunk was acked in a finished epoch. The snapshot-LSN
    fence must drop the stray insert; WITHOUT the fence the key
    demonstrably resurrects in the FINAL state (negative control),
    proving the fence is load-bearing, not belt-and-braces. (A
    contiguous-suffix overlap converges either way — LWW + the
    redelivered tombstone — but only transiently-correctly: between the
    insert's batch and the delete's batch readers see the ghost row.)"""
    from audience_behavior_semantic_etl_spark.cdc.apply import bootstrap_snapshot

    # full source history: a inserted @1, deleted @5; b @2; snapshot @6.
    # The replayed subset below re-sends insert(a)@1 but NOT delete(a)@5.
    snap_lsn = 6  # snapshot state: only b lives
    snapshot = spark.createDataFrame(
        [("b", 0, "user", "keep", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp_ntz",
    )
    tail = _boot_env(spark, [
        (1, "insert", "a", 0, "doomed"),   # stray pre-snapshot redelivery
        (9, "insert", "c", 0, "new"),      # genuine post-snapshot event
    ])
    cfg = ApplyConfig(app_id="boot", auto_compact=False, shuffle_partitions=4)

    t1 = SnapshotTable.create(spark, str(tmp_path / "fenced"), n_buckets=4)
    m = bootstrap_snapshot(snapshot, t1, snap_lsn, cfg)
    assert not m.skipped and m.events == 1
    assert t1.manifest().properties["snapshot_lsn"] == snap_lsn
    apply_batch(tail, t1, 0, cfg)
    got = {
        (r.conv_id, r.turn_idx): r.text for r in t1.read_final().collect()
    }
    assert got == {("b", 0): "keep", ("c", 0): "new"}  # no resurrection

    # negative control: identical load WITHOUT the fence property
    t2 = SnapshotTable.create(spark, str(tmp_path / "unfenced"), n_buckets=4)
    boot_env = _boot_env(spark, [(snap_lsn, "insert", "b", 0, "keep")])
    load_cfg = ApplyConfig(app_id="plainload", auto_compact=False, shuffle_partitions=4)
    apply_batch(boot_env, t2, 0, load_cfg)  # plain load, no fence recorded
    apply_batch(tail, t2, 0, cfg)
    keys2 = {(r.conv_id, r.turn_idx) for r in t2.read_final().collect()}
    assert ("a", 0) in keys2  # the hazard is real


def test_bootstrap_idempotent_resume(spark, tmp_path):
    """Re-running bootstrap_snapshot (crash-resume contract) skips the
    committed load and re-records the fence; tail batches re-applied
    after it still no-op."""
    from audience_behavior_semantic_etl_spark.cdc.apply import bootstrap_snapshot

    snapshot = spark.createDataFrame(
        [("x", 0, "user", "hello", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp_ntz",
    )
    cfg = ApplyConfig(app_id="boot2", auto_compact=False, shuffle_partitions=4)
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    assert not bootstrap_snapshot(snapshot, t, 10, cfg).skipped
    assert bootstrap_snapshot(snapshot, t, 10, cfg).skipped
    assert t.manifest().properties["snapshot_lsn"] == 10
    tail = _boot_env(spark, [(11, "insert", "y", 1, "world")])
    assert not apply_batch(tail, t, 0, cfg).skipped
    assert apply_batch(tail, t, 0, cfg).skipped
    assert {r.conv_id for r in t.read_final().collect()} == {"x", "y"}


# ------------------------------------------------------------ fan-out

def test_fanout_crash_between_tables(spark, tmp_path):
    """One WAL batch routed to two tables; crash after table A's
    commit but before B's. Resume re-delivers the batch through the
    fan-out: A skips via its ledger, B applies — both tables converge
    with no cross-table transaction."""
    from pyspark.sql import functions as F

    from audience_behavior_semantic_etl_spark.cdc.fanout import apply_batch_fanout

    rows = [
        (1, "insert", "a0", 0, "ea"),
        (2, "insert", "b1", 0, "ob"),
        (3, "insert", "c2", 0, "ec"),
        (4, "delete", "a0", 0, None),
        (5, "insert", "b1", 1, "ob2"),
    ]
    env = _boot_env(spark, rows)
    even = F.col("conv_id").isin("a0", "c2")
    odd = F.col("conv_id").isin("b1")
    ta = SnapshotTable.create(spark, str(tmp_path / "a"), n_buckets=4)
    tb = SnapshotTable.create(spark, str(tmp_path / "b"), n_buckets=4)
    ca = ApplyConfig(app_id="fan", auto_compact=False, shuffle_partitions=4)
    cb = ApplyConfig(app_id="fan", auto_compact=False, shuffle_partitions=4)

    # crash window: only table A's slice of batch 0 commits
    apply_batch(env.filter(even), ta, 0, ca)

    # resume: full fan-out re-delivery of batch 0
    res = apply_batch_fanout(
        env, {"A": (ta, even, ca), "B": (tb, odd, cb)}, 0
    )
    assert res["A"].skipped and not res["B"].skipped
    got_a = {(r.conv_id, r.turn_idx): r.text for r in ta.read_final().collect()}
    got_b = {(r.conv_id, r.turn_idx): r.text for r in tb.read_final().collect()}
    assert got_a == {("c2", 0): "ec"}
    assert got_b == {("b1", 0): "ob", ("b1", 1): "ob2"}


# ------------------------------------------------------------ partial updates

def _mk_sparse(rows):
    """rows: (lsn, op, payload_dict|None) on one fixed key."""
    return pd.DataFrame(
        [
            {
                "lsn": lsn,
                "ts": pd.Timestamp("2025-01-01") + pd.Timedelta(seconds=lsn),
                "op": op,
                "conv_id": "conv-p",
                "turn_idx": 0,
                "payload": json.dumps(payload) if payload is not None else "{}",
                "schema_ver": 1,
                "source_part": 0,
            }
            for lsn, op, payload in rows
        ]
    )


def _final_row(table):
    rows = table.read_final().collect()
    assert len(rows) <= 1
    return rows[0].asDict() if rows else None


def test_partial_update_chain(spark, tmp_path):
    """Sparse after-images overlay column-by-column onto the latest
    base; untouched columns keep their base values across batches."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(
        _envelope_df(
            spark,
            _mk_sparse([(1, "insert", {"role": "user", "text": "A", "ts": "2025-01-01T00:00:00"})]),
        ),
        t, 0,
    )
    apply_batch(_envelope_df(spark, _mk_sparse([(2, "update_partial", {"text": "B"})])), t, 1)
    apply_batch(_envelope_df(spark, _mk_sparse([(3, "update_partial", {"role": "asst"})])), t, 2)
    got = _final_row(t)
    assert (got["role"], got["text"]) == ("asst", "B")
    assert got["ts"] is not None and got["tool"] is None
    assert "patched_columns" in t.manifest().properties


def test_partial_explicit_null_beats_older_value(spark, tmp_path):
    """A patch SETTING a column to null must win — presence comes from
    the stored set-mask, never from value null-ness (the storage-level
    analog of the DuckDB arg_max NULL-skip hazard)."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(
        _envelope_df(spark, _mk_sparse([(1, "insert", {"role": "user", "text": "A"})])), t, 0
    )
    apply_batch(
        _envelope_df(spark, _mk_sparse([(2, "update_partial", {"text": None})])), t, 1
    )
    got = _final_row(t)
    assert got["text"] is None and got["role"] == "user"


def test_partial_full_base_resets_and_stale_patch_loses(spark, tmp_path):
    """A newer full-row update resets every column (patches below it
    die), and a STALE patch re-delivered in a later batch changes
    nothing."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(
        _envelope_df(spark, _mk_sparse([
            (1, "insert", {"role": "user", "text": "A"}),
            (2, "update_partial", {"text": "B"}),
        ])), t, 0,
    )
    apply_batch(
        _envelope_df(spark, _mk_sparse([(5, "update", {"role": "user", "text": "C"})])), t, 1
    )
    assert _final_row(t)["text"] == "C"
    apply_batch(  # stale patch, redelivered after the reset
        _envelope_df(spark, _mk_sparse([(2, "update_partial", {"text": "B"})])), t, 2
    )
    got = _final_row(t)
    assert got["text"] == "C" and got["tool"] is None


def test_partial_after_delete_is_dropped(spark, tmp_path):
    """UPDATE matched zero rows: a patch above a tombstone cannot
    resurrect the key; an orphan patch (no base ever) yields nothing."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(
        _envelope_df(spark, _mk_sparse([
            (1, "insert", {"role": "user", "text": "A"}),
            (2, "delete", None),
            (3, "update_partial", {"text": "ghost"}),
        ])), t, 0,
    )
    assert _final_row(t) is None
    t2 = SnapshotTable.create(spark, str(tmp_path / "t2"), n_buckets=2)
    apply_batch(
        _envelope_df(spark, _mk_sparse([(3, "update_partial", {"text": "orphan"})])), t2, 0
    )
    assert _final_row(t2) is None


def test_partial_survives_compaction(spark, tmp_path):
    """Compaction collapses the patch chain into a full-row base at the
    chain's max LSN; semantics are invisible — and a patch arriving
    AFTER compaction overlays the collapsed row correctly."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(
        _envelope_df(spark, _mk_sparse([
            (1, "insert", {"role": "user", "text": "A", "tool": "w"}),
            (2, "update_partial", {"text": "B"}),
        ])), t, 0,
    )
    before = _final_row(t)
    t.compact_buckets([0, 1])
    assert _final_row(t) == before
    assert t.read_raw().count() == 1, "chain must collapse to one base row"
    apply_batch(
        _envelope_df(spark, _mk_sparse([(9, "update_partial", {"role": "asst"})])), t, 1
    )
    got = _final_row(t)
    assert (got["role"], got["text"], got["tool"]) == ("asst", "B", "w")


def test_partial_read_key_and_row_tables_unaffected(spark, tmp_path):
    """read_key folds on partial tables; a table that never saw a
    patch keeps the row-LWW fast path (no patched_columns property)."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(
        _envelope_df(spark, _mk_sparse([
            (1, "insert", {"role": "user", "text": "A"}),
            (2, "update_partial", {"text": "B"}),
        ])), t, 0,
    )
    assert [r.text for r in t.read_key("conv-p").collect()] == ["B"]
    t2 = SnapshotTable.create(spark, str(tmp_path / "plain"), n_buckets=2)
    apply_batch(_envelope_df(spark, _mk_events([(1, "insert", "X")])), t2, 0)
    assert "patched_columns" not in t2.manifest().properties


def test_partial_with_schema_evolution(spark, tmp_path):
    """Patches compose with mid-stream schema evolution: after an
    add_columns DDL, a patch may set an evolved column (and ONLY it);
    a patch key that is not (yet) a table column is ignored by the
    mask (array_intersect with the manifest's names), not an error."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(
        _envelope_df(
            spark,
            _mk_sparse([
                (1, "insert", {"role": "user", "text": "A"}),
                # pre-evolution patch naming a column that doesn't exist
                # yet: unknown key dropped from the mask, no effect
                (2, "update_partial", {"tool_name": "early"}),
            ]),
        ),
        t, 0,
    )
    ddl = pd.DataFrame([{
        "lsn": 10,
        "ts": pd.Timestamp("2025-01-02"),
        "op": "schema_change",
        "conv_id": None,
        "turn_idx": None,
        "payload": json.dumps(
            {"add_columns": {"tool_name": "string", "tool_latency_ms": "long"}}
        ),
        "schema_ver": 2,
        "source_part": 0,
    }])
    patch = _mk_sparse([(11, "update_partial", {"tool_name": "t9"})])
    apply_batch(_envelope_df(spark, pd.concat([ddl, patch])), t, 1)
    got = _final_row(t)
    assert got["tool_name"] == "t9", "post-evolution patch must set the new column"
    assert got["text"] == "A" and got["role"] == "user", "base columns untouched"
    assert got["tool_latency_ms"] is None


def test_partial_through_wal_stream(spark, tmp_path):
    """Partial updates flow through the streaming WAL driver
    (readStream -> foreachBatch) unchanged: chunk boundaries become
    batch boundaries, and the fold result equals the same chain applied
    in one batch."""
    log = pd.concat([
        _mk_sparse([(1, "insert", {"role": "user", "text": "A", "tool": "w"})]),
        _mk_sparse([(2, "update_partial", {"text": "B"})]),
        _mk_sparse([(3, "update_partial", {"role": None})]),
    ]).reset_index(drop=True)
    log["turn_idx"] = log["turn_idx"].astype("Int32")
    log["lsn"] = log["lsn"].astype("int64")
    log["schema_ver"] = log["schema_ver"].astype("int32")
    log["source_part"] = log["source_part"].astype("int32")
    wal = str(tmp_path / "wal")
    write_wal_chunks(log, wal, n_chunks=3)
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    run = run_wal_stream(
        spark, wal, table, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    assert run.error is None
    assert len([m for m in run.metrics if not m.skipped]) == 3, "one batch per chunk"
    got = _final_row(table)
    assert (got["role"], got["text"], got["tool"]) == (None, "B", "w")
    assert "patched_columns" in table.manifest().properties


def test_incremental_view_over_partial_table(spark, tmp_path):
    """IncrementalView refresh on a partial-update table: the changed
    keys' groups are recomputed from the FOLD-resolved read, so a patch
    that changes one column flows into the materialized aggregate."""
    from audience_behavior_semantic_etl_spark.cdc.incremental import IncrementalView
    from pyspark.sql import functions as F

    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(
        _envelope_df(
            spark,
            _mk_sparse([
                (1, "insert", {"role": "user", "text": "alpha"}),
            ]),
        ),
        t, 0,
    )
    view = IncrementalView(
        t,
        str(tmp_path / "v"),
        lambda df: df.groupBy("conv_id").agg(F.max("text").alias("max_text")),
    )
    assert view.refresh()["mode"] == "full"
    apply_batch(
        _envelope_df(spark, _mk_sparse([(2, "update_partial", {"text": "zeta"})])), t, 1
    )
    r = view.refresh()
    assert r["mode"] == "incremental"
    rows = {x.conv_id: x.max_text for x in view.read().collect()}
    assert rows == {"conv-p": "zeta"}


def test_spark_generator_partial_replay_matches_oracle(spark, tmp_path):
    """The scale-path generator's partial_frac slice must satisfy the
    full replay contract: stream-replay of a WAL carrying sparse
    after-images (both patch shapes, redelivered duplicates included)
    equals the independent single-threaded column-fold reduction."""
    from audience_behavior_semantic_etl_spark.cdc.gen_spark import (
        generate_change_log_spark,
        write_wal_chunks_spark,
    )

    log_df = generate_change_log_spark(spark, seed=13, n_convs=300, partial_frac=0.4)
    wal = str(tmp_path / "wal")
    write_wal_chunks_spark(log_df, wal, n_chunks=6)

    log_pdf = spark.read.parquet(wal).toPandas()
    n_partial = int((log_pdf["op"] == "update_partial").sum())
    assert n_partial > 50, "partial_frac must actually produce patches"
    oracle = expected_final_state(log_pdf)

    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=8)
    run = run_wal_stream(spark, wal, table, str(tmp_path / "ckpt"), max_files_per_trigger=2)
    assert run.error is None
    assert "patched_columns" in table.manifest().properties
    check_equal(table_to_pandas(table), oracle)


def test_patched_columns_tracked_and_grow(spark, tmp_path):
    """The manifest's patched-column set grows monotonically with the
    masks actually seen, and fold reads stay correct as it grows (a
    never-patched column rides the winning-base struct; a column
    becomes per-column-aggregated the batch something patches it)."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(
        _envelope_df(
            spark,
            _mk_sparse([
                (1, "insert", {"role": "user", "text": "A", "tool": "w"}),
                (2, "update_partial", {"text": "B"}),
            ]),
        ),
        t, 0,
    )
    assert t.manifest().properties.get("patched_columns") == ["text"]
    got = _final_row(t)
    assert (got["role"], got["text"], got["tool"]) == ("user", "B", "w")
    apply_batch(
        _envelope_df(spark, _mk_sparse([(3, "update_partial", {"role": None})])), t, 1
    )
    assert t.manifest().properties.get("patched_columns") == ["role", "text"]
    got = _final_row(t)
    assert (got["role"], got["text"], got["tool"]) == (None, "B", "w")


# ------------------------------------------------------------- rebucket

def test_rebucket_semantics_invisible_and_prunes(spark, small_log, tmp_path):
    """Bucket-count evolution 8 -> 32: final state identical, the
    exactly-once ledger survives (a pre-rebucket batch id re-delivered
    after still no-ops), point lookups prune under the NEW transform,
    and new applies land under the new layout."""
    log, oracle = small_log
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=8)
    apply_batch(_envelope_df(spark, log), table, 0)
    before = table_to_pandas(table)
    table.rebucket(32)
    m = table.manifest()
    assert m.n_buckets == 32
    check_equal(table_to_pandas(table), before)
    # ledger preserved: re-delivery of batch 0 must still no-op
    assert apply_batch(_envelope_df(spark, log), table, 0).skipped
    # point lookup prunes with the new transform
    conv = oracle["conv_id"].iloc[0]
    got = table.read_key(conv).toPandas().sort_values("turn_idx")
    want = oracle[oracle["conv_id"] == conv].sort_values("turn_idx")
    assert list(got["text"]) == list(want["text"])
    n_total = sum(len(fs) for fs in m.buckets.values())
    assert len(table.read_key(conv).inputFiles()) < n_total
    # a post-rebucket apply lands and reads under the new layout
    apply_batch(_envelope_df(spark, _mk_events([(10**6, "insert", "post")])), table, 1)
    assert "post" in set(table.read_final().toPandas()["text"])


def test_rebucket_time_travel_uses_old_layout(spark, small_log, tmp_path):
    """Per-version manifests pin their own n_buckets: reading the
    pre-rebucket version (read_final and pruned read_key) still works
    against the old file set after the rewrite."""
    log, oracle = small_log
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=8)
    apply_batch(_envelope_df(spark, log), table, 0)
    v_old = table.manifest().version
    before = table_to_pandas(table)
    table.rebucket(4)
    got_old = (
        table.read_final(version=v_old)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    check_equal(got_old, before)
    conv = oracle["conv_id"].iloc[0]
    got = table.read_key(conv, version=v_old).toPandas().sort_values("turn_idx")
    want = oracle[oracle["conv_id"] == conv].sort_values("turn_idx")
    assert list(got["text"]) == list(want["text"])


def test_rebucket_partial_table_keeps_fold_semantics(spark, tmp_path):
    """Rebucketing a partial-update table collapses chains into bases
    (like compaction) without changing the visible state, keeps
    patched_columns, and a patch arriving AFTER the rewrite overlays
    the relocated row correctly."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(
        _envelope_df(spark, _mk_sparse([
            (1, "insert", {"role": "user", "text": "A", "tool": "w"}),
            (2, "update_partial", {"text": "B"}),
        ])), t, 0,
    )
    before = _final_row(t)
    t.rebucket(8)
    assert _final_row(t) == before
    assert t.manifest().properties.get("patched_columns") == ["text"]
    apply_batch(
        _envelope_df(spark, _mk_sparse([(9, "update_partial", {"role": "asst"})])), t, 1
    )
    got = _final_row(t)
    assert (got["role"], got["text"], got["tool"]) == ("asst", "B", "w")


def test_rebucket_conflict_aborts(spark, monkeypatch, tmp_path):
    """A commit landing between the rebucket's read and its commit
    aborts the rewrite (the staged files become GC orphans) — retained
    old-layout files would poison new-transform bucket pruning."""
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(_envelope_df(spark, _mk_events([(1, "insert", "A")])), table, 0)

    real_staging = SnapshotTable.new_staging_dir
    fired = []

    def racing_staging(self):
        # a concurrent apply commits while the rebucket is mid-rewrite
        # (fire once only: apply_batch itself stages, which would recurse)
        if not fired:
            fired.append(True)
            apply_batch(_envelope_df(spark, _mk_events([(2, "update", "B")])), self, 1)
        return real_staging(self)

    monkeypatch.setattr(SnapshotTable, "new_staging_dir", racing_staging)
    with pytest.raises(ValueError, match="concurrent commit"):
        table.rebucket(8)
    monkeypatch.undo()
    # table unharmed: old layout, both batches' effects visible
    assert table.manifest().n_buckets == 2
    assert list(table.read_final().toPandas()["text"]) == ["B"]


# ----------------------------------------------------------- file stats

def _mk_conv_events(rows):
    """rows: (lsn, conv_id, text) inserts at turn 0."""
    return pd.DataFrame(
        [
            {
                "lsn": lsn,
                "ts": pd.Timestamp("2025-01-01") + pd.Timedelta(seconds=lsn),
                "op": "insert",
                "conv_id": conv,
                "turn_idx": 0,
                "payload": json.dumps(
                    {"role": "user", "text": text, "tool": None,
                     "ts": "2025-01-01T00:00:00"}
                ),
                "schema_ver": 1,
                "source_part": 0,
            }
            for lsn, conv, text in rows
        ]
    )


def test_file_stats_prune_point_lookup(spark, tmp_path):
    """Per-file conv_id min/max stats land in the manifest at commit and
    read_key skips delta generations whose range can't hold the key —
    with one bucket, a lookup of a batch-2 conversation must not read
    batch 1's file."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=1)
    apply_batch(
        _envelope_df(
            spark,
            _mk_conv_events([(i, f"aaa-{i:04d}", f"old{i}") for i in range(20)]),
        ),
        t, 0,
    )
    apply_batch(
        _envelope_df(
            spark,
            _mk_conv_events([(100 + i, f"zzz-{i:04d}", f"new{i}") for i in range(20)]),
        ),
        t, 1,
    )
    m = t.manifest()
    all_files = [f for fs in m.buckets.values() for f in fs]
    stats = m.file_stats
    assert set(stats) == set(all_files), "every adopted file gets stats"
    for lo, hi in stats.values():
        assert lo <= hi
    got = t.read_key("zzz-0007")
    assert [r["text"] for r in got.collect()] == ["new7"]
    touched = got.inputFiles()
    assert len(touched) < len(all_files), "old-range file must be pruned"
    assert all("zzz" in open_stats_range(stats, f) for f in _rels_of(t, touched))


def _rels_of(table, abs_files):
    import os
    import urllib.parse
    out = []
    for f in abs_files:
        p = urllib.parse.unquote(f.replace("file:", ""))
        out.append(os.path.relpath(p, table.root))
    return out


def open_stats_range(stats, rel):
    lo, hi = stats[rel]
    return lo + hi


def test_file_stats_missing_admits_and_compaction_prunes_stale(
    spark, tmp_path, monkeypatch
):
    """A file with no stats entry is always read (pruning is
    correctness-safe), and a rewriting commit records exactly the live
    files' ranges. Compaction lands no batch: the ledger is unchanged."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=1)
    # stat-less files (a writer whose footers carry no usable stats)
    with monkeypatch.context() as mp:
        mp.setattr(SnapshotTable, "_collect_file_stats", lambda self, rels: {})
        apply_batch(
            _envelope_df(spark, _mk_conv_events([(1, "aaa", "A")])), t, 0)
        apply_batch(
            _envelope_df(spark, _mk_conv_events([(2, "zzz", "Z")])), t, 1)
    assert t.manifest().file_stats == {}
    # no stats -> lookups must still see everything
    assert [r["text"] for r in t.read_key("zzz").collect()] == ["Z"]
    ledger = dict(t.manifest().properties["committed_batches"])
    t.compact_buckets([0])
    m = t.manifest()
    assert m.properties["committed_batches"] == ledger
    ref = {f for fs in m.buckets.values() for f in fs}
    stats = m.file_stats
    assert set(stats) == ref, "post-compaction stats == exactly the live files"
    assert stats[next(iter(ref))] == ["aaa", "zzz"]
    assert [r["text"] for r in t.read_key("aaa").collect()] == ["A"]


def test_file_stats_time_travel_era_correct(spark, tmp_path):
    """Each version's manifest carries its own stats copy: a
    pre-rebucket version still prunes with its era's files."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(
        _envelope_df(
            spark, _mk_conv_events([(i, f"c-{i:03d}", f"t{i}") for i in range(10)])
        ),
        t, 0,
    )
    v_old = t.manifest().version
    t.rebucket(4)
    assert set(t.manifest(v_old).file_stats) == {
        f for fs in t.manifest(v_old).buckets.values() for f in fs
    }
    assert [r["text"] for r in t.read_key("c-003", version=v_old).collect()] == ["t3"]
    assert [r["text"] for r in t.read_key("c-003").collect()] == ["t3"]
    m = t.manifest()
    assert set(m.file_stats) == {
        f for fs in m.buckets.values() for f in fs
    }


# ----------------------------------------------------------------- tags

def test_tag_protects_version_from_gc(spark, tmp_path):
    """A tagged version survives compaction + aggressive GC: its
    manifest and data files stay readable (Iceberg tag retention),
    while untagged history expires; drop_tag releases it."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(_envelope_df(spark, _mk_conv_events([(1, "aaa", "A")])), t, 0)
    v_pin = t.create_tag("audit")
    pinned_state = [r["text"] for r in t.read_final(tag="audit").collect()]
    assert pinned_state == ["A"]
    # advance: overwrite the row, compact, GC hard
    apply_batch(_envelope_df(spark, _mk_conv_events([(2, "aaa", "B")])), t, 1)
    t.compact_buckets([0, 1])
    t.gc_orphans(keep_versions=1, staging_grace_seconds=0)
    # tagged version still fully readable after its files left the head
    assert [r["text"] for r in t.read_final(tag="audit").collect()] == ["A"]
    assert t.tags() == {"audit": v_pin}
    # current state unaffected
    assert [r["text"] for r in t.read_final().collect()] == ["B"]
    # re-tagging the same name is refused
    with pytest.raises(ValueError, match="already pins"):
        t.create_tag("audit")
    # release -> next GC expires the old files
    t.drop_tag("audit")
    t.gc_orphans(keep_versions=1, staging_grace_seconds=0)
    with pytest.raises(Exception):
        t.read_final(version=v_pin).collect()


def test_tag_unknown_and_bad_version(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(_envelope_df(spark, _mk_conv_events([(1, "aaa", "A")])), t, 0)
    with pytest.raises(FileNotFoundError):
        t.create_tag("nope", version=99)
    with pytest.raises(ValueError, match="no such tag"):
        t.resolve_tag("ghost")
    with pytest.raises(ValueError, match="no such tag"):
        t.drop_tag("ghost")


# ------------------------------------------------------------------ WAP
#
# Write-audit-publish is the audit-branch recipe: stage = create_branch
# + apply onto it, audit = read_final(ref=...), publish = fast_forward
# (or cherry_pick of the branch head when main moved), reject =
# drop_branch(force=True).

def _staged_files(t, branch):
    """Data files an audit branch holds beyond main's head."""
    on_main = {f for fs in t.manifest().buckets.values() for f in fs}
    return [
        f for fs in t.manifest(ref=branch).buckets.values() for f in fs
        if f not in on_main
    ]


def test_wap_stage_audit_publish(spark, tmp_path):
    """A batch applied onto an audit branch is INVISIBLE on main (state
    and ledger untouched), the branch read previews the would-be state,
    fast_forward lands it atomically with the ledger, and re-delivery
    then no-ops on main and on the branch."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    cfg = ApplyConfig(app_id="wap", auto_compact=False, shuffle_partitions=4)
    bcfg = ApplyConfig(app_id="wap", auto_compact=False, shuffle_partitions=4,
                       branch="audit")
    batch1 = _mk_conv_events([(2, "aaa", "A2"), (3, "bbb", "B")])
    apply_batch(_envelope_df(spark, _mk_conv_events([(1, "aaa", "A")])), t, 0, cfg)
    t.create_branch("audit")
    apply_batch(_envelope_df(spark, batch1), t, 1, bcfg)
    # invisible: reader state and exactly-once ledger unchanged
    assert [r["text"] for r in t.read_final().collect()] == ["A"]
    assert not t.is_batch_committed("wap", 1)
    audit = {r["conv_id"]: r["text"] for r in t.read_final(ref="audit").collect()}
    assert audit == {"aaa": "A2", "bbb": "B"}
    t.fast_forward("main", "audit")
    got = {r["conv_id"]: r["text"] for r in t.read_final().collect()}
    assert got == {"aaa": "A2", "bbb": "B"}
    assert t.is_batch_committed("wap", 1)
    assert apply_batch(_envelope_df(spark, batch1), t, 1, cfg).skipped
    assert apply_batch(_envelope_df(spark, batch1), t, 1, bcfg).skipped
    t.drop_branch("audit")  # published: no force needed
    assert t.branches() == {}


def test_wap_reject_then_redelivery_applies(spark, tmp_path):
    """Rejecting a staged batch drops its branch (files GC-protected
    while the branch lives, reclaimed after) and leaves main's ledger
    behind, so the stream's re-delivery re-applies the batch for real."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    cfg = ApplyConfig(app_id="wap", auto_compact=False, shuffle_partitions=4)
    bcfg = ApplyConfig(app_id="wap", auto_compact=False, shuffle_partitions=4,
                       branch="audit")
    apply_batch(_envelope_df(spark, _mk_conv_events([(1, "aaa", "A")])), t, 0, cfg)
    t.create_branch("audit")
    apply_batch(_envelope_df(spark, _mk_conv_events([(2, "bbb", "BAD")])), t, 1, bcfg)
    staged_files = _staged_files(t, "audit")
    assert staged_files
    # staged files survive GC while the branch is live
    deleted = t.gc_orphans(keep_versions=1, staging_grace_seconds=0)
    assert not set(deleted) & set(staged_files)
    with pytest.raises(ValueError, match="unpublished"):
        t.drop_branch("audit")
    t.drop_branch("audit", force=True)
    assert [r["text"] for r in t.read_final().collect()] == ["A"]
    deleted = t.gc_orphans(keep_versions=1, staging_grace_seconds=0)
    assert set(staged_files) <= set(deleted), "rejected files reclaimed"
    # re-delivery is NOT skipped (main's ledger never advanced); a
    # direct apply of the fixed batch lands
    m = apply_batch(_envelope_df(spark, _mk_conv_events([(2, "bbb", "GOOD")])), t, 1, cfg)
    assert not m.skipped
    assert sorted(r["text"] for r in t.read_final().collect()) == ["A", "GOOD"]


def test_wap_restage_is_idempotent(spark, tmp_path):
    """Re-delivery of a staged-but-unpublished batch onto its audit
    branch no-ops (the branch ledger holds it), and when main moved
    since the fork the batch publishes exactly once by cherry-picking
    the branch head."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    bcfg = ApplyConfig(app_id="wap", auto_compact=False, shuffle_partitions=4,
                       branch="audit")
    env = _envelope_df(spark, _mk_conv_events([(1, "aaa", "A")]))
    t.create_branch("audit")
    apply_batch(env, t, 0, bcfg)
    head = t.branches()["audit"]
    first_files = _staged_files(t, "audit")
    assert apply_batch(env, t, 0, bcfg).skipped  # re-delivered before publish
    assert t.branches()["audit"] == head and _staged_files(t, "audit") == first_files
    # main moves on (another app) — fast_forward is refused, pick instead
    apply_batch(
        _envelope_df(spark, _mk_conv_events([(5, "zzz", "Z")])), t, 0,
        ApplyConfig(app_id="other", auto_compact=False, shuffle_partitions=4),
    )
    with pytest.raises(ValueError, match="not an ancestor"):
        t.fast_forward("main", "audit")
    t.cherry_pick(head)
    t.drop_branch("audit", force=True)
    got = t.read_final().toPandas().sort_values("conv_id")
    assert list(got["text"]) == ["A", "Z"], "published exactly once"
    assert t.is_batch_committed("wap", 0)
    assert apply_batch(env, t, 0, ApplyConfig(app_id="wap", auto_compact=False)).skipped


def test_murmur3_parity_with_spark_hash(spark):
    """The driver-side Murmur3 mirror must equal F.hash (seed 42) on
    IntegerType — the exactness of the census-driven write placement
    (apply's slot tokens) rests on this."""
    import random

    from pyspark.sql import functions as F

    from audience_behavior_semantic_etl_spark.cdc.apply import (
        _murmur3_hash_int,
        _slot_tokens,
    )

    # every token a 256-slot placement can use, plus a seeded sample
    # across the whole int range, negatives included
    rng = random.Random(7)
    ints = list(range(max(_slot_tokens(256)) + 1))
    ints += [rng.randint(-(2**31), 2**31 - 1) for _ in range(2000)]
    rows = (
        spark.createDataFrame([(x,) for x in ints], "t int")
        .select("t", F.hash("t").alias("h"))
        .collect()
    )
    assert len(rows) == len(ints)
    assert all(r["h"] == _murmur3_hash_int(r["t"]) for r in rows)


def test_xxhash64_parity_with_spark(spark):
    """The driver-side XXH64 mirror must equal F.xxhash64 (seed 42) on
    strings, and ``bucket_of`` must equal ``bucket_expr`` — read_key
    finds its bucket with no Spark job on the strength of this. The
    sample covers every path of the hash: 0-80 characters (empty,
    under and over one 32-byte stripe, every 8/4/1-byte tail) and
    multi-byte UTF-8."""
    import random

    from pyspark.sql import functions as F

    from audience_behavior_semantic_etl_spark.cdc.table import (
        _xxhash64,
        bucket_expr,
        bucket_of,
    )

    rng = random.Random(11)
    alphabet = "abcXYZ019-_ é€𝄞"
    keys = ["", "conv-000001", "é", "€€", "𝄞"]
    keys += ["".join(rng.choice(alphabet) for _ in range(n)) for n in range(81)]
    keys += ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 80))) for _ in range(300)]
    rows = (
        spark.createDataFrame([(k,) for k in keys], "k string")
        .select(
            "k",
            F.xxhash64("k").alias("h"),
            bucket_expr(F.col("k"), 16).alias("b16"),
            bucket_expr(F.col("k"), 7).alias("b7"),
        )
        .collect()
    )
    assert len(rows) == len(keys)
    assert all(r["h"] == _xxhash64(r["k"].encode("utf-8")) for r in rows)
    assert all(r["b16"] == bucket_of(r["k"], 16) for r in rows)
    assert all(r["b7"] == bucket_of(r["k"], 7) for r in rows)


def test_slot_tokens_exact_placement(spark):
    """Each slot token must land in exactly its own partition under the
    DataFrame hash partitioner — zero collisions, zero empty slots —
    so apply's write placement is deterministic without a sampling
    pass (the repartitionByRange double-fire this replaced)."""
    import functools

    from pyspark.sql import functions as F

    from audience_behavior_semantic_etl_spark.cdc.apply import _slot_tokens

    ns = (3, 8, 32, 128)
    frames = []
    for n in ns:
        toks = _slot_tokens(n)
        df = spark.createDataFrame([(n, s, toks[s]) for s in range(n)], "n int, slot int, tok int")
        frames.append(df.repartition(n, F.col("tok")).select(
            "n", "slot", F.spark_partition_id().alias("pid")
        ))
    # one collect over the union: each branch keeps its own partitioner
    got = functools.reduce(lambda a, b: a.unionByName(b), frames).collect()
    assert len(got) == sum(ns)
    assert all(r["slot"] == r["pid"] for r in got)
