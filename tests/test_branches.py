"""Branch refs + fast-forward publish (the Iceberg audit-branch
pattern): commit isolation, ledger
inheritance and carry-over, strict fast-forward, global version
allocation across chains, per-ref GC retention, and branch-scoped
schema evolution.

Reference parity note: the reference engine has no refs at all — this
is part of the CDC/lake surface the Spark re-expression adds (see
README coverage map); semantics follow Iceberg branch/fast-forward
rules (branch = mutable named ref into the snapshot DAG, publish =
ancestor-checked pointer swing).
"""

from __future__ import annotations

import json

import pandas as pd
import pytest

from audience_behavior_semantic_etl_spark.cdc.apply import ApplyConfig, apply_batch
from audience_behavior_semantic_etl_spark.cdc.demo import check_equal, table_to_pandas
from audience_behavior_semantic_etl_spark.cdc.gen import (
    GenConfig,
    expected_final_state,
    generate_change_log,
)
from audience_behavior_semantic_etl_spark.cdc.schema import ENVELOPE_SCHEMA
from audience_behavior_semantic_etl_spark.cdc.table import SnapshotTable


@pytest.fixture(scope="module")
def log3():
    """A small change log split into 3 lsn-contiguous batches."""
    log = generate_change_log(GenConfig(seed=11, n_convs=40))
    log = log.sort_values("lsn", kind="mergesort").reset_index(drop=True)
    n = len(log)
    return [log.iloc[: n // 3], log.iloc[n // 3 : 2 * n // 3], log.iloc[2 * n // 3 :]], log


def _df(spark, pdf: pd.DataFrame):
    pdf = pdf.copy()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return spark.createDataFrame(pdf, schema=ENVELOPE_SCHEMA)


def test_branch_commits_invisible_on_main_until_fast_forward(spark, log3, tmp_path):
    batches, log = log3
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    apply_batch(_df(spark, batches[0]), table, batch_id=0)
    main_v = table.manifest().version
    main_state = table_to_pandas(table)

    fork_v = table.create_branch("audit")
    assert fork_v == main_v
    cfg = ApplyConfig(branch="audit")
    apply_batch(_df(spark, batches[1]), table, batch_id=1, cfg=cfg)
    apply_batch(_df(spark, batches[2]), table, batch_id=2, cfg=cfg)

    # main: untouched — same head version, same rows
    assert table.manifest().version == main_v
    check_equal(table_to_pandas(table), main_state)
    # branch: full-log LWW state
    check_equal(table_to_pandas(table, ref="audit"), expected_final_state(log))
    # refs metadata table lists both
    refs = {r["name"]: r for r in table.refs_df().collect()}
    assert refs["main"]["version"] == main_v
    assert refs["audit"]["version"] == table.manifest(ref="audit").version

    # publish: pointer swing only, then main == branch state
    table.fast_forward("main", "audit")
    check_equal(table_to_pandas(table), expected_final_state(log))
    # the branch ledger came with the pointer: re-delivery no-ops on main
    m = apply_batch(_df(spark, batches[2]), table, batch_id=2)
    assert m.skipped


def test_branch_inherits_fork_point_ledger(spark, log3, tmp_path):
    batches, _ = log3
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    apply_batch(_df(spark, batches[0]), table, batch_id=0)
    table.create_branch("b")
    # batch 0 already landed on main before the fork -> no-op on branch
    m = apply_batch(_df(spark, batches[0]), table, batch_id=0, cfg=ApplyConfig(branch="b"))
    assert m.skipped


def test_fast_forward_refuses_diverged_main(spark, log3, tmp_path):
    batches, _ = log3
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    apply_batch(_df(spark, batches[0]), table, batch_id=0)
    table.create_branch("b")
    apply_batch(_df(spark, batches[1]), table, batch_id=1, cfg=ApplyConfig(branch="b"))
    # main moves past the fork point -> not an ancestor of the branch head
    apply_batch(_df(spark, batches[2]), table, batch_id=2)
    with pytest.raises(ValueError, match="not an ancestor"):
        table.fast_forward("main", "b")
    # no-op fast-forward is fine (branch of main's own head)
    table.create_branch("noop")
    assert table.fast_forward("main", "noop") == table.manifest().version


def test_version_numbers_globally_unique_across_chains(spark, log3, tmp_path):
    batches, _ = log3
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    apply_batch(_df(spark, batches[0]), table, batch_id=0)
    table.create_branch("b")
    # interleave: branch commit, main commit, branch commit
    apply_batch(_df(spark, batches[1]), table, batch_id=1, cfg=ApplyConfig(branch="b"))
    apply_batch(_df(spark, batches[1]), table, batch_id=1)
    apply_batch(_df(spark, batches[2]), table, batch_id=2, cfg=ApplyConfig(branch="b"))
    vs = table._retained_versions()
    assert len(vs) == len(set(vs))
    # both chains walk back to the shared fork point
    fork = table.branches()["b"]
    assert fork >= 0
    assert table._is_ancestor(fork, table.manifest(ref="b").version)
    # main diverged, so neither head is an ancestor of the other
    assert not table._is_ancestor(table.manifest().version, table.manifest(ref="b").version)


def test_gc_protects_branch_chain_until_dropped(spark, log3, tmp_path):
    batches, log = log3
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    apply_batch(_df(spark, batches[0]), table, batch_id=0)
    table.create_branch("keepme")
    cfg = ApplyConfig(branch="keepme")
    apply_batch(_df(spark, batches[1]), table, batch_id=1, cfg=cfg)
    apply_batch(_df(spark, batches[2]), table, batch_id=2, cfg=cfg)
    # churn main well past the retention window
    for i in range(1, 5):
        apply_batch(_df(spark, batches[1]), table, batch_id=i, cfg=ApplyConfig(app_id=f"a{i}"))
    table.gc_orphans(keep_versions=1, staging_grace_seconds=0)
    # branch still fully readable after aggressive GC
    check_equal(table_to_pandas(table, ref="keepme"), expected_final_state(log))
    branch_head = table.branches()["keepme"]
    # unpublished commits: a plain drop refuses (the git -d vs -D rule)
    with pytest.raises(ValueError, match="unpublished"):
        table.drop_branch("keepme")
    table.drop_branch("keepme", force=True)
    table.gc_orphans(keep_versions=1, staging_grace_seconds=0)
    with pytest.raises(FileNotFoundError):
        table.manifest(branch_head)


def test_branch_schema_evolution_publishes_with_fast_forward(spark, tmp_path):
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    base = pd.DataFrame(
        [{
            "lsn": 1, "ts": pd.Timestamp("2025-01-01"), "op": "insert",
            "conv_id": "c", "turn_idx": 0,
            "payload": json.dumps({"role": "user", "text": "hi", "tool": None,
                                   "ts": "2025-01-01T00:00:00"}),
            "schema_ver": 1, "source_part": 0,
        }]
    )
    apply_batch(_df(spark, base), table, batch_id=0)
    table.create_branch("ddl")
    evo = pd.DataFrame(
        [
            {
                "lsn": 2, "ts": pd.Timestamp("2025-01-02"), "op": "schema_change",
                "conv_id": None, "turn_idx": None,
                "payload": json.dumps({"add_columns": {"model": "string"}}),
                "schema_ver": 2, "source_part": 0,
            },
            {
                "lsn": 3, "ts": pd.Timestamp("2025-01-02"), "op": "insert",
                "conv_id": "c", "turn_idx": 1,
                "payload": json.dumps({"role": "assistant", "text": "yo", "tool": None,
                                       "model": "m-1", "ts": "2025-01-02T00:00:00"}),
                "schema_ver": 2, "source_part": 0,
            },
        ]
    )
    apply_batch(_df(spark, evo), table, batch_id=1, cfg=ApplyConfig(branch="ddl"))
    # main schema untouched; branch evolved
    assert "model" not in {n for n, _ in table.manifest().columns}
    assert "model" in {n for n, _ in table.manifest(ref="ddl").columns}
    table.fast_forward("main", "ddl")
    got = table.read_final().toPandas().sort_values("turn_idx")
    assert list(got["model"]) == [None, "m-1"]


def test_branch_name_validation_and_duplicates(spark, tmp_path):
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    with pytest.raises(ValueError):
        table.create_branch("main")
    table.create_branch("x")
    with pytest.raises(ValueError, match="already exists"):
        table.create_branch("x")
    with pytest.raises(ValueError, match="no such branch"):
        table.drop_branch("y")
    with pytest.raises(ValueError, match="no such branch"):
        table.read_final(ref="y")


def test_rollback_to_tag_then_replay_converges(spark, log3, tmp_path):
    """Rollback is an ancestor-checked pointer swing that also rolls
    the exactly-once ledger back, so replaying the abandoned batches
    re-applies them and the table converges to the same final state."""
    batches, log = log3
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    apply_batch(_df(spark, batches[0]), table, batch_id=0)
    pinned = table.create_tag("after-b0")
    pinned_state = table_to_pandas(table)
    apply_batch(_df(spark, batches[1]), table, batch_id=1)
    apply_batch(_df(spark, batches[2]), table, batch_id=2)
    full_state = table_to_pandas(table)

    assert table.rollback(tag="after-b0") == pinned
    check_equal(table_to_pandas(table), pinned_state)
    # ledger rolled back with the manifest: batches 1-2 re-apply
    assert not table.is_batch_committed("cdc-apply", 1)
    m1 = apply_batch(_df(spark, batches[1]), table, batch_id=1)
    m2 = apply_batch(_df(spark, batches[2]), table, batch_id=2)
    assert not m1.skipped and not m2.skipped
    check_equal(table_to_pandas(table), full_state)
    check_equal(table_to_pandas(table), expected_final_state(log))


def test_rollback_refuses_non_ancestor_and_forward(spark, log3, tmp_path):
    batches, _ = log3
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    apply_batch(_df(spark, batches[0]), table, batch_id=0)
    head = table.manifest().version
    table.create_branch("b")
    apply_batch(_df(spark, batches[1]), table, batch_id=1, cfg=ApplyConfig(branch="b"))
    branch_head = table.manifest(ref="b").version
    # branch head is not on main's chain
    with pytest.raises(ValueError, match="not an ancestor"):
        table.rollback(version=branch_head)
    # no-op rollback to own head is fine
    assert table.rollback(version=head) == head
    with pytest.raises(ValueError, match="version or tag"):
        table.rollback()


def test_streaming_apply_onto_branch_with_kill_resume(spark, log3, tmp_path):
    """The full Structured Streaming path (run_wal_stream ->
    foreachBatch -> apply_batch) onto a branch, with the worst-case
    crash window (commit landed, checkpoint didn't): resume no-ops the
    re-delivered batch on the BRANCH ledger, main stays untouched
    throughout, and fast-forward publishes the converged state."""
    from audience_behavior_semantic_etl_spark.cdc.gen import write_wal_chunks
    from audience_behavior_semantic_etl_spark.cdc.stream import run_wal_stream

    _, log = log3
    wal = str(tmp_path / "wal")
    write_wal_chunks(log, wal, n_chunks=4)
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    table.create_branch("stream")
    cfg = ApplyConfig(branch="stream")
    ckpt = str(tmp_path / "ckpt")

    run1 = run_wal_stream(spark, wal, table, ckpt, cfg=cfg,
                          max_files_per_trigger=1, fail_after_batches=1)
    assert run1.error is not None
    assert table.manifest().version == 0, "main must not move"
    run2 = run_wal_stream(spark, wal, table, ckpt, cfg=cfg, max_files_per_trigger=1)
    assert run2.error is None
    assert len([m for m in run2.metrics if m.skipped]) == 1
    assert table.manifest().version == 0, "main must not move"
    table.fast_forward("main", "stream")
    check_equal(table_to_pandas(table), expected_final_state(log))


def test_concurrent_main_and_branch_writers(spark, log3, tmp_path):
    """Two writers committing concurrently — one onto main, one onto a
    branch — through the shared commit lock: no version collision, no
    lost commit, both chains independently correct. (On a real
    deployment the lock is the catalog CAS; here it is the flock on
    _commit.lock both threads contend on.)"""
    import threading

    batches, _ = log3
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    apply_batch(_df(spark, batches[0]), table, batch_id=0)
    table.create_branch("b")
    main_state_before = table_to_pandas(table)
    errs: list[Exception] = []

    def _main_writer():
        try:
            for i in (1, 2):
                apply_batch(_df(spark, batches[i]), table, batch_id=i,
                            cfg=ApplyConfig(app_id="m", auto_compact=False))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def _branch_writer():
        try:
            for i in (1, 2):
                apply_batch(_df(spark, batches[i]), table, batch_id=i,
                            cfg=ApplyConfig(app_id="b", branch="b",
                                            auto_compact=False))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    t1 = threading.Thread(target=_main_writer)
    t2 = threading.Thread(target=_branch_writer)
    t1.start(); t2.start(); t1.join(180); t2.join(180)
    assert not errs, errs
    vs = table._retained_versions()
    assert len(vs) == len(set(vs)), "version collision across chains"
    # both chains hold the identical full-log state, independently built
    _, log = log3
    check_equal(table_to_pandas(table), expected_final_state(log))
    check_equal(table_to_pandas(table, ref="b"), expected_final_state(log))
    assert len(main_state_before) <= len(table_to_pandas(table))


def test_tags_survive_rollback_and_stay_gc_protected(spark, log3, tmp_path):
    """Tags live in the ref store, not in manifests, so a rollback
    leaves them alone — a tag created AFTER the rollback target must
    stay resolvable and its pinned version must stay GC-protected
    (create_tag's 'protected until drop_tag' contract)."""
    batches, _ = log3
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    apply_batch(_df(spark, batches[0]), table, batch_id=0)
    early = table.create_tag("early")
    apply_batch(_df(spark, batches[1]), table, batch_id=1)
    late = table.create_tag("late")
    late_state = table_to_pandas(table)
    table.rollback(tag="early")
    # both tags still resolvable after the rollback
    assert table.resolve_tag("early") == early
    assert table.resolve_tag("late") == late
    table.gc_orphans(keep_versions=1, staging_grace_seconds=0)
    # the late tag's pinned version survived aggressive GC
    assert table.read_final(tag="late").count() == len(late_state)


def test_version_numbers_never_reused_after_rollback_and_gc(spark, log3, tmp_path):
    """The persisted high-water mark keeps version allocation monotone
    even when rollback + GC deletes the highest-numbered manifests —
    a checkpointed CDF consumer keyed on version numbers must never
    see a version reused with different contents."""
    batches, _ = log3
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    apply_batch(_df(spark, batches[0]), table, batch_id=0)
    fork = table.manifest().version
    apply_batch(_df(spark, batches[1]), table, batch_id=1)
    abandoned = table.manifest().version
    table.rollback(version=fork)
    table.gc_orphans(keep_versions=1, staging_grace_seconds=0)
    m = apply_batch(_df(spark, batches[1]), table, batch_id=1)
    assert not m.skipped
    assert table.manifest().version > abandoned, (
        "replayed commit must not reuse the abandoned version number"
    )


def test_fast_forward_survives_aggressive_gc_of_long_branch(spark, log3, tmp_path):
    """GC keeps a branch's chain down to its fork point (not just
    keep_versions hops), so fast_forward's ancestor walk still reaches
    main's head after default maintenance on a many-commit branch."""
    batches, log = log3
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    apply_batch(_df(spark, batches[0]), table, batch_id=0)
    table.create_branch("long")
    cfg_b = ApplyConfig(branch="long", auto_compact=False)
    # five branch commits > keep_versions
    for i, b in enumerate([batches[1], batches[2], batches[1], batches[2], batches[1]]):
        apply_batch(_df(spark, b), table, batch_id=i + 1,
                    cfg=ApplyConfig(branch="long", app_id=f"a{i}",
                                    auto_compact=False))
    table.gc_orphans(keep_versions=2, staging_grace_seconds=0)
    table.fast_forward("main", "long")
    check_equal(table_to_pandas(table), expected_final_state(log))


def test_cherry_pick_publishes_diverged_branch_commit_by_commit(spark, log3, tmp_path):
    """When main diverged after the fork, fast_forward is refused —
    cherry_pick re-applies the branch's append commits one by one:
    file additions + the ledger/watermark deltas ride each pick, so
    re-delivery of a picked batch no-ops on main."""
    # a DDL-free log: cherry_pick replicates APPEND commits only
    # (Iceberg parity) — schema evolution publishes via fast_forward
    log = generate_change_log(GenConfig(seed=13, n_convs=40, schema_change_at=2.0))
    log = log[log["op"] != "schema_change"]
    log = log.sort_values("lsn", kind="mergesort").reset_index(drop=True)
    n = len(log)
    batches = [log.iloc[: n // 3], log.iloc[n // 3 : 2 * n // 3], log.iloc[2 * n // 3 :]]
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    apply_batch(_df(spark, batches[0]), table, batch_id=0)
    fork = table.create_branch("b")  # the fork version, BEFORE branch commits
    apply_batch(_df(spark, batches[1]), table, batch_id=0,
                cfg=ApplyConfig(app_id="br", branch="b", auto_compact=False))
    apply_batch(_df(spark, batches[2]), table, batch_id=1,
                cfg=ApplyConfig(app_id="br", branch="b", auto_compact=False))
    # main diverges -> fast-forward refused
    apply_batch(_df(spark, batches[2]), table, batch_id=1)
    with pytest.raises(ValueError, match="not an ancestor"):
        table.fast_forward("main", "b")
    # pick the two branch commits, oldest first (walk the branch chain
    # from its head down to the recorded fork version)
    chain = []
    v = table.manifest(ref="b").version
    while v is not None and v != fork:
        chain.append(v)
        v = table.manifest(v).parent
    assert len(chain) == 2, chain
    for pv in reversed(chain):
        table.cherry_pick(pv)
    check_equal(table_to_pandas(table), expected_final_state(log))
    # the picked batches' ledger rode along: re-delivery no-ops on main
    assert apply_batch(_df(spark, batches[1]), table, batch_id=0,
                       cfg=ApplyConfig(app_id="br")).skipped
    # duplicate pick is a no-op, not a double-append
    n = table.read_final().count()
    assert table.cherry_pick(chain[-1]) is None
    assert table.read_final().count() == n


def test_cherry_pick_refuses_rewrite_commits(spark, log3, tmp_path):
    batches, _ = log3
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(_df(spark, batches[0]), table, batch_id=0)
    apply_batch(_df(spark, batches[1]), table, batch_id=1)
    table.compact_buckets([0, 1])
    compaction_v = table.manifest().version
    with pytest.raises(ValueError, match="rewrite commit"):
        table.cherry_pick(compaction_v)


def test_cherry_pick_carries_partial_update_semantics(spark, tmp_path):
    """A picked patch commit reads on the target exactly as on its
    branch: the pick turns on the column fold by unioning the patched
    columns, so untouched columns keep their base values
    instead of reading the patch row as an all-NULL full-row base."""
    import json as _json

    def env(lsn, op, payload):
        return _df(spark, pd.DataFrame([{
            "lsn": lsn,
            "ts": pd.Timestamp("2025-01-01") + pd.Timedelta(seconds=lsn),
            "op": op, "conv_id": "conv-p", "turn_idx": 0,
            "payload": _json.dumps(payload), "schema_ver": 1, "source_part": 0,
        }]))

    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    cfg = ApplyConfig(auto_compact=False, shuffle_partitions=4)
    apply_batch(env(1, "insert", {"role": "user", "text": "A",
                                  "ts": "2025-01-01T00:00:00"}), table, 0, cfg)
    table.create_branch("b")
    apply_batch(env(2, "update_partial", {"text": "B"}), table, 1,
                ApplyConfig(auto_compact=False, shuffle_partitions=4, branch="b"))
    table.cherry_pick(table.branches()["b"])
    cols = ["role", "text", "ts"]
    want = table.read_final(ref="b").select(*cols).collect()
    assert (want[0]["role"], want[0]["text"]) == ("user", "B")
    assert table.read_final().select(*cols).collect() == want
    props = table.manifest().properties
    assert "text" in props["patched_columns"]


def test_age_based_expiry_keeps_young_commits_beyond_window(spark, log3, tmp_path):
    """gc_orphans(max_age_seconds=...) is the Iceberg
    expire_snapshots(olderThan, retainLast) pair: keep_versions is the
    retain-last floor, the age bound extends retention for young
    commits and expires old ones past the floor. Commit timestamps are
    stamped into each manifest (committed_at) at write time; the test
    ages some manifests by rewriting that stamp (manifests are plain
    JSON on disk)."""
    import json as _json
    import os
    import time

    batches, _ = log3
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    for i in range(4):
        apply_batch(_df(spark, batches[i % 3]), table, batch_id=i,
                    cfg=ApplyConfig(app_id=f"a{i}", auto_compact=False))
    vs = table._retained_versions()
    assert len(vs) >= 5
    # everything young: age bound keeps the WHOLE chain past keep_versions=1
    deleted = table.gc_orphans(keep_versions=1, staging_grace_seconds=0,
                               max_age_seconds=3600)
    assert table._retained_versions() == vs, deleted
    # age the three oldest manifests far past the cutoff
    for v in vs[:3]:
        mp = os.path.join(table.root, "_manifests", f"v{v}.json")
        d = _json.loads(open(mp).read())
        d["properties"]["committed_at"] = time.time() - 10_000
        open(mp, "w").write(_json.dumps(d))
    table.gc_orphans(keep_versions=1, staging_grace_seconds=0,
                     max_age_seconds=3600)
    left = table._retained_versions()
    # the aged prefix is expired (walk stops at the first old commit),
    # the young suffix and the head survive
    assert vs[0] not in left and vs[-1] in left
    assert table.read_final().count() > 0
