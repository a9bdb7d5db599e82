"""Delta-manifest storage (round 5): per-commit file deltas + periodic
full rollups replace the round-4 full-file-map-per-commit format —
commit metadata is O(batch), reconstruction walks are bounded by
ROLLUP_EVERY, GC materializes boundary manifests in place, and the
schema-era / idempotence guards ride cherry_pick.

These pin the Iceberg manifest-file + manifest-list analog described
in the notes above ``Manifest`` (cdc/table.py)."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from audience_behavior_semantic_etl_spark.cdc.apply import ApplyConfig, apply_batch
from audience_behavior_semantic_etl_spark.cdc.schema import ENVELOPE_SCHEMA
from audience_behavior_semantic_etl_spark.cdc import table as table_mod
from audience_behavior_semantic_etl_spark.cdc.table import ROLLUP_EVERY, SnapshotTable


def _env(spark, rows, conv="conv-d"):
    pdf = pd.DataFrame(
        [
            {
                "lsn": lsn,
                "ts": pd.Timestamp("2025-01-01") + pd.Timedelta(seconds=lsn),
                "op": op,
                "conv_id": conv,
                "turn_idx": turn,
                "payload": json.dumps({"role": "user", "text": text})
                if op != "delete"
                else "{}",
                "schema_ver": 1,
                "source_part": 0,
            }
            for lsn, op, turn, text in rows
        ]
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return spark.createDataFrame(pdf, schema=ENVELOPE_SCHEMA)


def _mdict(t: SnapshotTable, v: int) -> dict:
    with open(os.path.join(t.root, "_manifests", f"v{v}.json")) as f:
        return json.load(f)


def test_appends_store_deltas_with_periodic_rollup(spark, tmp_path):
    """Append commits serialize O(batch) deltas; the chain rolls up to
    a full snapshot every ROLLUP_EVERY commits; reconstruction equals
    the incremental expectation at every version."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    versions = [t.manifest().version]
    for i in range(ROLLUP_EVERY + 4):
        apply_batch(
            _env(spark, [(i + 1, "insert", i, f"x{i}")]), t, batch_id=i,
            cfg=ApplyConfig(auto_compact=False),
        )
        versions.append(t.manifest().version)
    kinds = []
    for v in versions:
        d = _mdict(t, v)
        assert "files" in d, "new format everywhere"
        kinds.append("full" if d["files"]["full"] is not None else "delta")
    assert kinds[0] == "full", "create commit is a full base"
    assert kinds.count("full") >= 2, "a rollup landed mid-chain"
    assert kinds.count("delta") >= ROLLUP_EVERY - 1, "appends are deltas"
    # reconstruction: every version's live-file map equals the running
    # union of its chain's deltas
    expect: dict[str, list[str]] = {}
    for v in versions:
        d = _mdict(t, v)
        for b, fs in d["files"]["added"].items():
            expect.setdefault(b, []).extend(fs)
        m = t.manifest(v)
        assert {b: fs for b, fs in m.buckets.items() if fs} == {
            b: fs for b, fs in expect.items() if fs
        }
    # delta manifests carry no live-file map: their size must not grow
    # with the table (compare a late delta against the head rollup)
    delta_sizes = [
        os.path.getsize(os.path.join(t.root, "_manifests", f"v{v}.json"))
        for v, k in zip(versions, kinds)
        if k == "delta"
    ]
    full_sizes = [
        os.path.getsize(os.path.join(t.root, "_manifests", f"v{v}.json"))
        for v, k in zip(versions, kinds)
        if k == "full" and v > 0
    ]
    assert max(delta_sizes) < max(full_sizes), (
        "a delta manifest outgrew a full rollup — O(batch) claim broken"
    )
    # file stats ride the deltas: the head's reconstructed stats cover
    # every live file (footer stats recorded at adoption)
    m = t.manifest()
    live = {f for fs in m.buckets.values() for f in fs}
    assert set(m.file_stats) == live


def test_reconstruction_survives_cache_eviction(spark, tmp_path):
    """State reconstruction is disk-complete: clearing the cache and
    re-reading mid-chain versions reproduces identical file maps."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    for i in range(6):
        apply_batch(
            _env(spark, [(i + 1, "insert", i, f"x{i}")]), t, batch_id=i,
            cfg=ApplyConfig(auto_compact=False),
        )
    vs = t._retained_versions()
    before = {v: t.manifest(v).buckets for v in vs}
    table_mod._STATE_CACHE.clear()
    after = {v: t.manifest(v).buckets for v in vs}
    assert before == after


def test_gc_materializes_boundary_manifest(spark, tmp_path):
    """GC that drops a delta version's reconstruction parent rewrites
    the kept boundary manifest in place as full — same logical state,
    same add/remove summary — so reads and time travel keep working."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    for i in range(5):
        apply_batch(
            _env(spark, [(i + 1, "insert", i, f"x{i}")]), t, batch_id=i,
            cfg=ApplyConfig(auto_compact=False),
        )
    head = t.manifest().version
    assert _mdict(t, head)["files"]["full"] is None, "head is a delta"
    pre_added = _mdict(t, head)["files"]["added"]
    pre_buckets = t.manifest(head).buckets
    t.gc_orphans(keep_versions=2, staging_grace_seconds=0)
    kept = t._retained_versions()
    assert len(kept) == 2
    oldest = _mdict(t, kept[0])
    assert oldest["files"]["full"] is not None, "boundary materialized"
    table_mod._STATE_CACHE.clear()
    assert t.manifest(head).buckets == pre_buckets, "state unchanged"
    assert _mdict(t, head)["files"]["added"] == pre_added, (
        "head delta summary changed"
    )
    assert oldest["files"]["added"], (
        "materialized boundary lost its add summary (CDF/cherry-pick skip "
        "logic reads it)"
    )
    assert t.read_final().count() == 5


def test_stale_manifest_tmp_file_is_swept_not_parsed(spark, tmp_path):
    """A manifest write cut short leaves ``v{N}.json.tmp.<hex>`` behind.
    Listing readers must skip it (it is not a committed version) and
    the next GC pass must remove it."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    t.set_property("a", 1)
    t.set_property("b", 2)
    n_snaps = t.snapshots_df().count()
    man_dir = os.path.join(t.root, "_manifests")
    stale = os.path.join(man_dir, f"v{t.manifest().version + 1}.json.tmp.0123abcd")
    with open(stale, "w") as f:
        f.write('{"version": ')  # the truncated prefix a crash leaves
    t.gc_orphans()
    assert not os.path.exists(stale)
    with open(stale, "w") as f:
        f.write('{"version": ')
    assert t.startup_maintenance()["version"] == t.manifest().version
    assert not os.path.exists(stale)
    assert t.snapshots_df().count() == n_snaps


def test_gc_retains_chain_down_to_tagged_version(spark, tmp_path):
    """ADVICE r4 #2: a tag must stay REACHABLE, not merely readable —
    the parent-link path from main's head down to the tagged version
    survives GC, so rollback(tag=...) works after aggressive expiry."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(_env(spark, [(1, "insert", 0, "keep-me")]), t, batch_id=0,
                cfg=ApplyConfig(auto_compact=False))
    t.create_tag("pin")
    pinned = t.resolve_tag("pin")
    for i in range(6):
        apply_batch(
            _env(spark, [(i + 10, "insert", i + 1, f"y{i}")]), t, batch_id=i + 1,
            cfg=ApplyConfig(auto_compact=False),
        )
    t.gc_orphans(keep_versions=1, staging_grace_seconds=0)
    # the whole head->tag path is retained, so the ancestor walk holds
    assert t._is_ancestor(pinned, t.manifest().version)
    restored = t.rollback(tag="pin")
    assert restored == pinned
    assert list(t.read_final().toPandas()["text"]) == ["keep-me"]


def test_cherry_pick_refuses_schema_diverged_commit(spark, tmp_path):
    """ADVICE r4 #1 (medium): a branch data commit written after
    branch-side DDL must not be picked onto a target with a different
    column set — the pick is refused, the target ledger untouched."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(_env(spark, [(1, "insert", 0, "base")]), t, batch_id=0)
    t.create_branch("ddl")
    t.add_columns({"model": "string"}, ref="ddl")
    apply_batch(
        _env(spark, [(2, "insert", 1, "after-ddl")]), t, batch_id=0,
        cfg=ApplyConfig(app_id="br", branch="ddl", auto_compact=False),
    )
    branch_head = t.manifest(ref="ddl").version
    ledger_before = dict(t.manifest().properties.get("committed_batches", {}))
    with pytest.raises(ValueError, match="schema era"):
        t.cherry_pick(branch_head)
    assert dict(t.manifest().properties.get("committed_batches", {})) == ledger_before
    # same columns on both sides: the pick goes through
    t.add_columns({"model": "string"})
    assert t.cherry_pick(branch_head) is not None
    assert t.read_final().count() == 2


def test_add_columns_fresh_physical_suffix_matches_committed_snapshot_id(spark, tmp_path):
    """The __f suffix of a re-added column is the full snapshot id of
    the commit that adds it — known before the commit, so a batch can
    plan the name, and table-globally unique across ref chains."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    t.add_columns({"model": "string"})
    t.drop_columns(["model"])
    t.add_columns({"model": "string"})
    m = t.manifest()
    phys = m.properties["physical_names"]["model"]
    assert phys == f"model__f{m.snapshot_id}" and len(m.snapshot_id) == 32, phys


def test_state_cache_eviction_thread_safe(spark, tmp_path, monkeypatch):
    """Concurrent reconstruction under a tiny cache ceiling: background
    compaction threads race the apply thread through _state() in
    production, and an unguarded eviction double-deletes (KeyError mid
    commit). Hammer manifest() from many threads across more versions
    than the cache holds; every read must return the right state and
    no thread may die."""
    import threading

    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    for i in range(12):
        apply_batch(
            _env(spark, [(i + 1, "insert", i, f"x{i}")]), t, batch_id=i,
            cfg=ApplyConfig(auto_compact=False),
        )
    versions = t._retained_versions()
    expected = {v: t.manifest(v).buckets for v in versions}
    monkeypatch.setattr(table_mod, "_STATE_CACHE_MAX", 4)
    table_mod._STATE_CACHE.clear()
    errors: list[BaseException] = []

    def worker(seed: int) -> None:
        try:
            for k in range(60):
                v = versions[(seed + k) % len(versions)]
                assert t.manifest(v).buckets == expected[v]
        except BaseException as e:  # noqa: BLE001 - surfaced below
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(s,)) for s in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors


def _env_model(spark, rows, conv="conv-d"):
    """_env plus a 'model' payload field (branch-era added column)."""
    pdf = pd.DataFrame(
        [
            {
                "lsn": lsn,
                "ts": pd.Timestamp("2025-01-01") + pd.Timedelta(seconds=lsn),
                "op": op,
                "conv_id": conv,
                "turn_idx": turn,
                "payload": json.dumps(
                    {"role": "user", "text": text, "model": model}
                ),
                "schema_ver": 1,
                "source_part": 0,
            }
            for lsn, op, turn, text, model in rows
        ]
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return spark.createDataFrame(pdf, schema=ENVELOPE_SCHEMA)


def test_replay_commit_lands_schema_diverged_batch(spark, tmp_path):
    """The escape hatch the cherry_pick schema-era guard points at:
    replay_commit re-derives a branch commit's rows under the BRANCH
    era and re-applies them through the normal apply path under the
    TARGET era — a column the target lacks folds away, a column it has
    receives the value, and the replayed (app_id, batch_id) rides the
    exactly-once ledger so re-delivery no-ops."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(_env(spark, [(1, "insert", 0, "base")]), t, batch_id=0)
    t.create_branch("ddl")
    t.add_columns({"model": "string"}, ref="ddl")
    apply_batch(
        _env_model(spark, [(2, "insert", 1, "after-ddl", "m-1")]), t, batch_id=0,
        cfg=ApplyConfig(app_id="br", branch="ddl", auto_compact=False),
    )
    v1 = t.manifest(ref="ddl").version
    with pytest.raises(ValueError, match="schema era"):
        t.cherry_pick(v1)
    # replay instead: main lacks 'model', so the value folds away but
    # the row lands under main's schema
    m1 = t.replay_commit(v1)
    assert not m1.skipped
    pdf = t.read_final().toPandas().sort_values("turn_idx")
    assert list(pdf["text"]) == ["base", "after-ddl"]
    assert "model" not in pdf.columns
    # exactly-once: the replayed batch is on main's ledger now
    assert t.is_batch_committed("br", 0)
    assert t.replay_commit(v1).skipped
    # target gains the column -> a later branch batch replays WITH it
    t.add_columns({"model": "string"})
    apply_batch(
        _env_model(spark, [(3, "insert", 2, "third", "m-2")]), t, batch_id=1,
        cfg=ApplyConfig(app_id="br", branch="ddl", auto_compact=False),
    )
    v2 = t.manifest(ref="ddl").version
    assert not t.replay_commit(v2).skipped
    pdf = t.read_final().toPandas().sort_values("turn_idx")
    assert list(pdf["text"]) == ["base", "after-ddl", "third"]
    assert list(pdf["model"].fillna("-")) == ["-", "-", "m-2"]


def test_replay_commit_refuses_ddl_and_rewrite_commits(spark, tmp_path):
    """A metadata-only commit carries no batch (refused here); a
    rewrite commit's row set is relative to a base the target may not
    share (refused by read_changes)."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(_env(spark, [(1, "insert", 0, "x")]), t, batch_id=0,
                cfg=ApplyConfig(auto_compact=False))
    t.create_branch("b")
    t.add_columns({"model": "string"}, ref="b")
    ddl_v = t.manifest(ref="b").version
    with pytest.raises(ValueError, match="single-batch"):
        t.replay_commit(ddl_v)
    apply_batch(_env(spark, [(2, "insert", 1, "y")]), t, batch_id=1,
                cfg=ApplyConfig(auto_compact=False))
    t.compact_buckets(list(range(2)))
    rewrite_v = t.manifest().version
    with pytest.raises(ValueError, match="rewrit|single-batch"):
        t.replay_commit(rewrite_v)


def test_replay_commit_translates_branch_renamed_columns(spark, tmp_path):
    """A branch that RENAMED a column (text -> content) and then wrote
    a batch replays onto a main that never renamed: the field is
    matched by PHYSICAL identity and re-keyed to main's name, so the
    value lands in main's 'text' instead of folding away as an unknown
    payload key (which the ledger commit would have made permanent)."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(_env(spark, [(1, "insert", 0, "base")]), t, batch_id=0)
    t.create_branch("ren")
    t.rename_columns({"text": "content"}, ref="ren")
    apply_batch(
        _env(spark, [(2, "insert", 1, "branch-payload")]), t, batch_id=0,
        cfg=ApplyConfig(app_id="br", branch="ren", auto_compact=False),
    )
    # the branch's envelope carried key 'text' (coalesced into content
    # via the branch's rename history); its stored physical is 'text'
    v = t.manifest(ref="ren").version
    assert not t.replay_commit(v).skipped
    pdf = t.read_final().toPandas().sort_values("turn_idx")
    assert list(pdf["text"]) == ["base", "branch-payload"]


def test_replay_commit_refuses_out_of_order_batches(spark, tmp_path):
    """The exactly-once ledger is a high-water mark: replaying an
    OLDER batch after a newer one cannot be verified to have landed,
    so it is refused instead of silently skipped."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(_env(spark, [(1, "insert", 0, "base")]), t, batch_id=0)
    t.create_branch("b")
    apply_batch(
        _env(spark, [(2, "insert", 1, "first")]), t, batch_id=0,
        cfg=ApplyConfig(app_id="br", branch="b", auto_compact=False),
    )
    v0 = t.manifest(ref="b").version
    apply_batch(
        _env(spark, [(3, "insert", 2, "second")]), t, batch_id=1,
        cfg=ApplyConfig(app_id="br", branch="b", auto_compact=False),
    )
    v1 = t.manifest(ref="b").version
    assert not t.replay_commit(v1).skipped  # newest first: ledger br=1
    with pytest.raises(ValueError, match="older than"):
        t.replay_commit(v0)
    # replaying the ledger's CURRENT batch stays an idempotent no-op
    assert t.replay_commit(v1).skipped
