"""Spark-free property test of the snapshot table's commit protocol:
every metadata operation goes through the one commit primitive, so a
seeded random sequence of them must keep the manifest DAG well formed
— each commit's parent is its ref's previous head, version numbers
only grow and are never reused, a declined (no-op) operation uses no
version, and every retained manifest parses. Also the changelog rule
(``commits.appended_files``) over hand-written manifests."""

from __future__ import annotations

import itertools
import os
import random

import pytest

from audience_behavior_semantic_etl_spark.cdc.commits import (
    ancestry,
    appended_files,
    commit_kind,
    head_version,
    read_manifest,
    write_manifest,
)
from audience_behavior_semantic_etl_spark.cdc.table import SnapshotTable

KEYS = ("conv_id", "turn_idx")


def _heads(t: SnapshotTable) -> dict[str, int]:
    return {"main": head_version(t.root), **t.branches()}


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_random_metadata_commits_keep_the_dag_well_formed(tmp_path, seed):
    rng = random.Random(seed)
    t = SnapshotTable.create(None, str(tmp_path / "t"), n_buckets=4)
    used = {0}
    dropped: list[str] = []
    fresh = itertools.count()

    for step in range(40):
        before = _heads(t)
        ref = rng.choice(sorted(before))
        m = t.manifest(ref=ref)
        cols = dict(m.columns)
        data = [c for c in cols if c not in KEYS]
        ints = [c for c in data if cols[c] == "int"]
        readd = [c for c in dropped if c not in cols]
        tags = sorted(t.tags())  # main's registry: rollbacks and fast-forwards move it
        ops = ["prop", "tag", "add", "add_noop", "widen_noop", "rename",
               "branch", "publish", "rollback"]
        ops += ["untag"] * bool(tags) + ["readd"] * bool(readd)
        ops += ["widen"] * bool(ints) + ["drop"] * (len(data) > 1)
        ops += ["ff"] * (len(before) > 1)
        op = rng.choice(ops)
        commits_on: str | None = ref  # the ref whose head must advance
        expected = dict(before)  # heads after an op that commits nothing

        if op == "prop":
            t.set_property(f"k{step}", step, ref=ref)
        elif op == "tag":
            assert t.create_tag(f"tag{step}") == before["main"]
            commits_on = "main"
        elif op == "untag":
            t.drop_tag(rng.choice(tags))
            commits_on = "main"
        elif op == "add":
            t.add_columns({f"c{next(fresh)}": "int"}, ref=ref)
        elif op == "readd":
            name = rng.choice(readd)
            was_used = name in (m.properties.get("used_physical") or []) or (
                name in t._phys_map(m).values()
            )
            t.add_columns({name: "int"}, ref=ref)
            phys = t.manifest(ref=ref).properties.get("physical_names", {})
            # a re-added name is a fresh field named after its OWN commit
            want = f"{name}__f{t.manifest(ref=ref).snapshot_id}" if was_used else name
            assert phys.get(name, name) == want
        elif op == "add_noop":
            name = rng.choice(list(cols))
            t.add_columns({name: cols[name]}, ref=ref)
            commits_on = None
        elif op == "widen":
            t.widen_columns({rng.choice(ints): "long"}, ref=ref)
        elif op == "widen_noop":
            name = rng.choice(list(cols))
            t.widen_columns({name: cols[name]}, ref=ref)
            commits_on = None
        elif op == "rename":
            t.rename_columns({rng.choice(data): f"c{next(fresh)}"}, ref=ref)
        elif op == "drop":
            dropped.append(rng.choice(data))
            t.drop_columns([dropped[-1]], ref=ref)
        elif op == "branch":
            assert t.create_branch(f"b{step}") == before["main"]
            expected[f"b{step}"] = before["main"]
            commits_on = None
        elif op == "publish":  # branch off main, commit there, fast-forward
            commits_on = f"p{step}"
            t.create_branch(commits_on)
            t.set_property("published", step, ref=commits_on)
            assert t.fast_forward("main", commits_on) == head_version(t.root, commits_on)
        elif op == "ff":
            br = rng.choice([r for r in before if r != "main"])
            if t._is_ancestor(before["main"], before[br]):
                assert t.fast_forward("main", br) == before[br]
                expected["main"] = before[br]
            else:
                with pytest.raises(ValueError):
                    t.fast_forward("main", br)
            commits_on = None
        else:  # rollback to a random ancestor, the head itself a no-op
            target = rng.choice([v for v, _ in ancestry(t.root, before[ref])])
            assert t.rollback(target, ref=ref) == target
            if target == before[ref]:
                commits_on = None

        after = _heads(t)
        if commits_on is None:
            assert after == expected, op
        else:
            new = after[commits_on]
            assert new > max(used), op  # strictly increasing, never reused
            used.add(new)
            d = read_manifest(t.root, new)
            # a new branch forks at main's head
            assert d["parent"] == before.get(commits_on, before["main"]), op
            assert commit_kind(d["files"], d["parent"])[0] == "metadata", op
            expected[commits_on] = new
            if op == "publish":
                expected["main"] = new
            assert after == expected, op
        assert t._retained_versions() == sorted(used), op
        for v in used:
            read_manifest(t.root, v)
        assert all(
            f.endswith(".json") for f in os.listdir(os.path.join(t.root, "_manifests"))
        )


def test_data_commits_store_exactly_their_file_delta(tmp_path):
    """Data commits state only their mutation: the stored ``files``
    section (added / removed files and their key ranges) is derived by
    the commit itself. Appends with stats, a bucket rewrite that removes
    files, a metadata commit and a rollback across them must each store
    exactly the in-test model's delta, and every version must
    reconstruct to the model's ``buckets`` and ``file_stats`` — from the
    state cache and again from disk alone."""
    from audience_behavior_semantic_etl_spark.cdc import table as table_mod

    t = SnapshotTable.create(None, str(tmp_path / "t"), n_buckets=4)
    model: dict[int, tuple[dict, dict]] = {0: ({}, {})}
    names = itertools.count()

    def files(n: int) -> list[str]:
        return [f"data/f-{next(names):04d}.parquet" for _ in range(n)]

    def check_all() -> None:
        for v, (buckets, stats) in model.items():
            m = t.manifest(v)
            assert {b: list(fs) for b, fs in m.buckets.items()} == buckets, v
            assert m.file_stats == stats, v

    def step(kind: str, commit, added: list[str], removed: list[str],
             shares: bool = True) -> int:
        """Run ``commit`` (returns the model's new state) and check it."""
        pv = head_version(t.root)
        pbuckets, pstats = model[pv]
        buckets, stats = commit({b: list(fs) for b, fs in pbuckets.items()}, dict(pstats))
        v = head_version(t.root)
        assert v > pv
        model[v] = (buckets, stats)
        d = read_manifest(t.root, v)
        got_kind, got_added, got_removed = commit_kind(d["files"], d["parent"])
        assert (got_kind, sorted(got_added), sorted(got_removed)) == (
            kind, sorted(added), sorted(removed)
        )
        assert d["files"]["stats_added"] == {f: stats[f] for f in added if f in stats}
        assert sorted(d["files"]["stats_removed"]) == sorted(
            f for f in removed if f in pstats
        )
        # a bucket the commit did not touch stays SHARED with the
        # parent's cached state: the commit diffed only what changed
        for b in pbuckets.keys() & buckets.keys() if shares else ():
            if pbuckets[b] == buckets[b]:
                assert t._state(v)[0][b] is t._state(pv)[0][b], (v, b)
        check_all()
        table_mod._STATE_CACHE.clear()
        check_all()
        return v

    def append(adds: dict[str, list[str]], ranges: dict[str, list[str]], batch: int):
        def commit(buckets, stats):
            def mutate(m):
                for b, rels in adds.items():
                    m.buckets[b] = list(m.buckets.get(b, [])) + rels
                m.file_stats.update(ranges)

            t._commit(mutate, lineage={"op": "append"}, ledger=("app", batch, {"0": batch}))
            for b, rels in adds.items():
                buckets[b] = buckets.get(b, []) + rels
            stats.update(ranges)
            return buckets, stats

        return step("append", commit, [f for rels in adds.values() for f in rels], [])

    a0, a1, a2 = files(2), files(1), files(1)  # a2[0] carries no range
    v1 = append(
        {"0": a0, "1": a1, "2": a2},
        {a0[0]: ["a", "c"], a0[1]: ["d", "f"], a1[0]: ["b", "b"]},
        0,
    )
    b0 = files(1)
    append({"0": b0}, {b0[0]: ["g", "k"]}, 1)
    # a resolved manifest is the cached state, uncopied: an in-place
    # edit of a bucket raises instead of corrupting the cache
    with pytest.raises(AttributeError):
        t.manifest().buckets["0"].append("data/f-stray.parquet")

    # bucket rewrite: bucket 0's three files fold into one
    c0 = files(1)

    def rewrite(buckets, stats):
        def mutate(m):
            m.buckets["0"] = list(c0)
            m.file_stats.update({c0[0]: ["a", "k"]})

        t._commit(mutate, lineage={"op": "compact"})
        for f in buckets["0"]:
            stats.pop(f, None)
        buckets["0"] = list(c0)
        stats[c0[0]] = ["a", "k"]
        return buckets, stats

    step("rewrite", rewrite, c0, a0 + b0)

    def prop(buckets, stats):
        t.set_property("owner", "x")
        return buckets, stats

    step("metadata", prop, [], [])

    def rollback(buckets, stats):
        t.rollback(v1)
        return {b: list(fs) for b, fs in model[v1][0].items()}, dict(model[v1][1])

    # a rollback restates every bucket from its target
    step("rewrite", rollback, a0, c0, shares=False)
    assert t.manifest().properties["committed_batches"] == {"app": 0}


# ------------------------------------------------ the changelog rule


def _write_chain(root, commits: list[tuple[dict, list, str | None]]) -> None:
    """Hand-written manifests v0..vN, each ``(added, removed, op)``: the
    fields ``appended_files`` reads (file delta, parent, lineage row).
    ``op`` None stores no ``summary`` key, as a manifest written before
    commits kept their own lineage row."""
    os.makedirs(os.path.join(root, "_manifests"))
    for v, (added, removed, op) in enumerate(commits):
        d = {
            "version": v,
            "parent": v - 1 if v else None,
            "files": {"added": added, "removed": removed},
        }
        if op:
            d["summary"] = {"op": op}
        write_manifest(root, v, d)


@pytest.fixture
def chain(tmp_path):
    root = str(tmp_path / "t")
    _write_chain(root, [
        ({}, [], None),                                # v0 create
        ({"0": ["d/a"]}, [], "apply"),                 # v1 append
        ({"0": ["d/b"], "1": ["d/c"]}, [], "apply"),   # v2 append
        ({"0": ["d/ab"]}, ["d/a", "d/b"], "compact"),  # v3 rewrite
        ({}, [], "set_property"),                      # v4 metadata
        ({"1": ["d/e"]}, [], "apply"),                 # v5 append
        ({"0": ["d/a", "d/b"]}, ["d/ab", "d/e"], "rollback"),  # v6 -> v2
        ({}, [], "rollback"),                          # v7 touches no file
        ({"1": ["d/f"]}, [], "apply"),                 # v8 append
        ({"1": ["d/cf"]}, ["d/c", "d/f"], None),       # v9 rewrite, no row
        ({"0": ["d/g"]}, [], "apply"),                 # v10 append
    ])
    return root


def test_changelog_delivers_appends_with_their_version(chain):
    assert appended_files(chain, 0, 2) == [("d/a", 1), ("d/b", 2), ("d/c", 2)]
    assert appended_files(chain, 1, 2) == [("d/b", 2), ("d/c", 2)]
    assert appended_files(chain, 2, 2) == []


def test_changelog_skips_rewrites_and_metadata(chain):
    # the compaction re-states a and b: it contributes nothing, and the
    # appends on either side of it flow through
    assert appended_files(chain, 2, 3) == []
    assert appended_files(chain, 1, 5) == [("d/b", 2), ("d/c", 2), ("d/e", 5)]
    assert appended_files(chain, 3, 4) == []
    # a rollback that touched no file is a metadata commit
    assert appended_files(chain, 6, 8) == [("d/f", 8)]


def test_changelog_refuses_a_rollback_that_changed_files(chain):
    for start in (0, 3, 5):
        with pytest.raises(ValueError, match="rollback at v6"):
            appended_files(chain, start, 8)


def test_changelog_refuses_a_rewrite_without_a_lineage_row(chain):
    # no summary: a compaction and a rollback look alike, so the
    # consumer must re-sync rather than skip what may be a rollback
    for start in (6, 8):
        with pytest.raises(ValueError, match="rewrite at v9"):
            appended_files(chain, start, 10)
    assert appended_files(chain, 9, 10) == [("d/g", 10)]


def test_changelog_over_a_pruned_window_raises(chain):
    os.remove(os.path.join(chain, "_manifests", "v2.json"))
    with pytest.raises(FileNotFoundError, match="v2.json"):
        appended_files(chain, 1, 5)
    # the window's own commits all retained: the pruned start is fine
    assert appended_files(chain, 2, 5) == [("d/e", 5)]
