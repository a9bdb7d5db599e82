"""Spark-free property test of the snapshot table's commit protocol:
every metadata operation goes through the one commit primitive, so a
seeded random sequence of them must keep the manifest DAG well formed
— each commit's parent is its ref's previous head, version numbers
only grow and are never reused, a declined (no-op) operation uses no
version, and every retained manifest parses."""

from __future__ import annotations

import itertools
import os
import random

import pytest

from audience_behavior_semantic_etl_spark.cdc.commits import (
    ancestry,
    commit_kind,
    head_version,
    read_manifest,
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
