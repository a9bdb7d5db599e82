"""RENAME / DROP schema evolution (cdc/table.py logical->physical
mapping — the name-based analog of Iceberg field ids):

- rename is metadata-only: stored column names are frozen, readers
  alias physical -> the snapshot's logical names, time travel is
  era-correct;
- pre-rename payloads (in-flight or re-delivered) coalesce into the
  renamed column via rename_history, so replay stays deterministic;
- drop is metadata-only and retires the physical name forever:
  re-adding the same name is a FRESH field — old file data can never
  resurface (Iceberg's field-id non-resurrection rule);
- partial-update masks store PHYSICAL names, so the column fold is
  correct across renames and across drop/re-add;
- compaction / rebucket / CDF streaming read and write the physical
  layout transparently.
"""

from __future__ import annotations

import json

import pandas as pd
import pytest

from audience_behavior_semantic_etl_spark.cdc.apply import ApplyConfig, apply_batch
from audience_behavior_semantic_etl_spark.cdc.schema import ENVELOPE_SCHEMA
from audience_behavior_semantic_etl_spark.cdc.commits import commit_kind, read_manifest
from audience_behavior_semantic_etl_spark.cdc.table import SnapshotTable


def _env(spark, rows, conv="conv-r", turn=0):
    """rows: (lsn, op, payload_dict_or_None)."""
    pdf = pd.DataFrame(
        [
            {
                "lsn": lsn,
                "ts": pd.Timestamp("2025-01-01") + pd.Timedelta(seconds=lsn),
                "op": op,
                "conv_id": None if op == "schema_change" else conv,
                "turn_idx": None if op == "schema_change" else turn,
                "payload": json.dumps(payload) if payload is not None else "{}",
                "schema_ver": 1,
                "source_part": 0,
            }
            for lsn, op, payload in rows
        ]
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return spark.createDataFrame(pdf, schema=ENVELOPE_SCHEMA)


def _row(table, **kw):
    rows = table.read_final(**kw).collect()
    assert len(rows) == 1
    return rows[0].asDict()


def test_rename_is_metadata_only_and_time_travels(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(_env(spark, [(1, "insert", {"role": "user", "text": "hello"})]), t, 0)
    v_before = t.manifest().version
    apply_batch(
        _env(spark, [
            (2, "schema_change", {"rename_columns": {"text": "content"}}),
            (3, "update", {"role": "user", "content": "world"}),
        ]),
        t, 1,
    )
    cols = [n for n, _ in t.manifest().columns]
    assert "content" in cols and "text" not in cols
    assert _row(t)["content"] == "world"
    # the stored (physical) name is frozen: no data file was rewritten
    assert t._phys_map()["content"] == "text"
    # time travel reads the OLD era under its own logical name
    old = t.read_final(version=v_before).collect()[0].asDict()
    assert old["text"] == "hello" and "content" not in old


def test_pre_rename_payload_coalesces_after_rename(spark, tmp_path):
    """A re-delivered / in-flight event still carrying the OLD payload
    key must land identically post-rename (replay determinism)."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(
        _env(spark, [
            (1, "insert", {"role": "user", "text": "a"}),
            (2, "schema_change", {"rename_columns": {"text": "content"}}),
        ]),
        t, 0,
    )
    # straggler with the former name, new name absent
    apply_batch(_env(spark, [(3, "update", {"role": "user", "text": "via-old-key"})]), t, 1)
    assert _row(t)["content"] == "via-old-key"
    # both keys present: the CURRENT name wins (it is the direct path)
    apply_batch(
        _env(spark, [(4, "update", {"role": "user", "content": "new", "text": "old"})]), t, 2
    )
    assert _row(t)["content"] == "new"


def test_canonicalization_follows_renamed_text(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(
        _env(spark, [(1, "schema_change", {"rename_columns": {"text": "content"}})]), t, 0
    )
    # NFD "é" (e + combining acute) must canonicalize to NFC, same as
    # it would under the original name
    apply_batch(
        _env(spark, [(2, "insert", {"role": "user", "content": "café"})]), t, 1
    )
    assert _row(t)["content"] == "café"


def test_drop_then_readd_does_not_resurrect(spark, tmp_path):
    """Iceberg field-id rule: a re-added column of the same name is a
    fresh field — values written under the dropped column must NOT
    reappear, while time travel still sees them in their own era."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(
        _env(spark, [(1, "insert", {"role": "user", "text": "a", "tool": "grep"})]), t, 0
    )
    v_with_tool = t.manifest().version
    apply_batch(_env(spark, [(2, "schema_change", {"drop_columns": ["tool"]})]), t, 1)
    assert "tool" not in _row(t)
    assert "tool" in {n for n, _ in t.manifest(v_with_tool).columns}
    assert t.read_final(version=v_with_tool).collect()[0]["tool"] == "grep"
    # post-drop payloads still carrying the column are ignored
    apply_batch(_env(spark, [(3, "update", {"role": "user", "text": "b", "tool": "sed"})]), t, 2)
    assert "tool" not in _row(t)
    # re-add: fresh field, suffixed physical name, old data unreadable
    apply_batch(
        _env(spark, [(4, "schema_change", {"add_columns": {"tool": "string"}})]), t, 3
    )
    assert t._phys_map()["tool"].startswith("tool__f")
    assert _row(t)["tool"] is None, "dropped-era value must not resurface"
    apply_batch(_env(spark, [(5, "update", {"role": "user", "text": "c", "tool": "awk"})]), t, 4)
    assert _row(t)["tool"] == "awk"


def test_partial_masks_survive_rename_and_readd(spark, tmp_path):
    """Masks store physical names: a patch applied before a rename
    still folds after it, and a patch on the dropped-era field never
    leaks into the re-added field."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(
        _env(spark, [
            (1, "insert", {"role": "user", "text": "a", "tool": "grep"}),
            (2, "update_partial", {"text": "patched"}),
            (3, "schema_change", {"rename_columns": {"text": "content"}}),
        ]),
        t, 0,
    )
    assert _row(t)["content"] == "patched"
    # patch under the former name after the rename: alias feeds the
    # renamed column, mask records its physical name
    apply_batch(_env(spark, [(4, "update_partial", {"text": "re-patched"})]), t, 1)
    assert _row(t)["content"] == "re-patched"
    # explicit-null patch under the new name wins
    apply_batch(_env(spark, [(5, "update_partial", {"content": None})]), t, 2)
    assert _row(t)["content"] is None
    # drop + re-add tool, then patch the NEW field: old patch/value eras
    # stay separated by the physical name. (The patch lands in a batch
    # BEFORE the DDL: within one micro-batch all DDL applies first —
    # the engine's documented batch semantics — so era separation is a
    # cross-batch guarantee.)
    apply_batch(_env(spark, [(6, "update_partial", {"tool": "old-era-patch"})]), t, 3)
    apply_batch(
        _env(spark, [
            (7, "schema_change", {"drop_columns": ["tool"]}),
            (8, "schema_change", {"add_columns": {"tool": "string"}}),
        ]),
        t, 4,
    )
    assert _row(t)["tool"] is None
    apply_batch(_env(spark, [(9, "update_partial", {"tool": "new-era"})]), t, 5)
    got = _row(t)
    assert got["tool"] == "new-era" and got["content"] is None and got["role"] == "user"


def test_compaction_and_rebucket_preserve_renamed_layout(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(
        _env(spark, [
            (1, "insert", {"role": "user", "text": "a"}),
            (2, "schema_change", {"rename_columns": {"text": "content"}}),
            (3, "update", {"role": "user", "content": "b"}),
        ]),
        t, 0,
    )
    assert t.compact_buckets([0, 1]) is not None
    assert _row(t)["content"] == "b"
    # compaction rewrote under the frozen physical name: a pre-rename
    # era read still resolves (files of v1 are untouched)
    t.rebucket(4)
    assert _row(t)["content"] == "b"
    assert t._phys_map()["content"] == "text"


def test_changelog_and_cdf_emit_logical_names(spark, tmp_path):
    from audience_behavior_semantic_etl_spark.cdc.cdf_source import TranscriptsCDF

    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(
        _env(spark, [
            (1, "insert", {"role": "user", "text": "a"}),
            (2, "schema_change", {"rename_columns": {"text": "content"}}),
        ]),
        t, 0,
    )
    v0 = 0
    apply_batch(_env(spark, [(3, "update", {"role": "user", "content": "b"})]), t, 1)
    ch = t.read_changes(v0)
    assert "content" in ch.columns and "text" not in ch.columns
    assert sorted(r["content"] for r in ch.collect()) == ["a", "b"]

    spark.dataSource.register(TranscriptsCDF)
    out = str(tmp_path / "cdf-out")
    q = (
        spark.readStream.format("transcripts_cdf")
        .option("path", t.root)
        .option("startingVersion", 0)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "cdf-ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    assert "content" in got.columns and "text" not in got.columns
    assert sorted(r["content"] for r in got.collect()) == ["a", "b"]


def test_rename_drop_validation(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    with pytest.raises(ValueError, match="key column"):
        t.rename_columns({"conv_id": "cid"})
    with pytest.raises(ValueError, match="no such column"):
        t.rename_columns({"nope": "x"})
    with pytest.raises(ValueError, match="collides"):
        t.rename_columns({"text": "role"})
    with pytest.raises(ValueError, match="key column"):
        t.drop_columns(["turn_idx"])
    with pytest.raises(ValueError, match="no such column"):
        t.drop_columns(["nope"])
    # swap via simultaneous rename is allowed (old names all released)
    t.rename_columns({"text": "tool", "tool": "text"})
    pm = t._phys_map()
    assert pm["tool"] == "text" and pm["text"] == "tool"


# -- one snapshot per micro-batch --------------------------------------


def _versions(t):
    return t._retained_versions()


def test_batch_with_ddl_and_patches_is_one_snapshot(spark, tmp_path):
    """A batch carrying a schema_change (add + rename) and partial
    updates adds exactly ONE version, holding the new columns, the
    has_partial / patched_columns flips and the batch's files."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(_env(spark, [(1, "insert", {"role": "user", "text": "a"})]), t, 0)
    before = _versions(t)
    apply_batch(
        _env(spark, [
            (2, "schema_change", {"add_columns": {"model": "string"},
                                  "rename_columns": {"text": "content"}}),
            (3, "update_partial", {"content": "b", "model": "m1"}),
        ]),
        t, 1,
    )
    after = _versions(t)
    assert len(after) == len(before) + 1, (before, after)
    m = t.manifest()
    assert m.version == after[-1]
    cols = [n for n, _ in m.columns]
    assert "model" in cols and "content" in cols and "text" not in cols
    assert m.properties["has_partial"] is True
    # masks and patched_columns hold PHYSICAL names: content is stored as text
    assert m.properties["patched_columns"] == ["model", "text"]
    kind, added, _ = commit_kind(read_manifest(t.root, m.version)["files"], m.parent)
    assert kind == "append" and added
    assert not [r for r in t.lineage() if r.get("op") == "set_property"]
    got = _row(t)
    assert (got["role"], got["content"], got["model"]) == ("user", "b", "m1")


def test_crash_between_ddl_and_data_does_not_wedge_the_stream(spark, tmp_path, monkeypatch):
    """The batch's DDL commits with its data: a crash before the data
    lands leaves no half-applied rename, so re-delivery lands the batch."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(_env(spark, [(1, "insert", {"role": "user", "text": "a"})]), t, 0)
    before = _versions(t)
    batch = _env(spark, [
        (2, "schema_change", {"rename_columns": {"text": "content"}}),
        (3, "insert", {"role": "user", "content": "b"}),
    ])
    adopt = SnapshotTable._adopt
    calls = []

    def crash_once(self, staged_dir, buckets):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("simulated crash before the data commit")
        return adopt(self, staged_dir, buckets)

    monkeypatch.setattr(SnapshotTable, "_adopt", crash_once)
    with pytest.raises(RuntimeError, match="simulated crash"):
        apply_batch(batch, t, 1)
    apply_batch(batch, t, 1)  # re-delivery
    assert _row(t)["content"] == "b"
    assert len(_versions(t)) == len(before) + 1


def test_schema_changes_in_one_batch_apply_in_lsn_order(spark, tmp_path):
    """Two schema_change rows of one batch apply by LSN, not by the
    order the batch delivers them: the add at lsn 2 precedes the
    rename of the added column at lsn 3."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(
        _env(spark, [
            (3, "schema_change", {"rename_columns": {"model": "engine"}}),
            (2, "schema_change", {"add_columns": {"model": "string"}}),
            (4, "insert", {"role": "user", "text": "a", "engine": "e1"}),
        ]),
        t, 0,
    )
    cols = [n for n, _ in t.manifest().columns]
    assert "engine" in cols and "model" not in cols
    assert _row(t)["engine"] == "e1"


def test_concurrent_schema_change_aborts_the_planned_batch(spark, tmp_path, monkeypatch):
    """A schema change landing on the ref between a batch's plan and its
    commit aborts the batch: nothing of it is committed, and a
    re-delivery applies under the new head."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    apply_batch(_env(spark, [(1, "insert", {"role": "user", "text": "a"})]), t, 0)
    ledger = dict(t.manifest().properties["committed_batches"])
    batch = _env(spark, [(2, "update", {"role": "user", "text": "b", "model": "m1"})])
    adopt = SnapshotTable._adopt
    adopted: list[str] = []

    def adopt_then_race(self, staged_dir, buckets):
        out, stats = adopt(self, staged_dir, buckets)
        adopted.extend(f for fs in out.values() for f in fs)
        self.add_columns({"model": "string"})  # the competing writer
        return out, stats

    monkeypatch.setattr(SnapshotTable, "_adopt", adopt_then_race)
    with pytest.raises(ValueError, match="concurrent schema change"):
        apply_batch(batch, t, 1)
    monkeypatch.undo()
    m = t.manifest()
    assert m.properties["committed_batches"] == ledger
    live = {f for fs in m.buckets.values() for f in fs}
    assert adopted and not live & set(adopted)
    apply_batch(batch, t, 1)  # re-delivery plans against the new head
    assert (_row(t)["text"], _row(t)["model"]) == ("b", "m1")
