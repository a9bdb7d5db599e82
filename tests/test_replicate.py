"""Table-to-table streaming replication (cdc/replicate.py): source
table → CDF stream → envelope re-translation → apply into a replica."""

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
from audience_behavior_semantic_etl_spark.cdc.replicate import replicate_stream
from audience_behavior_semantic_etl_spark.cdc.schema import ENVELOPE_SCHEMA
from audience_behavior_semantic_etl_spark.cdc.table import SnapshotTable


def _envelope_df(spark, pdf: pd.DataFrame):
    pdf = pdf.copy()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return spark.createDataFrame(pdf, schema=ENVELOPE_SCHEMA)


@pytest.fixture(scope="module")
def gen_log():
    log = generate_change_log(GenConfig(seed=23, n_convs=40))
    return log, expected_final_state(log)


def _cfg(app):
    return ApplyConfig(app_id=app, auto_compact=False, shuffle_partitions=4)


def test_replica_converges_to_source_final_state(spark, gen_log, tmp_path):
    """Full generator log (inserts/updates/deletes, unicode payloads)
    applied to A in two batches; replicate A → B; B's final state must
    equal A's AND the pandas oracle — bit-equal per-turn text."""
    log, oracle = gen_log
    a = SnapshotTable.create(spark, str(tmp_path / "a"), n_buckets=4)
    b = SnapshotTable.create(spark, str(tmp_path / "b"), n_buckets=4)
    cut = len(log) // 2
    apply_batch(_envelope_df(spark, log.iloc[:cut]), a, 0, _cfg("src"))
    apply_batch(_envelope_df(spark, log.iloc[cut:]), a, 1, _cfg("src"))
    q = replicate_stream(a, b, str(tmp_path / "ckpt"), apply_cfg=_cfg("replica"))
    q.awaitTermination(300)
    check_equal(table_to_pandas(b), oracle)
    check_equal(table_to_pandas(b), table_to_pandas(a))


def test_replica_incremental_and_maintenance_independent(spark, gen_log, tmp_path):
    """Second drain ships only the new batch; a compaction on the
    SOURCE between drains doesn't re-deliver, and a compaction on the
    REPLICA doesn't disturb convergence."""
    log, oracle = gen_log
    a = SnapshotTable.create(spark, str(tmp_path / "a"), n_buckets=4)
    b = SnapshotTable.create(spark, str(tmp_path / "b"), n_buckets=4)
    ckpt = str(tmp_path / "ckpt")
    cut = len(log) // 2
    apply_batch(_envelope_df(spark, log.iloc[:cut]), a, 0, _cfg("src"))
    replicate_stream(a, b, ckpt, apply_cfg=_cfg("replica")).awaitTermination(300)
    b.compact_buckets(list(range(4)))
    a.compact_buckets(list(range(4)))
    apply_batch(_envelope_df(spark, log.iloc[cut:]), a, 1, _cfg("src"))
    replicate_stream(a, b, ckpt, apply_cfg=_cfg("replica")).awaitTermination(300)
    check_equal(table_to_pandas(b), oracle)


def _sparse_env(spark, rows):
    """rows: (lsn, op, payload_dict_or_none)."""
    pdf = pd.DataFrame(
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
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return spark.createDataFrame(pdf, schema=ENVELOPE_SCHEMA)


def test_replica_preserves_partial_update_semantics(spark, tmp_path):
    """Patches cross the pipe as sparse envelopes with EXPLICIT nulls
    preserved (the to_json-cannot-say-null case): an explicit-null
    role patch must null the replica's role, not resurrect the base's
    value, and the omitted column must keep it."""
    a = SnapshotTable.create(spark, str(tmp_path / "a"), n_buckets=2)
    b = SnapshotTable.create(spark, str(tmp_path / "b"), n_buckets=2)
    apply_batch(
        _sparse_env(spark, [
            (1, "insert", {"role": "user", "text": "A", "tool": "w",
                           "ts": "2025-01-01T00:00:00"}),
        ]),
        a, 0, _cfg("src"),
    )
    apply_batch(
        _sparse_env(spark, [
            (2, "update_partial", {"role": None, "text": "B"}),
        ]),
        a, 1, _cfg("src"),
    )
    q = replicate_stream(a, b, str(tmp_path / "ckpt"), apply_cfg=_cfg("replica"))
    q.awaitTermination(300)
    assert "patched_columns" in b.manifest().properties
    row = b.read_final().collect()[0]
    assert (row["role"], row["text"], row["tool"]) == (None, "B", "w")
    src = a.read_final().collect()[0]
    assert (src["role"], src["text"], src["tool"]) == (None, "B", "w")

def test_replica_follows_mid_stream_rename(spark, tmp_path):
    """VERDICT r4 #7: schema evolution THROUGH the replication pipe —
    the source renames text -> content between drains; the replica
    follows by RENAMING its own column (rename history, not a fresh
    add), so pre-rename replica data and post-rename traffic land in
    ONE column and the final states match bit-for-bit."""
    a = SnapshotTable.create(spark, str(tmp_path / "a"), n_buckets=2)
    b = SnapshotTable.create(spark, str(tmp_path / "b"), n_buckets=2)
    ckpt = str(tmp_path / "ckpt")
    apply_batch(
        _sparse_env(spark, [
            (1, "insert", {"role": "user", "text": "old-name",
                           "ts": "2025-01-01T00:00:00"}),
        ]),
        a, 0, _cfg("src"),
    )
    replicate_stream(a, b, ckpt, apply_cfg=_cfg("replica")).awaitTermination(300)
    assert {n for n, _ in b.manifest().columns} >= {"text"}

    a.rename_columns({"text": "content"})
    # post-rename traffic: one event under the NEW name, one straggler
    # still carrying the former name (source-side history coalesces it)
    apply_batch(
        _sparse_env(spark, [(2, "update_partial", {"content": "new-name"})]),
        a, 1, _cfg("src"),
    )
    replicate_stream(a, b, ckpt, apply_cfg=_cfg("replica")).awaitTermination(300)

    b_cols = {n for n, _ in b.manifest().columns}
    assert "content" in b_cols and "text" not in b_cols
    # a RENAME, not a fresh add: the replica's stored name stays frozen
    assert b._phys_map()["content"] == "text"
    row = b.read_final().collect()[0]
    assert (row["role"], row["content"]) == ("user", "new-name")
    src = a.read_final().collect()[0]
    assert (src["role"], src["content"]) == (row["role"], row["content"])
    # the replica's own rename history keeps coalescing in-flight
    # payloads that still carry the former name
    assert b.rename_history()["content"] == ["text"]


def test_bootstrap_replica_survives_source_column_drop(spark, tmp_path):
    """A fresh replica bootstraps (startingVersion=0) from a source
    whose history contains patches on a column that was LATER dropped:
    the stream pins the CURRENT (post-drop) column set, so the batch
    cannot carry the masked column. The unrecoverable mask entry must
    be SKIPPED — not crash the micro-batch with a KeyError that
    permanently poisons the stream — and the replica converges to the
    source's current visible state."""
    a = SnapshotTable.create(spark, str(tmp_path / "a"), n_buckets=2)
    b = SnapshotTable.create(spark, str(tmp_path / "b"), n_buckets=2)
    apply_batch(
        _sparse_env(spark, [
            (1, "insert", {"role": "user", "text": "A", "tool": "w",
                           "ts": "2025-01-01T00:00:00"}),
        ]),
        a, 0, _cfg("src"),
    )
    # patches whose set-masks carry the soon-to-be-dropped column —
    # including one masking ONLY it (re-translates to an empty payload,
    # which the apply path must treat as a no-op patch)
    apply_batch(
        _sparse_env(spark, [
            (2, "update_partial", {"tool": "x", "text": "B"}),
            (3, "update_partial", {"tool": "z"}),
        ]),
        a, 1, _cfg("src"),
    )
    a.drop_columns(["tool"])
    q = replicate_stream(a, b, str(tmp_path / "ckpt"), apply_cfg=_cfg("replica"))
    q.awaitTermination(300)
    row = b.read_final().collect()[0]
    src = a.read_final().collect()[0]
    assert (row["role"], row["text"]) == (src["role"], src["text"]) == ("user", "B")
    assert "tool" not in {n for n, _ in a.manifest().columns}


def test_bootstrap_replica_rename_then_readd_shadow(spark, tmp_path):
    """Physical-name shadowing: source renames text -> content, then
    RE-ADDS a fresh 'text' column. An old patch whose set-mask stores
    physical 'text' (the field now called content) must resolve to the
    batch's 'content' column — NOT the batch's 'text' column, which is
    the unrelated re-added field (reading it would silently drop the
    patch value and write a spurious null into the new column)."""
    a = SnapshotTable.create(spark, str(tmp_path / "a"), n_buckets=2)
    b = SnapshotTable.create(spark, str(tmp_path / "b"), n_buckets=2)
    apply_batch(
        _sparse_env(spark, [
            (1, "insert", {"role": "user", "text": "orig",
                           "ts": "2025-01-01T00:00:00"}),
        ]),
        a, 0, _cfg("src"),
    )
    # the patch that must survive the shadow: mask physical = 'text'
    apply_batch(
        _sparse_env(spark, [(2, "update_partial", {"text": "patched"})]),
        a, 1, _cfg("src"),
    )
    a.rename_columns({"text": "content"})
    a.add_columns({"text": "string"})  # fresh field, physical text__fN
    apply_batch(
        _sparse_env(spark, [(3, "update_partial", {"text": "fresh"})]),
        a, 2, _cfg("src"),
    )
    q = replicate_stream(a, b, str(tmp_path / "ckpt"), apply_cfg=_cfg("replica"))
    q.awaitTermination(300)
    row = b.read_final().collect()[0]
    src = a.read_final().collect()[0]
    assert (src["content"], src["text"]) == ("patched", "fresh")
    assert (row["content"], row["text"]) == (src["content"], src["text"])


def test_replica_follows_type_widening(spark, tmp_path):
    """A source column promoted int -> long between drains widens on
    the replica BEFORE the post-widen batch lands: a value outside
    int32 range must arrive intact, not cast to null against the
    replica's stale narrower type."""
    a = SnapshotTable.create(spark, str(tmp_path / "a"), n_buckets=2)
    b = SnapshotTable.create(spark, str(tmp_path / "b"), n_buckets=2)
    ckpt = str(tmp_path / "ckpt")
    a.add_columns({"tool_latency_ms": "int"})
    apply_batch(
        _sparse_env(spark, [
            (1, "insert", {"role": "user", "text": "A", "tool_latency_ms": 7,
                           "ts": "2025-01-01T00:00:00"}),
        ]),
        a, 0, _cfg("src"),
    )
    replicate_stream(a, b, ckpt, apply_cfg=_cfg("replica")).awaitTermination(300)
    assert dict(b.manifest().columns)["tool_latency_ms"] == "int"

    a.widen_columns({"tool_latency_ms": "long"})
    big = 2**31 + 12345  # overflows int32
    apply_batch(
        _sparse_env(spark, [
            (2, "update_partial", {"tool_latency_ms": big}),
        ]),
        a, 1, _cfg("src"),
    )
    replicate_stream(a, b, ckpt, apply_cfg=_cfg("replica")).awaitTermination(300)
    assert dict(b.manifest().columns)["tool_latency_ms"] == "long"
    row = b.read_final().collect()[0]
    src = a.read_final().collect()[0]
    assert row["tool_latency_ms"] == src["tool_latency_ms"] == big


def test_replica_follows_recycled_column_name(spark, tmp_path):
    """The ONE case where a source drop propagates: the source drops a
    column and re-adds the same name (a fresh field, possibly a new
    type). Field-generation tracking must drop + re-add the replica's
    column too — keeping it would resurrect retired data under the new
    field's name and parse new-field values against the old type."""
    a = SnapshotTable.create(spark, str(tmp_path / "a"), n_buckets=2)
    b = SnapshotTable.create(spark, str(tmp_path / "b"), n_buckets=2)
    ckpt = str(tmp_path / "ckpt")

    def _env2(rows):
        pdf = pd.DataFrame(
            [
                {
                    "lsn": lsn,
                    "ts": pd.Timestamp("2025-01-01") + pd.Timedelta(seconds=lsn),
                    "op": op,
                    "conv_id": conv,
                    "turn_idx": 0,
                    "payload": json.dumps(payload),
                    "schema_ver": 1,
                    "source_part": 0,
                }
                for lsn, op, conv, payload in rows
            ]
        )
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        return spark.createDataFrame(pdf, schema=ENVELOPE_SCHEMA)

    apply_batch(
        _env2([
            (1, "insert", "cA", {"role": "user", "text": "A", "tool": "old-a"}),
            (2, "insert", "cB", {"role": "user", "text": "B", "tool": "old-b"}),
        ]),
        a, 0, _cfg("src"),
    )
    replicate_stream(a, b, ckpt, apply_cfg=_cfg("replica")).awaitTermination(300)
    got = {r["conv_id"]: r["tool"] for r in b.read_final().collect()}
    assert got == {"cA": "old-a", "cB": "old-b"}

    a.drop_columns(["tool"])
    a.add_columns({"tool": "string"})  # fresh field, same name
    apply_batch(
        _env2([(3, "update_partial", "cA", {"tool": "new-a"})]),
        a, 1, _cfg("src"),
    )
    seen = set(b._retained_versions())
    done = b.manifest().properties["committed_batches"]["replica"]
    replicate_stream(a, b, ckpt, apply_cfg=_cfg("replica")).awaitTermination(300)
    # per drained batch: at most one metadata version (the drop, the
    # re-add and the generation marker together) plus one data version
    drained = b.manifest().properties["committed_batches"]["replica"] - done
    added = [v for v in b._retained_versions() if v not in seen]
    assert drained >= 1 and len(added) <= 2 * drained, (drained, added)
    src = {r["conv_id"]: r["tool"] for r in a.read_final().collect()}
    got = {r["conv_id"]: r["tool"] for r in b.read_final().collect()}
    # cB's old value is retired WITH the field on both sides
    assert src == {"cA": "new-a", "cB": None}
    assert got == src
    # the replica's re-add minted a fresh physical name of its own
    assert b._phys_map()["tool"] != "tool"


def test_mask_resolution_skips_pre_rename_pinned_shadow(spark, tmp_path):
    """cdf_to_envelope fail-safe: a batch pinned BEFORE a rename
    carries the alias name ('text') holding the RENAMED field's data;
    a mask entry for the re-added fresh field (physical 'text__f9')
    must NOT read it (wrong field) — the entry is skipped. A batch
    pinned AFTER the re-add carries both names and resolves normally."""
    from audience_behavior_semantic_etl_spark.cdc.replicate import cdf_to_envelope
    from audience_behavior_semantic_etl_spark.cdc import schema as S

    phys_to_logical = {"text": "content", "text__f9": "text",
                       "role": "role", "conv_id": "conv_id"}
    alias_history = {"content": ["text"]}

    def _batch(cols_vals, mask):
        pdf = pd.DataFrame([{
            "conv_id": "c", "turn_idx": 0,
            S.LSN_META_COL: 1, S.DELETED_META_COL: False,
            S.SETMASK_META_COL: mask, "_commit_version": 5,
            **cols_vals,
        }])
        return spark.createDataFrame(pdf)

    # pre-rename pin: only 'text' (the content field's data)
    env = cdf_to_envelope(
        _batch({"text": "content-era-value", "role": "user"}, [["text__f9"]][0]),
        phys_to_logical, alias_history,
    ).collect()
    assert json.loads(env[0]["payload"]) == {}  # skipped, not mis-keyed

    # post-re-add pin: both names present; the mask resolves to the
    # fresh field's own column
    env = cdf_to_envelope(
        _batch({"text": "fresh-value", "content": "content-value",
                "role": "user"}, [["text__f9", "text"]][0]),
        phys_to_logical, alias_history,
    ).collect()
    assert json.loads(env[0]["payload"]) == {
        "text": "fresh-value", "content": "content-value"
    }


def test_patch_int_column_with_nulls_in_batch(spark, tmp_path):
    """Arrow -> pandas degrades an int column to float64 when ANY row
    of the micro-batch holds a null in it; a patch payload must still
    serialize the value as an INT (28, not 28.0) or the replica's
    FAILFAST parse rejects the row and poisons the stream. The batch
    here mixes a patch ON the int column with rows where it is null."""
    a = SnapshotTable.create(spark, str(tmp_path / "a"), n_buckets=2)
    b = SnapshotTable.create(spark, str(tmp_path / "b"), n_buckets=2)
    a.add_columns({"model": "int"})
    apply_batch(
        _sparse_env(spark, [
            (1, "insert", {"role": "user", "text": "A", "model": 7}),
        ]),
        a, 0, _cfg("src"),
    )
    # same batch: a patch carrying model AND a patch leaving it null
    apply_batch(
        _sparse_env(spark, [
            (2, "update_partial", {"model": 28}),
            (3, "update_partial", {"text": "B"}),
        ]),
        a, 1, _cfg("src"),
    )
    q = replicate_stream(a, b, str(tmp_path / "ckpt"), apply_cfg=_cfg("replica"))
    q.awaitTermination(300)
    row = b.read_final().collect()[0]
    assert (row["model"], row["text"]) == (28, "B")
