"""Per-batch apply: stats scan -> (adaptive in-batch LWW) -> salted
bucket shuffle -> Arrow normalize -> delta append -> snapshot commit
(+ amortized compaction).

This is the engine's core, the modern re-expression of the reference's
operator chain (SURVEY.md §7.1):

- merge-on-read    : batch rows (tombstones included) are APPENDED as
  per-bucket delta files — apply cost is O(batch), never O(table).
  Cross-batch staleness, re-delivery, and delete-resurrection are all
  resolved by the table's read-side LWW (max _lsn per key, tombstones
  retained until their re-delivery horizon passes); buckets whose
  delta-file count crosses a threshold are compacted, amortizing the
  rewrite a copy-on-write MERGE would pay EVERY batch.
- LWW dedup        ≈ DropDuplicateRows (§2.5 A3) made deterministic by
  max-lsn-wins. ADAPTIVE: read-side LWW already collapses multiple
  in-batch versions of a key, so the default path appends everything
  with ONE shuffle; when the stats scan shows high churn
  (events/key > dedup_churn_threshold), an in-batch
  ``groupBy(key).agg(max_by(struct, lsn))`` pre-collapse pays for
  itself by shrinking the normalize+write volume (a key with 10^6
  in-batch updates ships one row per map partition thanks to partial
  aggregation).
- normalize        ≈ reference flatten/rename/case/enrich (§2.2/2.8/2.9)
  as a JVM-side projection placed AFTER the bucket shuffle: ONE
  ``from_json`` per row -> coalesce over the dotted flatten paths ->
  typed columns of the (possibly just-evolved) target schema, all
  inside whole-stage codegen; the single remaining Python step is text
  canonicalization (unicode NFC), a one-column Arrow-batched pandas
  UDF. Post-shuffle placement means its parallelism is
  shuffle_partitions, independent of source file layout. No per-row
  Python anywhere.
- salted repartition ≈ the reference's explicit RepartitionByExpression
  before its stateful op (Sessionize.scala:103), plus the hot-key
  splitting the north_rule demands (SURVEY.md §4.2): the census places
  every bucket on a contiguous share of exactly shuffle_partitions
  write slots and salts any conversation that would overfill one slot
  (``_placement``).
- exactly-once     : ONE snapshot per micro-batch. The batch's DDL is
  planned in memory and commits WITH its files, its partial-update
  flips, its batch id + per-source-part LSN watermarks and its lineage
  row; re-delivered batches no-op, and a crash anywhere before that
  commit leaves nothing to wedge a re-delivery.

Per-batch Spark-job budget (scale discipline — each job is a full
batch scan at 10^10 events):
  1. ONE column-pruned batch scan (lsn/op/keys only — payloads never
     touch this job): groupBy(source_part, conv_id) stats, cached small
     (≤ #conversations in the batch, never batch size). ONE driver
     collect over a union of two aggregates of that cache yields
     per-part lineage stats + watermarks + churn AND the per-bucket
     row / hot-conversation census together — per-batch driver jobs are the
     non-scaling term, so none is spent twice.
  2. (rare) schema_change payload collect                  [tiny]
  3. the append write itself (scan -> [optional dedup shuffle] ->
     bucket shuffle -> normalize -> append), with row metrics, the
     malformed count and the patched-column set attached via the
     Observation API — no post-hoc count() or read-back jobs. A batch
     without data rows skips it.
  4. (amortized) compaction of over-threshold buckets.
"""

from __future__ import annotations

import json
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, Window, functions as F
from pyspark.sql import types as T

from audience_behavior_semantic_etl_spark.cdc import schema as S
from audience_behavior_semantic_etl_spark.cdc.normalize import canonical_text_col
from audience_behavior_semantic_etl_spark.cdc.table import Manifest, SnapshotTable, bucket_expr


# per-write parquet options for the hot-path DELTA write only;
# compaction keeps the session default — the standard LSM trade:
# deltas are written once per batch and live briefly (compaction
# folds them), so cheap encode wins; compacted files are read by
# every subsequent query, so spend more there if it buys size.
# Measured (local[8], 6.5M-event bench batch, interleaved 3-pass
# A/B, /dev/shm table): zstd level 1 vs explicit level 3 wrote
# 11.5/12.2/13.6 s vs 14.1/12.6/13.8 s AND produced 3.4% SMALLER
# deltas (263.0 vs 272.2 MB) — on this short-string transcript
# payload the higher search depth buys nothing, so level 1 wins
# both axes. parquet.enable.dictionary=false was erratic
# (10.9-24.3 s) and larger; rejected. See BENCH/BASELINE.md.
DELTA_WRITE_OPTIONS = {"parquet.compression.codec.zstd.level": "1"}


@dataclass
class ApplyConfig:
    """Per-stream apply settings. Write placement has no knob of its
    own: every batch writes with exactly ``shuffle_partitions`` slots,
    split among buckets and hot conversations by the batch's census."""

    app_id: str = "cdc-apply"
    shuffle_partitions: int | None = None  # default: session setting
    # per-bucket delta SNAPSHOTS (≈ batches) before compaction — batch
    # count, not file count, so the policy is invariant to write
    # parallelism (see SnapshotTable.buckets_over_threshold)
    compact_max_files: int = 8
    auto_compact: bool = True
    # poison-message policy: "fail" stops the stream on the first
    # malformed payload (no silent loss — the safe default);
    # "quarantine" drops malformed upserts from the table, counts them
    # in BatchMetrics.malformed, and keeps the stream alive
    on_malformed: str = "fail"
    # in-batch pre-collapse engages when batch events/key exceeds this
    # (read-side LWW makes it optional; it only pays off under churn)
    dedup_churn_threshold: float = 4.0
    # apply onto a BRANCH ref instead of main (the Iceberg audit-branch
    # pattern): commits, the exactly-once ledger, watermarks and schema
    # evolution all advance the branch chain only. Write-audit-publish
    # is `table.create_branch(b)`, apply with `branch=b`, audit with
    # `read_final(ref=b)`, then publish with `fast_forward("main", b)`
    # (or `cherry_pick` of the branch head when main moved since the
    # fork) or reject with `drop_branch(b, force=True)`.
    # Auto-compaction is skipped on a branch — compaction is main-chain
    # maintenance; after publish, main's next maintenance pass folds
    # the branch's deltas normally.
    branch: str = "main"


def winners_schema(m: Manifest) -> T.StructType:
    """Output schema of the normalizer under manifest ``m``: full table
    row + merge metadata (_lsn for read-side LWW, _deleted tombstones,
    _set patch masks — null on full-row versions)."""
    cols = [(n, S.type_from_name(t)) for n, t in m.columns]
    return S.transcripts_schema(cols, with_lsn=True, with_deleted=True, with_setmask=True)


def _payload_paths(name: str, former: list[str] | None = None) -> list[tuple[str, ...]]:
    """Flatten paths that land in target column ``name``, in priority
    order: direct key first, then the column's FORMER names (rename
    history — pre-rename payloads keep landing here, so re-delivered
    events stay identical), then ``tool_* <- tool_meta.*`` (the
    reference's dotted-path rename, RenameColumns.scala:54), then
    generic ``a_b <- a.b`` splits."""
    paths: list[tuple[str, ...]] = [(name,)]
    for f in former or []:
        paths.append((f,))
    if name.startswith("tool_"):
        paths.append(("tool_meta", name[len("tool_"):]))
    for i, ch in enumerate(name):
        if ch == "_":
            paths.append((name[:i], name[i + 1:]))
    return paths


def _payload_parse_plan(
    out_schema: T.StructType,
    aliases: dict[str, list[str]] | None = None,
) -> tuple[list[T.StructField], dict[str, list[tuple[str, ...]]]]:
    """Shared parse plan for the envelope payload: the from_json schema
    fields (direct columns + nested flatten heads, WITHOUT the corrupt
    column) and the per-output-column flatten paths. Factored out so
    ``normalize_envelope`` and ``malformed_predicate`` parse with the
    EXACT same record-strict schema — quarantine selection must agree
    row-for-row with what normalize drops."""
    key_meta = {"conv_id", "turn_idx", S.LSN_META_COL, S.DELETED_META_COL, S.SETMASK_META_COL}
    payload_fields = [f for f in out_schema.fields if f.name not in key_meta]
    direct = {f.name for f in payload_fields}
    nested: dict[str, dict[str, T.DataType]] = {}
    specs: dict[str, list[tuple[str, ...]]] = {}
    alias_fields: dict[str, T.DataType] = {}
    for f in payload_fields:
        kept: list[tuple[str, ...]] = []
        for p in _payload_paths(f.name, (aliases or {}).get(f.name)):
            if len(p) == 1:
                # a former name claimed by another CURRENT column feeds
                # that column, not this one (defensive; the manifest's
                # rename/add maintenance already strips such aliases)
                if p[0] != f.name and p[0] in direct:
                    continue
                if p[0] != f.name:
                    alias_fields.setdefault(p[0], f.dataType)
                kept.append(p)
            else:
                head, tail = p
                if head in direct:
                    continue
                nested.setdefault(head, {})[tail] = f.dataType
                kept.append(p)
        specs[f.name] = kept
    # a former-name alias that is ALSO some column's nested flatten
    # head parses as a struct — not coalescible into a scalar; skip it
    # (same documented limit as scalar/struct head collisions)
    for k in specs:
        specs[k] = [
            p for p in specs[k] if not (len(p) == 1 and p[0] != k and p[0] in nested)
        ]
    schema_fields = (
        [T.StructField(f.name, f.dataType) for f in payload_fields]
        + [T.StructField(n, t) for n, t in alias_fields.items() if n not in nested]
        + [
            T.StructField(h, T.StructType([T.StructField(n, t) for n, t in sub.items()]))
            for h, sub in nested.items()
        ]
    )
    return schema_fields, specs


def malformed_predicate(out_schema: T.StructType, aliases: dict[str, list[str]] | None = None):
    """Boolean over ENVELOPE rows: true iff a non-delete data event's
    payload fails the record-strict parse against the target schema —
    the same PERMISSIVE+corrupt-column parse ``normalize_envelope``
    applies in quarantine mode. Used to select the dead-letter rows.
    ``aliases`` must match the normalize call's (shared parse plan)."""
    schema_fields, _ = _payload_parse_plan(out_schema, aliases)
    ps = T.StructType(schema_fields + [T.StructField("_corrupt", T.StringType())])
    parsed = F.from_json(
        F.col("payload"), ps, {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"}
    )
    return (
        (F.col("op") != "delete")
        & F.col("payload").isNotNull()
        & parsed.getField("_corrupt").isNotNull()
    )


def normalize_envelope(
    data: DataFrame,
    out_schema: T.StructType,
    on_malformed: str = "fail",
    passthrough: tuple[str, ...] = (),
    aliases: dict[str, list[str]] | None = None,
    physical: dict[str, str] | None = None,
) -> DataFrame:
    """JVM-side envelope normalizer. The JSON parse (ONE ``from_json``
    per row) and dotted-path flatten run inside whole-stage codegen;
    the only Python on the hot path is text canonicalization — a
    single-column Arrow-batched pandas UDF (``canonical_text_col``).
    This replaced a full-row ``mapInPandas`` kernel whose per-row
    ``json.loads`` + dict walking dominated batch time.

    Upsert rows get their JSON after-image parsed and flattened
    (``tool_meta.name -> tool_name``), text canonicalized, every output
    column cast to the target type. Unknown payload fields are dropped;
    missing ones become null — v1 and v2 payloads land in one evolving
    schema. Delete rows become tombstones (keys + _lsn + _deleted,
    typed columns null).

    Poison messages: 'fail' -> from_json FAILFAST aborts the batch job
    on the first malformed payload; 'quarantine' -> PERMISSIVE with a
    corrupt-record column, flagged per row in ``__malformed`` for the
    caller to count-and-drop. The JSON parser is record-strict: a
    TYPE-mismatched field (e.g. a float where the schema says long)
    marks the whole record malformed instead of coercing field-by-field
    — the right behavior under a poison-message policy.

    Limit (documented, checked at schema build): a nested flatten head
    may not collide with a scalar payload column (a payload sending
    ``tool`` as an OBJECT while the table has scalar ``tool`` is not
    representable in one parse schema); such paths are skipped.

    ``aliases`` (rename history, logical former names) extends the
    parse plan so pre-rename payloads coalesce into the renamed
    column; ``physical`` (logical -> stored name) rewrites the
    partial-update set-mask entries to PHYSICAL names — masks must be
    stable across renames and era-unique across drop/re-add for the
    column fold to stay correct (SnapshotTable._fold_resolve
    translates back). Both default to identity.
    """
    schema_fields, specs = _payload_parse_plan(out_schema, aliases)
    if on_malformed == "fail":
        opts = {"mode": "FAILFAST"}
    else:
        schema_fields = schema_fields + [T.StructField("_corrupt", T.StringType())]
        opts = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"}
    parse_schema = T.StructType(schema_fields)

    is_del = F.col("op") == "delete"
    parsed = F.when(~is_del, F.from_json(F.col("payload"), parse_schema, opts)).alias("__p")

    def _path_col(p: tuple[str, ...]):
        c = F.col("__p")
        for k in p:
            c = c.getField(k)
        return c

    out_cols = []
    for f in out_schema.fields:
        if f.name == "conv_id":
            out_cols.append(F.col("conv_id"))
        elif f.name == "turn_idx":
            out_cols.append(F.col("turn_idx"))
        elif f.name == S.LSN_META_COL:
            out_cols.append(F.col("lsn").alias(S.LSN_META_COL))
        elif f.name == S.DELETED_META_COL:
            out_cols.append(is_del.alias(S.DELETED_META_COL))
        elif f.name == S.SETMASK_META_COL:
            # sparse after-image (op='update_partial'): record WHICH
            # top-level payload keys were present — a second parse of
            # the same JSON as map<string,string> whose keys give
            # presence (the struct parse cannot distinguish missing
            # from explicit null). Partial payloads address FLAT target
            # column names only (no dotted-flatten indirection — a
            # patch is a write, not an ingest mapping). Full-row ops
            # keep mask NULL = "sets every column" (a base).
            # mask entries are PHYSICAL names; former (renamed-away)
            # payload keys count as setting their current column
            key_to_phys: list[tuple[str, str]] = []
            for n in specs:
                p = (physical or {}).get(n, n)
                key_to_phys.append((n, p))
                for a in (aliases or {}).get(n, []):
                    if a not in specs:
                        key_to_phys.append((a, p))
            names = F.array(*[F.lit(k) for k, _ in key_to_phys])
            hit = F.array_intersect(
                F.map_keys(F.from_json(F.col("payload"), "map<string,string>")),
                names,
            )
            if any(k != p for k, p in key_to_phys):
                mp = F.create_map(
                    *[x for k, p in key_to_phys for x in (F.lit(k), F.lit(p))]
                )
                hit = F.array_distinct(F.transform(hit, lambda x: F.element_at(mp, x)))
            mask = F.when(F.col("op") == "update_partial", hit)
            out_cols.append(mask.alias(S.SETMASK_META_COL))
        else:
            exprs = [_path_col(p) for p in specs[f.name]]
            e = F.coalesce(*exprs) if len(exprs) > 1 else exprs[0]
            if f.name == "text" or "text" in (aliases or {}).get(f.name, []):
                # canonicalization follows the column through renames
                e = canonical_text_col(e)
            out_cols.append(e.cast(f.dataType).alias(f.name))
    if on_malformed == "fail":
        malformed = F.lit(0)
    else:
        malformed = F.when(
            (~is_del)
            & F.col("payload").isNotNull()
            & F.col("__p").getField("_corrupt").isNotNull(),
            1,
        ).otherwise(0)
    return data.select(parsed, "*").select(
        *out_cols, malformed.alias("__malformed"), *[F.col(c) for c in passthrough]
    )


@dataclass
class BatchMetrics:
    batch_id: int
    events: int
    upserts: int
    deletes: int
    dedup_dropped: int
    hot_keys: int
    seconds: float
    lsn_min: int
    lsn_max: int
    snapshot_id: str | None = None
    skipped: bool = False
    compacted_buckets: int = 0
    deduped: bool = False
    malformed: int = 0
    phases: dict | None = None  # phase -> seconds (spool/stats/census/write/commit/compact)


# one background compaction per table root: (thread, error holder)
_COMPACTIONS: dict[str, tuple] = {}


def _spawn_compaction(table: SnapshotTable, buckets: list[int], shuffle_n: int) -> None:
    import threading

    err: list[BaseException] = []

    def run() -> None:
        try:
            table.compact_buckets(buckets, shuffle_partitions=shuffle_n)
        except BaseException as e:  # surfaced by join_pending_compaction
            err.append(e)

    t = threading.Thread(target=run, name=f"compact-{table.root}", daemon=True)
    _COMPACTIONS[table.root] = (t, err)
    t.start()


def join_pending_compaction(table: SnapshotTable) -> None:
    """Wait for the table's in-flight background compaction (no-op if
    none) and re-raise its failure. apply_batch calls this before
    scheduling a new compaction; stream shutdown should call it so the
    final table state is fully folded."""
    pending = _COMPACTIONS.pop(table.root, None)
    if pending is None:
        return
    t, err = pending
    t.join()
    if err:
        raise err[0]


def _murmur3_hash_int(x: int, seed: int = 42) -> int:
    """Spark's ``Murmur3Hash`` of ONE IntegerType value (the
    ``Murmur3_x86_32.hashInt`` variant, default seed 42) — the exact
    function behind ``F.hash(int_col)`` AND ``HashPartitioning``'s
    partition-id expression. Mirrored driver-side so slot tokens can be
    derived with zero Spark jobs; parity is pinned by
    ``test_murmur3_parity_with_spark_hash``."""
    m = 0xFFFFFFFF
    k1 = (x * 0xCC9E2D51) & m
    k1 = ((k1 << 15) | (k1 >> 17)) & m
    k1 = (k1 * 0x1B873593) & m
    h1 = (seed ^ k1) & m
    h1 = ((h1 << 13) | (h1 >> 19)) & m
    h1 = (h1 * 5 + 0xE6546B64) & m
    h1 ^= 4  # fmix: total bytes hashed
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & m
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & m
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


# hash-inverse token table per partition count: token[s] is a small int
# whose Murmur3 hash lands in partition s of an n-way HashPartitioning.
# Pure config-shaped arithmetic (no data, no results) — safe to memoize
# process-wide; ~n*ln(n) probes to fill, microseconds for any real n.
_SLOT_TOKENS: dict[int, list[int]] = {}


def _slot_tokens(n: int) -> list[int]:
    toks = _SLOT_TOKENS.get(n)
    if toks is None:
        found: dict[int, int] = {}
        t = 0
        while len(found) < n:
            s = _murmur3_hash_int(t) % n  # Python % == Spark Pmod for n > 0
            if s not in found:
                found[s] = t
            t += 1
        _SLOT_TOKENS[n] = toks = [found[s] for s in range(n)]
    return toks


def _placement(census, n_slots: int) -> tuple[dict[int, tuple[int, int]], dict[str, int]]:
    """The batch's write placement, from its census rows (``__b``,
    bucket rows ``n``, ``hot`` candidates as ``(conv_id, n)``).

    With S = ``n_slots`` and R the census's rows, buckets walk in id
    order; c_b rows precede bucket b and r_b are its own. Bucket b
    takes the slots [lo, max(lo+1, ⌊S·(c_b+r_b)/R⌋)) with
    lo = ⌊S·c_b/R⌋: the ranges cover exactly [0, S), each is at least
    one slot wide, and buckets smaller than a slot share one. A
    conversation with n > R/S rows would overfill a slot, so it is hot
    and salted into ⌈n·S/R⌉ ≤ S values. The census keeps only the
    conversations with n·S > r_b (at most S−1 per bucket, every hot one
    among them since r_b ≤ R). Returns ({bucket: (lo, width)},
    {hot conv_id: salt count})."""
    total = sum(int(r["n"]) for r in census) or 1
    ranges: dict[int, tuple[int, int]] = {}
    acc = 0
    for r in sorted(census, key=lambda r: int(r["__b"])):
        lo = n_slots * acc // total
        acc += int(r["n"])
        ranges[int(r["__b"])] = (lo, max(lo + 1, n_slots * acc // total) - lo)
    salts = {
        c: -(-n * n_slots // total)
        for r in census for c, n in r["hot"] if n * n_slots > total
    }
    return ranges, salts


def _needs_spool(df: DataFrame) -> bool:
    """True when the batch is NOT file-backed — i.e. the streaming
    source's row-based ExistingRDD/LogicalRDD, which every job would
    otherwise recompute without vectorization or pruning. File-backed
    batches (direct batch API, tests) are consumed as-is."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return True
    return ("ExistingRDD" in plan) or ("LogicalRDD" in plan)


def apply_batch(
    events_raw: DataFrame,
    table: SnapshotTable,
    batch_id: int,
    cfg: ApplyConfig | None = None,
) -> BatchMetrics:
    """Apply one micro-batch of envelope rows to the table, exactly once,
    as ONE snapshot (a batch already in the ledger adds none)."""
    return _apply_batch(events_raw, table, batch_id, cfg or ApplyConfig(), {})


def _apply_batch(
    events_raw: DataFrame,
    table: SnapshotTable,
    batch_id: int,
    cfg: ApplyConfig,
    properties: dict,
) -> BatchMetrics:
    """``apply_batch``, with table ``properties`` set in the batch's
    commit (the bootstrap load's snapshot-LSN fence)."""
    t0 = time.perf_counter()
    spark = table.spark

    # the ref head, read ONCE: the exactly-once check, the LSN fence,
    # the bucket count and the DDL plan all come from this copy
    plan = table.manifest(ref=cfg.branch)
    if batch_id <= plan.properties.get("committed_batches", {}).get(cfg.app_id, -1):
        return BatchMetrics(batch_id, 0, 0, 0, 0, 0, 0.0, -1, -1, skipped=True)

    # Snapshot-LSN fence (bootstrap_snapshot): events at or below the
    # initial-load snapshot LSN are already reflected in the table and
    # MUST be dropped — the snapshot carries no tombstones, so a
    # re-delivered pre-snapshot insert of a since-deleted key would
    # otherwise resurrect it whenever the matching delete is not
    # re-delivered with it (see bootstrap_snapshot's docstring for the
    # exact hazard taxonomy). A plain pushed-down scan filter; the
    # overlapping part of an at-least-once tail costs one predicate.
    fence = plan.properties.get("snapshot_lsn")
    if fence is not None:
        events_raw = events_raw.filter(F.col("lsn") > int(fence))

    # SPOOL the batch to columnar parquet once, and run every job off
    # the spool. Two reasons, both measured:
    # (1) in streaming mode the source hands foreachBatch a ROW-BASED
    #     ExistingRDD — no vectorization, no column pruning, recomputed
    #     for EVERY job on the batch;
    # (2) .persist() of row data collapses under high task concurrency
    #     (MemoryStore contention: cache build of a 13M-row batch was
    #     15s at 8 threads, 107s at 32). A columnar spool write scales,
    #     and the stats job then reads only the 4 small columns it
    #     needs. On a real cluster the spool is the bronze/raw staging
    #     layer every CDC pipeline keeps anyway.
    import shutil as _shutil

    phases: dict[str, float] = {}
    _t = time.perf_counter()

    def _phase(name: str) -> None:
        nonlocal _t
        now = time.perf_counter()
        phases[name] = round(now - _t, 3)
        _t = now

    spool = None
    if _needs_spool(events_raw):
        spool = table.new_staging_dir()
        events_raw.write.mode("overwrite").parquet(spool)
        events_raw = spark.read.schema(S.ENVELOPE_SCHEMA).parquet(spool)
    _phase("spool")
    stats = None
    try:
        # -- job 1: ONE column-pruned batch scan -> per-(source_part,
        #    conv_id) stats. The aggregate is bounded by #conversations
        #    in the batch; everything else derives from it cheaply.
        stats = (
            events_raw.groupBy("source_part", "conv_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("lsn").alias("lsn_min"),
                F.max("lsn").alias("lsn_max"),
                F.sum(F.when(F.col("op") == "schema_change", 1).otherwise(0)).alias("n_sc"),
                F.sum(F.when(F.col("op") == "update_partial", 1).otherwise(0)).alias("n_up"),
                F.approx_count_distinct("turn_idx").alias("n_keys"),
            )
            .persist()
        )
        part_agg = stats.groupBy("source_part").agg(
            F.sum("n").alias("n"),
            F.min("lsn_min").alias("lsn_min"),
            F.max("lsn_max").alias("lsn_max"),
            F.sum("n_sc").alias("n_sc"),
            F.sum("n_up").alias("n_up"),
            F.sum("n_keys").alias("n_keys"),
            # data rows with a NULL key: legal only for schema_change
            # (ENVELOPE_SCHEMA); a null-key upsert/delete can never be
            # merged and MUST NOT be silently dropped (the census
            # assigns buckets by conv_id, so these rows would stage
            # into no adopted bucket) — they fall under the
            # poison-message policy below.
            F.sum(
                F.when(F.col("conv_id").isNull(), F.col("n") - F.col("n_sc")).otherwise(0)
            ).alias("n_nullkey"),
        )
        # the census, from the SAME cached stats: one row per affected
        # bucket with its row count and the conversations holding over
        # 1/S of it (output bounded by n_buckets·S, never batch size) —
        # the inputs of _placement. n_buckets is immutable after create
        # (rebucket re-creates the table), so the plan's count holds at
        # commit.
        n_buckets = plan.n_buckets
        shuffle_n = cfg.shuffle_partitions or int(
            spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
        census_agg = (
            stats.filter(F.col("conv_id").isNotNull())
            .groupBy("conv_id")
            .agg(F.sum("n").alias("n"))
            .withColumn("__b", bucket_expr(F.col("conv_id"), n_buckets))
            .withColumn("bn", F.sum("n").over(Window.partitionBy("__b")))
            .groupBy("__b", "bn")
            .agg(
                F.collect_list(
                    F.when(F.col("n") * shuffle_n > F.col("bn"), F.struct("conv_id", "n"))
                ).alias("hot")
            )
        )
        # ONE driver job for both shapes: the union collects the
        # per-part lineage stats AND the bucket census together — the
        # second standing per-batch job this used to cost is gone
        # (fixed driver work per batch is the term that caps scaling
        # efficiency; see BENCH/BASELINE.md).
        nulls = F.lit(None)
        combined = (
            part_agg.select(
                F.lit("part").alias("__kind"),
                "source_part", "n", "lsn_min", "lsn_max", "n_sc", "n_up", "n_keys",
                "n_nullkey",
                nulls.cast("int").alias("__b"),
                nulls.cast("array<struct<conv_id:string,n:bigint>>").alias("hot"),
            )
            .unionByName(
                census_agg.select(
                    F.lit("census").alias("__kind"),
                    nulls.cast("int").alias("source_part"),
                    F.col("bn").alias("n"),
                    nulls.cast("long").alias("lsn_min"),
                    nulls.cast("long").alias("lsn_max"),
                    nulls.cast("long").alias("n_sc"),
                    nulls.cast("long").alias("n_up"),
                    nulls.cast("long").alias("n_keys"),
                    nulls.cast("long").alias("n_nullkey"),
                    "__b",
                    "hot",
                )
            )
            .collect()
        )
        part_stats = [r for r in combined if r["__kind"] == "part"]
        census = [r for r in combined if r["__kind"] == "census"]
        _phase("stats")
        n_events = sum(r["n"] for r in part_stats)
        n_sc = sum(r["n_sc"] for r in part_stats)
        n_partial = sum(r["n_up"] for r in part_stats)
        watermarks = {str(r["source_part"]): int(r["lsn_max"]) for r in part_stats}
        lsn_min = min((r["lsn_min"] for r in part_stats), default=-1)
        lsn_max = max((r["lsn_max"] for r in part_stats), default=-1)
        n_data = n_events - n_sc
        # -- poison-message policy for null-key data events ----------------
        n_nullkey = sum(r["n_nullkey"] for r in part_stats)
        if n_nullkey > 0:
            if cfg.on_malformed == "fail":
                raise ValueError(
                    f"batch {batch_id}: {n_nullkey} data event(s) with NULL "
                    "conv_id (only schema_change may omit the key); refusing "
                    "to apply — set on_malformed='quarantine' to drop+count"
                )
            n_data -= int(n_nullkey)
        # approx distinct (conv, turn) keys in the batch. The sum over
        # parts assumes the source routes each key's events to one
        # source_part (a key-partitioned log). A key spread over k parts
        # is counted k times, so the churn estimate below falls up to
        # k-fold and the pre-collapse may not engage; results are
        # unchanged, since read-side LWW resolves what it leaves.
        n_keys = max(1, sum(r["n_keys"] for r in part_stats))

        # -- job 2 (rare): schema_change DDL, PLANNED in memory -----------
        # Run over the head copy (no lock, no version) in LSN order, it
        # plans the schema, aliases and physical map the write needs; it
        # commits with the data (table._commit_batch re-runs it on the
        # fresh head under the plan's snapshot id, so fresh physical
        # names agree). ALL DDL applies before any data row of the same
        # batch: era separation (drop/re-add non-resurrection, rename
        # aliasing) is a CROSS-batch property.
        plan.snapshot_id = uuid.uuid4().hex
        ddl: list[dict] = []
        if n_sc > 0:
            sc = events_raw.filter(F.col("op") == "schema_change").select("lsn", "payload")
            rows = sorted(sc.collect(), key=lambda r: r["lsn"])
            ddl = [json.loads(r["payload"]) for r in rows]
            for d in ddl:
                table._evolve(plan, d)
        out_schema = winners_schema(plan)
        aliases = table.rename_history(plan)

        affected = [int(r["__b"]) for r in census]
        ranges, salts = _placement(census, shuffle_n)
        _phase("census")

        # -- adaptive in-batch pre-collapse (high churn only) -------------
        # Row-level max_by would DISCARD patch content (a patch above a
        # base must overlay, not replace wholesale), so the pre-collapse
        # is disabled for any batch carrying partial updates.
        deduped = n_data / n_keys > cfg.dedup_churn_threshold and n_partial == 0
        metric_exprs = [
            F.coalesce(
                F.sum(
                    F.when(F.col("op").isin("insert", "update", "update_partial"), 1).otherwise(0)
                ),
                F.lit(0),
            ).alias("upserts"),
            F.coalesce(F.sum(F.when(F.col("op") == "delete", 1).otherwise(0)), F.lit(0)).alias(
                "deletes"
            ),
            F.count(F.lit(1)).alias("written"),
        ]
        # A batch with no data rows (DDL only, or every row null-key
        # quarantined) runs no write job: it commits DDL + ledger +
        # lineage only.
        staged = None
        row_metrics = {"upserts": 0, "deletes": 0, "written": 0}
        n_malformed = 0
        patched: list[str] = []
        if n_data > 0:
            data = events_raw.filter(F.col("op") != "schema_change").select(
                "conv_id", "turn_idx", "lsn", "op", "payload"
            )
            if n_nullkey > 0:  # quarantine mode (fail already raised above)
                data = data.filter(F.col("conv_id").isNotNull())
            if deduped:
                data = (
                    data.groupBy("conv_id", "turn_idx")
                    .agg(F.max_by(F.struct("lsn", "op", "payload"), "lsn").alias("__w"))
                    .select("conv_id", "turn_idx", "__w.lsn", "__w.op", "__w.payload")
                )

            # -- ONE salted bucket shuffle, THEN Arrow normalize -----------
            # (normalize placed post-shuffle: parallelism = shuffle_n
            # regardless of source layout; its output stays in-partition
            # for the partitionBy write).
            # Census-derived placement (_placement), ONE exchange, ZERO
            # sampling: the write runs exactly S = shuffle_n tasks. Bucket
            # b owns the contiguous slots [lo_b, lo_b + w_b), sized by its
            # share of the batch's rows (a bucket under one slot's worth
            # shares its slot with neighbours); a row goes to slot
            # lo_b + pmod(hash(conv_id) + salt, w_b), where salt is 0
            # unless its conversation is hot (n > R/S rows), then
            # pmod(lsn, ⌈n·S/R⌉): about R/S rows per salt value, on
            # consecutive slots of its range (w_b ≥ ⌈n·S/R⌉ − 1, so at
            # most two values share a slot). Shares come from
            # pre-collapse counts, so a deduped batch balances by
            # events, not written rows. Slot s maps to exactly partition
            # s of the hash partitioner via the precomputed hash-inverse
            # token _slot_tokens(S)[s].
            data = data.withColumn("__bucket", bucket_expr(F.col("conv_id"), n_buckets))
            salt = F.lit(0)
            if salts:
                m = F.create_map(*[F.lit(x) for c, k in salts.items() for x in (c, k)])
                salt = F.coalesce(F.pmod(F.col("lsn"), F.element_at(m, F.col("conv_id"))), salt)
            lo = F.create_map(*[F.lit(x) for b, (o, _) in ranges.items() for x in (b, o)])
            width = F.create_map(*[F.lit(x) for b, (_, w) in ranges.items() for x in (b, w)])
            slot = F.element_at(lo, F.col("__bucket")) + F.pmod(
                F.hash(F.col("conv_id")) + salt, F.element_at(width, F.col("__bucket"))
            )
            tokens = F.array(*[F.lit(t) for t in _slot_tokens(shuffle_n)])
            data = data.repartition(shuffle_n, F.element_at(tokens, (slot + 1).cast("int")))
            obs = Observation(f"apply-{batch_id}-{uuid.uuid4().hex[:8]}")
            data = data.observe(obs, *metric_exprs)

            physical = table._phys_map(plan)
            final_rows = normalize_envelope(
                data,
                out_schema,
                on_malformed=cfg.on_malformed,
                passthrough=("__bucket",),
                aliases=aliases,
                physical=physical,
            )
            # the malformed count and the patched-column set ride the
            # write (no read-back job): the distinct PHYSICAL names the
            # written set-masks carry, unioned into the manifest's
            # patched_columns by the commit — fold reads per-column
            # aggregate ONLY columns a patch has ever touched
            # (table._fold_resolve); the rest ride the winning-base struct
            obs_mf = Observation(f"malformed-{batch_id}-{uuid.uuid4().hex[:8]}")
            final_rows = final_rows.observe(
                obs_mf,
                F.coalesce(F.sum("__malformed"), F.lit(0)).alias("malformed"),
                F.array_distinct(F.flatten(F.collect_set(
                    F.when(F.col("__malformed") == 0, F.col(S.SETMASK_META_COL))
                ))).alias("patched"),
            )
            final_rows = final_rows.filter(F.col("__malformed") == 0).drop("__malformed")

            staged = table.new_staging_dir()
            writer = (
                table.to_physical(final_rows, plan)
                # __bucket first: the planned write sorts each task by its
                # partition column, and a sort that does not lead with it
                # is replaced, leaving files unsorted by key
                .sortWithinPartitions("__bucket", "conv_id", "turn_idx")
                .write.mode("overwrite")
            )
            for k, v in DELTA_WRITE_OPTIONS.items():
                writer = writer.option(k, v)
            writer.partitionBy("__bucket").parquet(staged)
            # Metrics ride the write action via CollectMetrics — no
            # extra job in the common case. When AQE's empty-relation
            # propagation eliminates the whole subtree, the metrics row
            # is lost and .get raises — recompute with one tiny job (the
            # plan is deterministic; this only fires on near-empty
            # outputs, which wrote no set-mask either).
            try:
                row_metrics = obs.get
            except Exception:
                row_metrics = data.agg(*metric_exprs).collect()[0].asDict()
            try:
                mf = obs_mf.get
                n_malformed, patched = int(mf["malformed"] or 0), list(mf["patched"] or [])
            except Exception:  # metrics lost: any column may be patched
                patched = list(physical.values())
        n_malformed += int(n_nullkey)  # quarantined null-key events
        # -- dead-letter quarantine (rare path) ---------------------------
        # "quarantine" without a sink would still be silent loss of the
        # PAYLOADS. When (and only when) poison rows were detected, one
        # extra job re-selects the original envelope rows — null-key data
        # events plus record-strict parse failures — and lands them under
        # <root>/_quarantine/app=<app_id>/batch=<id>/ for inspection /
        # replay (app-scoped like the commit ledger, so two apps with
        # overlapping batch ids never overwrite each other's dead
        # letters). Written BEFORE the commit and with overwrite
        # semantics, so a crash-and-redeliver rewrites it idempotently;
        # the happy path pays nothing (the job only runs when the
        # Observation saw poison).
        #
        # CONTRACT under the high-churn pre-collapse (deduped=True):
        # the selection runs over PRE-collapse events_raw, so the dead
        # letter dir captures ALL poison envelope rows — a SUPERSET of
        # what normalize actually dropped (metrics.malformed counts
        # post-collapse drops only, so the dir may hold more rows than
        # the metric reports). Conversely, a poison row superseded by a
        # later good event for the same key never reaches normalize: if
        # EVERY poison row in a batch is superseded, n_malformed stays 0
        # and the quarantine job does not fire. Making that gate exact
        # would require parsing every pre-collapse payload (or pulling
        # `payload` into the column-pruned stats scan) on the hot path —
        # deliberately not paid for a rare-path diagnostic; superseded
        # poison is, by LWW definition, data that could never have
        # affected table state. (On the non-dedup path the selection IS
        # the exact set normalize dropped.)
        if cfg.on_malformed == "quarantine" and n_malformed > 0:
            quar = events_raw.filter(F.col("op") != "schema_change").filter(
                F.col("conv_id").isNull() | malformed_predicate(out_schema, aliases)
            )
            quar.write.mode("overwrite").parquet(table.quarantine_dir(batch_id, cfg.app_id))
        _phase("write")

        # an empty batch keeps its short lineage row
        lineage_row = {"batch_id": batch_id, "rows": int(n_data)}
        if n_events:
            lineage_row.update(
                upserts=int(row_metrics["upserts"] or 0),
                deletes=int(row_metrics["deletes"] or 0),
                lsn_min=int(lsn_min),
                lsn_max=int(lsn_max),
                hot_keys=len(salts),
                deduped=bool(deduped),
                malformed=n_malformed,
            )
        # ONE snapshot for the whole batch: DDL, the patched_columns
        # union (patches switch the table into column-resolution mode,
        # durably), files, ledger and lineage
        snapshot = table._commit_batch(
            staged,
            affected,
            (cfg.app_id, batch_id, watermarks),
            lineage_row,
            ref=cfg.branch,
            plan=plan,
            ddl=ddl,
            patched=patched if n_partial > 0 else None,
            properties=properties,
        )

        _phase("commit")

        # -- amortized compaction ------------------------------------------
        # runs on a background thread, OVERLAPPING the next micro-batch
        # instead of stalling the stream: safe because commits are
        # optimistic (fresh-manifest mutation under the commit lock) and
        # the rewrite-vs-append conflict rule retains deltas appended
        # while the compaction ran (table.commit_merged_buckets). Join
        # the previous batch's compaction first (at most one in flight;
        # also surfaces its exceptions on the stream).
        join_pending_compaction(table)
        compacted = 0
        if cfg.auto_compact and cfg.branch == "main":
            over = table.buckets_over_threshold(cfg.compact_max_files)
            if over:
                _spawn_compaction(table, over, shuffle_n)
                compacted = len(over)
                _phase("compact")

        secs = time.perf_counter() - t0
        written = int(row_metrics["written"] or 0)
        return BatchMetrics(
            batch_id=batch_id,
            events=int(n_data),
            upserts=int(row_metrics["upserts"] or 0),
            deletes=int(row_metrics["deletes"] or 0),
            dedup_dropped=int(n_data - written),
            hot_keys=len(salts),
            seconds=secs,
            lsn_min=int(lsn_min),
            lsn_max=int(lsn_max),
            snapshot_id=snapshot,
            compacted_buckets=compacted,
            deduped=deduped,
            phases=phases,
            malformed=n_malformed,
        )
    finally:
        if spool is not None:
            _shutil.rmtree(spool, ignore_errors=True)
        if stats is not None:
            stats.unpersist()


# The one-time snapshot load commits as batch 0 under its own app-id
# channel (f"{app_id}#bootstrap"), so it cannot collide with the tail's
# batch numbering — and cannot reuse a negative sentinel, because the
# exactly-once ledger treats "nothing committed" as -1.
BOOTSTRAP_APP_SUFFIX = "#bootstrap"


def bootstrap_snapshot(
    snapshot_df: DataFrame,
    table: SnapshotTable,
    snapshot_lsn: int,
    cfg: ApplyConfig | None = None,
) -> BatchMetrics:
    """One-time INITIAL LOAD for snapshot-then-tail CDC bootstrap — the
    standard way a CDC pipeline starts against an existing source: take
    one consistent snapshot at a known WAL position, load it, then tail
    the WAL from (at or before) that position.

    Contract: ``snapshot_df`` holds table-shaped LIVE rows as of
    ``snapshot_lsn`` — one row per (conv_id, turn_idx), no tombstones,
    no per-row versions — exactly what a consistent source read or a
    backup restore provides. The load reuses the full proven apply path
    (normalize -> bucket -> stage -> exactly-once commit) by wrapping
    the rows as insert envelopes stamped ``lsn = snapshot_lsn``; a
    bespoke bulk-write path would just be a second, less-tested writer.

    Once the load commits, ``snapshot_lsn`` is recorded as a durable
    table property, and every subsequent ``apply_batch`` FENCES the
    tail: events with ``lsn <= snapshot_lsn`` are dropped at the scan,
    making ANY overlapping re-delivery of pre-snapshot events a no-op.
    What the fence buys, precisely: a snapshot load cannot tombstone
    keys deleted before it was taken, so a re-delivered pre-snapshot
    insert of a since-deleted key has nothing to lose against. A
    contiguous-suffix overlap still converges without the fence (the
    later delete is re-delivered too and wins LWW) — but (a) an
    arbitrary-SUBSET redelivery (unordered chunk replay, partial
    re-listing: the old insert re-sent, the delete's chunk already
    acked) resurrects the key in the FINAL state — pinned by
    test_bootstrap_fence_blocks_resurrection's negative control; (b)
    even the contiguous case serves the ghost row to readers between
    the insert's batch and the delete's batch; and (c) tailing from
    LSN 0 without a fence makes the first batch O(history) instead of
    O(new). The fence closes all three for one pushed-down predicate.

    Idempotent / crash-safe: the fence property lands in the load's own
    commit, so the load and its fence are durable together; re-running
    after a crash skips the committed load (batch-0 dedup under the
    ``{app_id}#bootstrap`` ledger channel), so the bootstrap is complete
    exactly when this function returns — resume logic can call it
    unconditionally.
    """
    cfg = cfg or ApplyConfig()
    cols = [n for n, _ in table.manifest().columns]
    payload_cols = [c for c in cols if c not in ("conv_id", "turn_idx")]
    ts_col = (
        F.col("ts").cast("timestamp_ntz")
        if "ts" in payload_cols
        else F.lit(None).cast("timestamp_ntz")
    )
    env = snapshot_df.select(
        F.lit(int(snapshot_lsn)).cast("long").alias("lsn"),
        ts_col.alias("ts"),
        F.lit("insert").alias("op"),
        F.col("conv_id").cast("string").alias("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.to_json(F.struct(*[F.col(c) for c in payload_cols])).alias("payload"),
        F.lit(1).cast("int").alias("schema_ver"),
        F.lit(0).cast("int").alias("source_part"),
    )
    import dataclasses

    boot_cfg = dataclasses.replace(cfg, app_id=cfg.app_id + BOOTSTRAP_APP_SUFFIX)
    return _apply_batch(env, table, 0, boot_cfg, {"snapshot_lsn": int(snapshot_lsn)})
