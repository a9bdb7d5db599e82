"""Distributed deterministic WAL generator — the scale path.

``gen.py`` builds the small-scale WAL in pandas with a single-threaded
oracle for byte-exact correctness tests. This module builds the SAME
envelope shape (ENVELOPE_SCHEMA, same op mix: ~60% insert keys / ~30%
update churn / ~8% delete keys / ~2% re-delivered duplicates / one
schema_change) entirely in Spark — pure deterministic column algebra
over ``spark.range``, no Python UDFs — so benchmark WALs of 10^7+
events generate in seconds and the same recipe would generate 10^10 on
a cluster. Seeded and pure: same (seed, n_convs) -> same WAL.

Semantics matched to gen.py (not byte-identical):
- per-key chains insert -> update* -> maybe delete, intra-key order
  preserved under a global pseudo-random interleave (per-key sorted
  uniform draws, exactly gen.py's trick, done with array HOFs);
- lsn: strictly increasing along the global interleave, unique;
- Zipf-ish skew: head conversations receive multiplied update churn
  (exercises the hot-key salting path);
- v2 payloads (tool_meta.{name,latency_ms}) after the schema_change
  point, v1 before;
- text carries the version prefix ("t{v}: ...") plus seeded messiness
  (CRLF / control char / double spaces) so the canonicalizer does real
  work at bench scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from audience_behavior_semantic_etl_spark.cdc.schema import ENVELOPE_SCHEMA
from audience_behavior_semantic_etl_spark.scratch import scratch_dir

BASE_EPOCH = "2025-01-01 00:00:00"


def _h(*cols) -> "F.Column":
    """Deterministic non-negative 64-bit hash. Plain strings are COLUMN
    NAMES; use F.lit for literal tags."""
    return F.abs(
        F.xxhash64(
            *[
                F.col(c) if isinstance(c, str) else (F.lit(c) if isinstance(c, int) else c)
                for c in cols
            ]
        )
    )


def generate_change_log_spark(
    spark: SparkSession,
    seed: int = 7,
    n_convs: int = 100_000,
    mean_turns: int = 12,
    update_frac: float = 0.5,
    hot_frac: float = 0.001,
    hot_update_mult: int = 40,
    delete_key_pct: int = 8,
    redeliver_pct: int = 2,
    n_source_parts: int = 4,
    schema_change_at: float = 0.5,
    n_partitions: int | None = None,
    partial_frac: float = 0.0,
) -> DataFrame:
    """Build the WAL as a DataFrame in stream order (column ``lsn`` is
    the order; callers sort/range-partition by it when chunking)."""
    sc_frac = float(schema_change_at)
    n_parts = n_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    convs = (
        spark.range(0, n_convs, numPartitions=n_parts)
        .withColumn("conv_id", F.format_string("conv-%08d", F.col("id").cast("int")))
        .withColumn("n_turns", (_h(seed, F.lit("nt"), F.col("id")) % (2 * mean_turns) + 1).cast("int"))
        .withColumn("is_hot", F.col("id") < F.lit(max(1, int(n_convs * hot_frac))))
    )
    keys = convs.select(
        "conv_id",
        "is_hot",
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
    )
    # per-key chain: 1 insert + n_upd updates + maybe 1 delete (last)
    base_upd = F.when(
        (_h(seed, F.lit("u?"), "conv_id", "turn_idx") % 100) < int(update_frac * 100),
        (_h(seed, F.lit("un"), "conv_id", "turn_idx") % 3 + 1),
    ).otherwise(F.lit(0))
    keys = keys.withColumn(
        "n_upd",
        F.when(F.col("is_hot"), base_upd * hot_update_mult).otherwise(base_upd).cast("int"),
    ).withColumn("has_del", (_h(seed, F.lit("d?"), "conv_id", "turn_idx") % 100) < delete_key_pct)

    # chain versions: [1, 2..n_upd+1, (0 = delete)] — intra-key ORDER.
    # Global interleave via per-key SORTED uniform draws (gen.py's
    # trick): draw one u per chain slot, sort them within the key, pair
    # slot i with the i-th smallest u. Strict uniqueness within a key
    # comes from appending the slot index after the sort.
    keys = keys.withColumn(
        "vers",
        F.concat(
            F.sequence(F.lit(1), F.col("n_upd") + 1),
            F.when(F.col("has_del"), F.array(F.lit(0))).otherwise(
                F.array().cast("array<int>")
            ),
        ),
    )
    n_ev = F.size("vers")
    keys = keys.withColumn(
        "us",
        F.array_sort(
            F.transform(
                F.sequence(F.lit(0), n_ev - 1),
                # 2^32 draw domain: pos = u*1024+i <= 2^42, and
                # gpos = pos*2^20 + tb <= 2^62 stays inside int64.
                lambda i: _h(F.lit(seed), F.lit("u"), F.col("conv_id"), F.col("turn_idx"), i)
                % F.lit(4_294_967_296),
            )
        ),
    )
    ev = keys.select(
        "conv_id",
        "turn_idx",
        "is_hot",
        F.explode(
            F.zip_with(
                F.col("vers"),
                F.sequence(F.lit(0), n_ev - 1),
                lambda v, i: F.struct(
                    v.alias("version"),
                    # strictly increasing within the key: sorted u, slot
                    # index appended below the draw's resolution
                    (F.element_at(F.col("us"), i + 1) * 1024 + i).alias("pos"),
                ),
            )
        ).alias("e"),
    ).select("conv_id", "turn_idx", "is_hot", "e.version", "e.pos")

    # global order key: pos + per-event tiebreak (unique across keys)
    ev = ev.withColumn(
        "gpos",
        F.col("pos") * F.lit(1_048_576)
        + (_h(seed, F.lit("tb"), "conv_id", "turn_idx", "version") % F.lit(1_048_576)),
    )

    # lsn: rank along gpos without a global sort — gpos IS the order
    # (strictly increasing mapping), so use gpos directly as the lsn
    # domain. Batch/chunk boundaries slice gpos ranges.
    ev = ev.withColumn("lsn", F.col("gpos")).drop("pos", "gpos")

    # ~2% re-delivered duplicates: a deterministic sample re-emitted at
    # a LATER stream position with the SAME lsn + content. The replay
    # position is carried in a separate ordering column.
    ev = ev.withColumn("stream_pos", F.col("lsn"))
    dups = ev.filter((_h(seed, F.lit("rd"), "conv_id", "turn_idx", "version") % 100) < redeliver_pct)
    dups = dups.withColumn(
        "stream_pos",
        F.col("stream_pos")
        + (_h(seed, F.lit("rdo"), "conv_id", "turn_idx", "version") % F.lit(1_000_000_000_000_000)),
    )
    ev = ev.unionByName(dups)

    # schema evolution point: fraction of the lsn domain (2^62)
    max_pos = 4_294_967_296 * 1024 * 1_048_576
    evolution_lsn = int(max_pos * sc_frac)

    # Sparse after-images: a deterministic partial_frac slice of the
    # UPDATE churn becomes op='update_partial' carrying only the
    # columns it sets. Two shapes, both exercised: text-only, and
    # explicit-null role + a tool value (the null must be hand-built:
    # to_json DROPS null struct fields, and storing "role was set to
    # null" is the whole point of the set-mask).
    is_partial = (F.col("version") >= 2) & (
        (_h(seed, F.lit("pf"), "conv_id", "turn_idx", "version") % 100)
        < int(partial_frac * 100)
    )
    op = (
        F.when(F.col("version") == 0, F.lit("delete"))
        .when(F.col("version") == 1, F.lit("insert"))
        .when(is_partial, F.lit("update_partial"))
        .otherwise(F.lit("update"))
    )
    role = F.when(
        (_h(seed, F.lit("role"), "conv_id", "turn_idx") % 100) < 15, F.lit("tool")
    ).otherwise(F.when(F.col("turn_idx") % 2 == 0, F.lit("user")).otherwise(F.lit("assistant")))
    tool = F.when(
        role == "tool",
        F.element_at(
            F.array(F.lit("bash"), F.lit("search"), F.lit("python"), F.lit("browser")),
            (_h(seed, F.lit("tool"), "conv_id", "turn_idx") % 4 + 1).cast("int"),
        ),
    )
    # seeded word-salad text + messiness variants (canonicalizer work)
    body = F.concat_ws(
        " ",
        *[
            F.substring(F.md5(F.concat_ws("|", F.lit(seed), "conv_id", "turn_idx",
                                           F.col("version").cast("string"), F.lit(i))), 1, 6)
            for i in range(6)
        ],
    )
    mess = _h(seed, F.lit("mess"), "conv_id", "turn_idx", "version") % 4
    body = (
        F.when(mess == 1, F.concat(F.lit("café "), body, F.lit("  \r\nnext line\t")))
        .when(mess == 2, F.concat(body, F.lit(" café\x07")))
        .when(mess == 3, F.concat(body, F.lit("  x \n")))
        .otherwise(body)
    )
    text = F.concat(F.lit("t"), F.col("version").cast("string"), F.lit(": "), body)
    ts_sec = (F.col("lsn") % F.lit(86400 * 365)).cast("long")
    ts_iso = F.date_format(
        F.timestamp_seconds(F.unix_timestamp(F.lit(BASE_EPOCH)) + ts_sec),
        "yyyy-MM-dd'T'HH:mm:ss",
    )
    is_v2 = F.col("lsn") > F.lit(evolution_lsn)
    payload_v1 = F.to_json(
        F.struct(
            role.alias("role"),
            text.alias("text"),
            tool.alias("tool"),
            ts_iso.alias("ts"),
        )
    )
    payload_v2 = F.when(
        role == "tool",
        F.to_json(
            F.struct(
                role.alias("role"),
                text.alias("text"),
                tool.alias("tool"),
                ts_iso.alias("ts"),
                F.struct(
                    tool.alias("name"),
                    (_h(seed, F.lit("lat"), "conv_id", "turn_idx") % 5000).alias("latency_ms"),
                ).alias("tool_meta"),
            )
        ),
    ).otherwise(payload_v1)
    patch_shape_a = (_h(seed, F.lit("ps"), "conv_id", "turn_idx", "version") % 2) == 0
    payload_partial = F.when(
        patch_shape_a, F.to_json(F.struct(text.alias("text")))
    ).otherwise(
        F.concat(
            F.lit('{"role": null, "tool": "p'),
            F.col("version").cast("string"),
            F.lit('"}'),
        )
    )
    payload = (
        F.when(op == "delete", F.lit("{}"))
        .when(op == "update_partial", payload_partial)
        .otherwise(F.when(is_v2, payload_v2).otherwise(payload_v1))
    )

    data = ev.select(
        F.col("lsn"),
        F.timestamp_seconds(F.unix_timestamp(F.lit(BASE_EPOCH)) + ts_sec)
        .cast("timestamp_ntz")
        .alias("ts"),
        op.alias("op"),
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        payload.alias("payload"),
        F.when(is_v2, 2).otherwise(1).cast("int").alias("schema_ver"),
        (_h(seed, F.lit("sp"), "conv_id") % n_source_parts).cast("int").alias("source_part"),
        "stream_pos",
    )

    sc_row = spark.createDataFrame(
        [
            {
                "lsn": evolution_lsn,
                "ts": None,
                "op": "schema_change",
                "conv_id": None,
                "turn_idx": None,
                "payload": '{"add_columns": {"tool_name": "string", "tool_latency_ms": "long"}}',
                "schema_ver": 2,
                "source_part": 0,
                "stream_pos": evolution_lsn,
            }
        ],
        # StructType.add MUTATES the receiver — never call it on the
        # shared schema constant
        schema=T.StructType(
            list(ENVELOPE_SCHEMA.fields) + [T.StructField("stream_pos", T.LongType())]
        ),
    )
    return data.unionByName(sc_row)


def write_wal_chunks_spark(log: DataFrame, wal_dir: str, n_chunks: int) -> None:
    """Range-partition the log by stream position into ``n_chunks``
    sequential parquet chunk files (one file ≈ one offset range), named
    so lexical order == stream order (the file stream source's order)."""
    import glob
    import os
    import shutil
    import time

    staged = scratch_dir("walgen-")
    (
        log.repartitionByRange(n_chunks, "stream_pos")
        .sortWithinPartitions("stream_pos")
        .drop("stream_pos")
        .write.mode("overwrite")
        .parquet(staged)
    )
    os.makedirs(wal_dir, exist_ok=True)
    # part files are named part-NNNNN-... and range partitions are
    # assigned in ascending range order, so lexical part order == range
    # order == stream order.
    parts = sorted(glob.glob(os.path.join(staged, "part-*.parquet")))
    base = int(time.time()) - len(parts) - 10
    for i, p in enumerate(parts):
        dst = os.path.join(wal_dir, f"chunk-{i:05d}.parquet")
        shutil.move(p, dst)
        # Spark's file stream source orders candidate files by
        # MODIFICATION TIME; parallel-written parts share one mtime, so
        # without distinct stamps batch composition is nondeterministic
        # and a v2 payload can be delivered BEFORE its schema_change
        # event. Strictly increasing mtimes pin stream order == chunk
        # order (the WAL contract: DDL precedes the data that needs it).
        os.utime(dst, (base + i, base + i))
    shutil.rmtree(staged, ignore_errors=True)
