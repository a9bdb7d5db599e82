"""Round-6 optimization pins: changed operator internals must be
result-identical to their original forms.

- toks_col threading (shingled/near_dedup_pairs/span_dedup_stats): a
  pre-tokenized array column must yield the same output as internal
  tokenization.
- hoisted-norm cosine kernels: brute/LSH/IVF ANN and the embedding-dup
  kernels moved the l2 norms below the join (same arithmetic, same
  operand order) — pinned bit-identical against a locally-built
  original-form expression.
- driver-side flush sentinels: the pyarrow writer must produce a file
  Spark reads under the source schema with the overridden values.
- tmpfs scratch: /dev/shm is the default only while it has room.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest


SF001 = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF001}/documents.parquet")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_toks_col_matches_internal_tokenize(spark, docs):
    from audience_behavior_semantic_etl_spark.operators.dedup import (
        near_dedup_pairs,
        span_dedup_stats,
    )
    from audience_behavior_semantic_etl_spark.operators.text import tokens

    staged = docs.select("doc_id", "text", tokens(F.col("text")).alias("__toks"))
    a = span_dedup_stats(docs, "text", "doc_id", k=8, min_count=2)
    b = span_dedup_stats(staged, "text", "doc_id", k=8, min_count=2, toks_col="__toks")
    assert _rows(a) == _rows(b)

    pa = near_dedup_pairs(docs, "text", "doc_id", k=3, n_bands=4,
                          rows_per_band=2, threshold=0.1)
    pb = near_dedup_pairs(staged, "text", "doc_id", k=3, n_bands=4,
                          rows_per_band=2, threshold=0.1, toks_col="__toks")
    try:
        assert _rows(pa) == _rows(pb)
    finally:
        pa.unpersist()
        pb.unpersist()


def test_hoisted_norm_cosine_bit_identical(spark):
    from audience_behavior_semantic_etl_spark.operators.similarity import (
        brute_force_topk,
        cosine,
    )
    from pyspark.sql import Window

    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 10)
    got = brute_force_topk(qs, emb, "embedding", "vec_id", k=5)

    # original (pre-hoist) form, built inline: cosine() per pair
    q = qs.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    scored = (
        F.broadcast(q).crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(cosine(F.col("qv"), F.col("cv")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    want = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "rank", "cos")
    )
    assert _rows(got) == _rows(want)


def test_write_sentinel_round_trips(spark, tmp_path):
    from datetime import datetime, timedelta

    from audience_behavior_semantic_etl_spark.streaming.drain import (
        parse_interval_seconds,
        write_sentinel,
    )

    src = str(tmp_path / "src")
    df = spark.createDataFrame(
        [(1, "2030-01-01 00:00:00", "view")], "user_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    df.coalesce(1).write.parquet(src)
    part = next(p for p in os.listdir(src) if p.endswith(".parquet"))
    dst = str(tmp_path / "sentinel.parquet")
    stamp = datetime(2030, 1, 2) + timedelta(hours=6)
    write_sentinel(os.path.join(src, part), dst, {"ts": stamp, "user_id": -1})
    back = spark.read.schema(df.schema).parquet(dst).collect()
    assert len(back) == 1
    assert back[0]["user_id"] == -1
    assert back[0]["ts"] == stamp
    assert back[0]["event_type"] == "view"

    assert parse_interval_seconds("90 seconds") == 90
    assert parse_interval_seconds("2 hours") == 7200
    assert parse_interval_seconds("3650 days") == 3650 * 86400
    assert parse_interval_seconds("1 hour 30 minutes") == 5400
    with pytest.raises(ValueError):
        parse_interval_seconds("INTERVAL 90 MINUTES")


def test_tmpfs_scratch_needs_free_space(monkeypatch):
    """/dev/shm is host RAM: below the free-space floor the scratch
    root falls back to the system tempdir."""
    from types import SimpleNamespace

    from audience_behavior_semantic_etl_spark import scratch

    monkeypatch.delenv("SPARK_GRAFT_SCRATCH", raising=False)
    monkeypatch.setattr(scratch.os.path, "isdir", lambda p: p == "/dev/shm")
    monkeypatch.setattr(scratch.os, "access", lambda p, mode: p == "/dev/shm")

    def free(n_bytes):
        return lambda p: SimpleNamespace(f_bavail=n_bytes // 4096, f_frsize=4096)

    monkeypatch.setattr(scratch.os, "statvfs", free(scratch.SHM_FLOOR_BYTES))
    assert scratch._base_root() == "/dev/shm/spark-graft-scratch"
    monkeypatch.setattr(scratch.os, "statvfs", free(64 << 20))
    assert scratch._base_root() is None


def test_tempdir_scratch_is_removed_at_exit(monkeypatch, tmp_path):
    """Without a fast medium, scratch dirs still land under a per-process
    root (here in the system tempdir) that interpreter exit removes."""
    from audience_behavior_semantic_etl_spark import scratch

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", "")
    monkeypatch.setattr(scratch.tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(scratch, "_proc_roots", {})
    at_exit = []
    monkeypatch.setattr(scratch.atexit, "register", lambda fn, *a, **kw: at_exit.append(
        lambda: fn(*a, **kw)))

    d = scratch.scratch_dir("x-")
    root = os.path.join(str(tmp_path), "spark-graft-scratch", f"pid-{os.getpid()}")
    assert os.path.dirname(d) == root and os.path.isdir(d)
    assert scratch.scratch_root() is None  # spark.local.dir keeps Spark's default
    assert os.path.dirname(scratch.scratch_dir("y-")) == root
    assert len(at_exit) == 1
    at_exit[0]()
    assert not os.path.exists(root)
