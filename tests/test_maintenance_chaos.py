"""Seeded chaos interleaving: the full maintenance surface (compaction,
tombstone purge, REBUCKET, GC, tags, audit-branch stage/publish)
interleaved randomly between applies must be INVISIBLE — after every
single step the resolved table equals the single-threaded pandas
oracle over the log prefix applied so far.

This is the integration-level guarantee the per-feature tests imply
but don't compose: any maintenance op commuting with any apply history.
Deterministic seeds (no flaky search, reproducible failures)."""

from __future__ import annotations

import dataclasses
import random

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


def _envelope_df(spark, pdf: pd.DataFrame):
    pdf = pdf.copy()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return spark.createDataFrame(pdf, schema=ENVELOPE_SCHEMA)


@pytest.mark.parametrize("seed", [3, 17])
def test_maintenance_interleaving_invisible(spark, tmp_path, seed):
    rng = random.Random(seed)
    log = generate_change_log(GenConfig(seed=seed, n_convs=30))
    n_batches = 5
    cuts = [len(log) * i // n_batches for i in range(n_batches + 1)]
    table = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=4)
    cfg = ApplyConfig(app_id="chaos", auto_compact=False, shuffle_partitions=4)
    tagged = []

    for i in range(n_batches):
        env = _envelope_df(spark, log.iloc[cuts[i]:cuts[i + 1]])
        if rng.random() < 0.3:
            # write-audit-publish route: stage on an audit branch
            # (invisible!), publish by fast-forward, drop the branch
            audit = f"audit-{i}"
            before = table_to_pandas(table)
            table.create_branch(audit)
            apply_batch(env, table, i, dataclasses.replace(cfg, branch=audit))
            check_equal(table_to_pandas(table), before)
            table.fast_forward("main", audit)
            table.drop_branch(audit)
        else:
            apply_batch(env, table, i, cfg)
        oracle = expected_final_state(log.iloc[: cuts[i + 1]])
        check_equal(table_to_pandas(table), oracle)

        op = rng.choice(["compact", "purge", "rebucket", "gc", "tag", "noop"])
        if op == "compact":
            bs = [int(b) for b, fs in table.manifest().buckets.items() if fs]
            if bs:
                table.compact_buckets(rng.sample(bs, rng.randint(1, len(bs))))
        elif op == "purge":
            table.purge_tombstones(below_lsn=2**60)
        elif op == "rebucket":
            new_n = rng.choice([2, 3, 8])
            if new_n != table.manifest().n_buckets:
                table.rebucket(new_n)
        elif op == "gc":
            table.gc_orphans(keep_versions=2, staging_grace_seconds=0)
        elif op == "tag":
            name = f"t{i}"
            table.create_tag(name)
            tagged.append((name, expected_final_state(log.iloc[: cuts[i + 1]])))
        check_equal(table_to_pandas(table), oracle)

    # every tag still reads its era's exact state through all the chaos.
    # A tag pinned BEFORE the log's schema_change reads with its era's
    # v1 schema (correct: the pin is schema-inclusive); the pandas
    # oracle always emits v2 columns (all-null pre-DDL) — pad the read
    # with nulls for columns that postdate the tag.
    for name, want in tagged:
        got = (
            table.read_final(tag=name)
            .toPandas()
            .sort_values(["conv_id", "turn_idx"])
            .reset_index(drop=True)
        )
        for c in want.columns:
            if c not in got.columns:
                got[c] = None
        check_equal(got[want.columns.tolist()], want)
