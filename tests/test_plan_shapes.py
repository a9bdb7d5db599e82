"""Plan-shape smoke tests (SURVEY.md §5): the optimizations the engine
relies on at 100 TB must be visible in the physical plan, not assumed —
predicate pushdown to the parquet scan, column pruning, broadcast for
small dimension joins, and shuffle counts that match the design.
"""

from __future__ import annotations

import __spark_entry__ as em

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = em.queries()[name](spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_project_pushes_down_and_prunes(spark):
    p = _plan(spark, "q_filter_project")
    assert "EqualTo(o_orderstatus,O)" in p, "filter not pushed to scan"
    assert "GreaterThan(o_totalprice" in p, "range filter not pushed to scan"
    # column pruning: unneeded wide columns never reach the scan
    assert "o_comment" not in p and "o_orderdate" not in p
    assert "Exchange" not in p, "pure filter+project must not shuffle"


def test_small_dim_join_broadcasts(spark):
    p = _plan(spark, "q_join_equi_broadcast")
    assert "BroadcastExchange" in p, "small dimension side must broadcast"


def test_lww_dedup_single_shuffle(spark):
    p = _plan(spark, "q_dedup_lww")
    assert p.count("+- Exchange") == 1, "LWW dedup is one hash shuffle"


def test_sessionize_plus_metrics_is_one_shuffle(spark):
    """sessionize hash-partitions by user_id; the session-metric
    windows partition by (user_id, session) which HashPartitioning
    already satisfies — the whole pipeline must plan exactly ONE
    Exchange (the reference's physical shape, Sessionize.scala:103)."""
    p = _plan(spark, "q_sessionize")
    assert p.count("+- Exchange") == 1, "sessionize+metrics must be one shuffle"


def test_near_dedup_has_no_all_pairs_join(spark):
    """The composed near-dedup must never fall back to a quadratic
    join: no cartesian / nested-loop, and the only self-join key is the
    LSH band key (shingle-explode equi self-join would be the all-pairs
    blowup at scale)."""
    p = _plan(spark, "q_dedup_near")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    # the exploded-shingle self-join of ngram_jaccard_pairs joins on a
    # xxhash64(shingle) column named 's'; near_dedup must not contain it
    assert "xxhash64" not in p, "shingle-hash self-join leaked into near_dedup"


def test_embedding_dups_bucketed_no_cross_product(spark):
    p = _plan(spark, "q_embedding_dups")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "bkt" in p, "LSH bucket equi-join key missing from plan"


def test_ntile_scalable_has_no_global_window(spark):
    """The 2-pass ntile must not plan a Window operator or a
    single-partition exchange — that is the hazard it exists to
    avoid."""
    p = _plan(spark, "q_ntile_scalable")
    assert "Window" not in p, "2-pass ntile fell back to a window"
    assert "SinglePartition" not in p, "global serialization point in plan"


def test_pricing_summary_scan_is_pruned(spark):
    p = _plan(spark, "q_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in p, "date filter not pushed"
    assert "l_comment" not in p, "scan reads columns the query never uses"


def test_decontaminate_broadcasts_benchmark(spark):
    """Decontamination must broadcast the (small) benchmark shingle set
    and never self-join the corpus — the corpus side stays map-only up
    to the per-doc count aggregation."""
    p = _plan(spark, "q_decontaminate")
    assert "BroadcastExchange" in p, "benchmark shingle set must broadcast"
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_pack_sequences_one_shuffle_no_global_sort(spark):
    """Sequence packing shards into independent groups: exactly one
    hash shuffle on the group key and NO single-partition/global-sort
    operator anywhere."""
    p = _plan(spark, "q_pack_sequences")
    # one SEMANTIC (hash) shuffle on grp; the round-6 input-spread may
    # add a RoundRobinPartitioning exchange right above the scan on
    # parallelism-starved inputs (identity on production layouts — see
    # __spark_entry__._spread), which moves no keys and is allowed
    assert p.count("Arguments: hashpartitioning") == 1, "packing is one hash shuffle on grp"
    assert "SinglePartition" not in p and "rangepartitioning" not in p


def test_stratified_sample_is_map_only(spark):
    """Rate-based stratified sampling is a pure row-local decision —
    zero shuffles; the filter fuses into the scan projection."""
    p = _plan(spark, "q_stratified_sample")
    assert "Exchange" not in p


def test_redact_pii_is_map_only(spark):
    # map-only: no semantic shuffle (hash/range/single-partition); the
    # input-spread round-robin exchange is allowed (identity at scale)
    p = _plan(spark, "q_redact_pii")
    assert "Arguments: hashpartitioning" not in p
    assert "rangepartitioning" not in p and "SinglePartition" not in p


def test_training_mix_is_one_shuffle(spark):
    """The composed sample->redact->gate->pack->stats pipeline: the
    final per-group agg must REUSE the pack shuffle's grp partitioning
    (distinct-free aggregates), so exactly one hash exchange total."""
    import re

    p = _plan(spark, "q_training_mix")
    # exactly one SEMANTIC exchange (the pack shuffle, reused by the
    # group agg); the input-spread round-robin exchange is allowed
    assert len(re.findall(r"Arguments: hashpartitioning", p)) == 1
    assert "Expand" not in p, "countDistinct-style expand leaked back in"


def test_range_join_no_nested_loop(spark):
    """The bin-bucketed range join must plan as an equi join on the bin
    key (hash/sort-merge), never the cartesian/nested-loop the naive
    theta form degenerates to."""
    p = _plan(spark, "q_range_join")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_hypertable_rollup_single_scan_single_shuffle(spark):
    """All granularities come from ONE scan + ONE aggregation exchange
    via GROUPING SETS (Expand), not a union of per-granularity jobs."""
    p = _plan(spark, "q_hypertable_rollup")
    # count tree nodes only (the formatted detail section repeats names)
    assert p.count("+- Scan parquet") == 1, "grouping sets must share one scan"
    assert "Expand" in p
    # exactly one aggregation exchange (AQE may add a read, not a new one)
    assert p.count("+- Exchange") == 1
    assert "Union" not in p


def test_duplicated_spans_single_aggregate_no_second_join(spark):
    """duplicated_spans computes occurrence AND doc counts in ONE
    hash-aggregate over the span hash and re-joins occurrences once —
    the former two-groupBy + second-join shape paid an extra shuffle on
    the hottest key (round-3 verdict #5)."""
    from pyspark.sql import functions as F

    from audience_behavior_semantic_etl_spark.operators.dedup import duplicated_spans

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    df = duplicated_spans(docs, "text", "doc_id", k=8)
    p = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "approx_count_distinct" not in p, "dead aggregate must be gone"
    # count nodes in the TREE section only — the formatted detail
    # section repeats every node name once more
    tree = p.split("\n\n")[0]
    joins = sum(
        tree.count(n) for n in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
    )
    assert joins == 1, f"expected exactly one join, plan tree had {joins}"


def test_partial_fold_resolve_single_shuffle_no_join(spark, tmp_path):
    """Column-level fold resolution for partial-update tables
    (cdc/table.py _fold_resolve) is ONE aggregate — same single
    shuffle as the row-LWW path, no base/patch self-join, no window.
    max() of (lsn, value) structs forces SortAggregate (struct agg
    buffers are not hash-aggregable — max_by has the same physical
    shape), but it is still associative, so the plan must show a
    map-side PARTIAL aggregate below the exchange: unlike the window
    path, only one pre-reduced row per (key, partition) is shuffled,
    which is what keeps patch resolution O(batch) at 10^10 rows."""
    from audience_behavior_semantic_etl_spark.cdc.table import SnapshotTable

    t = SnapshotTable.create(spark, str(tmp_path / "t"), n_buckets=2)
    # every data column patched: the widest fold plan
    t.set_property("patched_columns", [
        n for n, _ in t.manifest().columns if n not in ("conv_id", "turn_idx")
    ])
    df = t.read()
    p = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    tree = p.split("\n\n")[0]
    assert tree.count("Exchange") == 1, f"fold must be one shuffle:\n{tree}"
    assert not any(
        j in tree for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
    ), "fold must not join"
    assert "Window" not in tree, "fold replaces the row_number window"
    assert tree.count("SortAggregate") == 2, "partial + final aggregate"
    assert "partial_max" in p, "map-side combine must be present"
