"""Custom stateful streaming operator via applyInPandasWithState —
the escape hatch for per-key state that window algebra cannot express
across micro-batches (SURVEY.md §2.7 note: the engine's ordered-apply
is pure window algebra inside foreachBatch; THIS is the documented
fallback when genuinely cross-batch state is needed).

Demo operator: a running per-conversation turn counter. Each
micro-batch emits one row per conversation seen in that batch with the
cumulative count across ALL batches so far — state (the running count)
lives in the streaming state store, checkpointed with the query.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T
from audience_behavior_semantic_etl_spark.streaming.drain import run_sink

OUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("n_turns_total", T.LongType()),
    ]
)
STATE_SCHEMA = T.StructType([T.StructField("n", T.LongType())])


def _count_turns(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    n = state.get[0] if state.exists else 0
    for pdf in pdfs:
        n += len(pdf)
    state.update((n,))
    yield pd.DataFrame({"conv_id": [key[0]], "n_turns_total": [n]})


def running_turn_counts(spark: SparkSession, wal_dir: str) -> DataFrame:
    """Drain ``wal_dir`` (envelope parquet chunks) through the stateful
    counter; returns the FINAL per-conversation totals (the last emitted
    row per key across batches) as a DISTRIBUTED frame.

    Sink shape (round-3 verdict "what's wrong" #2): emissions land in a
    parquet FILE sink — each micro-batch appends its per-key running
    totals — and the final value per key is reduced distributed with a
    ``groupBy(...).max`` over the sink (running counts are monotone, so
    last emission == max). No memory sink, no driver collect: the
    O(keys) result stays on the executors, like ``sessionize.py``."""
    from pyspark.sql import functions as F

    from audience_behavior_semantic_etl_spark.sources.wal import read_wal_stream

    src = read_wal_stream(spark, wal_dir).filter("op != 'schema_change'")
    counted = src.groupBy("conv_id").applyInPandasWithState(
        _count_turns,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        run_sink(counted)
        .groupBy("conv_id")
        .agg(F.max("n_turns_total").alias("n_turns_total"))
    )
