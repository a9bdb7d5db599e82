"""Structured Streaming driver: file-backed WAL -> foreachBatch apply.

The WAL is a directory of sequential parquet chunk files (one file ≈
one offset range); Spark's file source checkpoints which files each
micro-batch consumed, and ``apply_batch`` stamps the batch id into the
table snapshot — together: exactly-once. A killed job (crash inside or
after foreachBatch) resumes from the checkpoint; a re-delivered batch
id is detected inside the snapshot and no-ops (SURVEY.md §7.2 step 4).

On a real cluster the source swaps to Kafka/binlog with the same
foreachBatch body — the engine only sees envelope rows.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from audience_behavior_semantic_etl_spark.cdc.apply import (
    ApplyConfig,
    BatchMetrics,
    apply_batch,
    join_pending_compaction,
)
from audience_behavior_semantic_etl_spark.cdc.table import SnapshotTable
from audience_behavior_semantic_etl_spark.sources.wal import read_wal_stream


@dataclass
class StreamRun:
    metrics: list[BatchMetrics] = field(default_factory=list)
    error: Exception | None = None


def run_wal_stream(
    spark: SparkSession,
    wal_dir: str,
    table: SnapshotTable,
    checkpoint_dir: str,
    cfg: ApplyConfig | None = None,
    max_files_per_trigger: int | None = None,
    fail_after_batches: int | None = None,
) -> StreamRun:
    """Tail the WAL directory until no input remains (availableNow).

    ``fail_after_batches=N`` injects a crash immediately AFTER the Nth
    successful table commit but BEFORE the streaming checkpoint records
    that batch — the worst-case crash window: on resume the same batch
    id is re-delivered and the snapshot-embedded batch id must no-op it.
    """
    cfg = cfg or ApplyConfig()
    run = StreamRun()

    def handle(df, batch_id: int) -> None:
        m = apply_batch(df, table, batch_id, cfg)
        run.metrics.append(m)
        if (
            fail_after_batches is not None
            and len([x for x in run.metrics if not x.skipped]) >= fail_after_batches
        ):
            raise RuntimeError("injected crash (after table commit, before checkpoint)")

    q = (
        read_wal_stream(spark, wal_dir, max_files_per_trigger)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    except Exception as e:  # injected crash or genuine failure
        run.error = e
    finally:
        if q.isActive:
            q.stop()
        # fold any still-running background compaction into the final
        # state (and surface its failure) before declaring the run done
        try:
            join_pending_compaction(table)
        except Exception as e:
            run.error = run.error or e
    return run
