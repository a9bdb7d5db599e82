"""Streaming CHANGE-DATA-FEED source: the snapshot table as a first-
class Structured Streaming SOURCE (``spark.readStream.format(...)``),
built on Spark 4's Python DataSource API.

``read_changes`` (table.py) gives batch incremental consumption; this
module gives the streaming form — the Delta CDF ``readStream`` /
Iceberg incremental-scan-as-stream analog, so downstream pipelines
(feature builders, index maintainers, replicas) chain off the table
with checkpointed exactly-once progress instead of polling versions
by hand.

Design (all driver-side logic is manifest-only — no data read):

- **Offsets are table versions.** ``initialOffset`` = the
  ``startingVersion`` option (default: the current version at stream
  start — "changes from now on"); ``latestOffset`` re-reads the
  ``_current`` pointer. Spark checkpoints these offsets, giving
  exactly-once delivery of row VERSIONS across restarts for free.
  The ``ref`` option tails a BRANCH chain instead of main (audit
  consumers); version numbers are globally allocated across chains,
  so the ``maxVersionsPerTrigger`` cap counts commits along the
  chosen ref's parent chain, never version arithmetic.
- **A micro-batch (start, end] is the files its commits APPENDED**,
  decided by ``commits.appended_files`` — the one changelog rule that
  batch ``read_changes`` and the incremental view share. An append
  commit's files are new row versions, delivered with their commit
  version as ``_commit_version`` (the Delta CDF column); a rewrite
  commit (compaction / tombstone purge / rebucket) re-states versions
  already delivered and contributes NOTHING, so the stream survives
  maintenance; a metadata commit adds no file.
- **A rollback fails the stream**: it drops row versions a consumer
  (replica, incremental view) may already hold, so skipping it like a
  compaction would keep them silently. The consumer re-syncs from a
  full read — Delta's streaming source fails on data-changing removes
  the same way. A rewrite whose manifest stores no lineage row cannot
  be told from a rollback, so it fails the stream too.
- **One InputPartition per file**, read EXECUTOR-side with pyarrow
  and yielded as Arrow RecordBatches (the vectorized fast path — no
  per-row Python). Parallelism = files in the window, which at a
  1000-executor scale is exactly the append parallelism of the
  upstream writer.
- **Schema is pinned at stream start** (the standard streaming-source
  contract): rows from files written before a column existed are
  padded with nulls, the storage-level analog of the table's own
  schema-evolution read path. ``_lsn`` / ``_deleted`` / ``_set`` ride
  along so consumers can apply LWW / column-fold semantics downstream.

Usage::

    spark.dataSource.register(TranscriptsCDF)
    stream = (spark.readStream.format("transcripts_cdf")
              .option("path", table.root)
              .option("startingVersion", 0)   # optional
              .load())

Reference parity: the reference has no streaming source at all (its
engine-in-engine SessionETL was abandoned, SessionETL.scala:32-64);
this is part of the delta the Spark build adds over it.
"""

from __future__ import annotations

import os
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql import types as T

from audience_behavior_semantic_etl_spark.cdc import schema as S
from audience_behavior_semantic_etl_spark.cdc.commits import (
    appended_files,
    head_version,
    read_manifest,
)


class _FilePartition(InputPartition):
    def __init__(self, path: str, commit_version: int = -1):
        self.path = path
        self.commit_version = commit_version


class TranscriptsCDFReader(DataSourceStreamReader):
    def __init__(self, root: str, options: dict):
        self.root = root
        self.ref = options.get("ref", "main")
        sv = options.get("startingversion")
        self.start_version = (
            int(sv) if sv is not None else head_version(root, self.ref)
        )
        mv = options.get("maxversionspertrigger")
        self.max_versions = int(mv) if mv is not None else None
        self._last_end: int | None = None
        # parent-link cache for the capped walk: manifests are
        # immutable, so each version's parent is read AT MOST ONCE over
        # the stream's lifetime — a capped catch-up over a large
        # backlog stays O(backlog) total driver reads, not
        # O(backlog^2 / cap)
        self._parents: dict[int, int | None] = {}
        # column set + order pinned at stream start == the declared
        # schema's (ships to executors inside the pickled reader);
        # logical -> physical stored-name map rides along so files of
        # renamed/re-added columns are read under their frozen storage
        # name and emitted under the pinned logical name
        m = read_manifest(root, head_version(root, self.ref))
        self._col_types = [(n, t) for n, t in m["columns"]]
        self._phys = (m.get("properties") or {}).get("physical_names") or {}

    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        """Admission control via ``maxVersionsPerTrigger``: a stream
        (re)starting far behind a long commit history must not take
        the whole backlog as ONE micro-batch (unbounded task count +
        state in a single trigger at 10^5 commits). The cap is applied
        against the previous trigger's end offset; the first trigger
        after a checkpointed restart is uncapped (this reader never
        sees the checkpointed offset before latestOffset — the
        documented Python-DataSource limitation), so the cap bounds
        steady-state and initial-sync batches, which is where backlog
        actually accumulates.

        Trigger interplay: in continuous/processingTime mode each
        trigger takes at most the cap (the steady-state admission
        control this option is for). Under ``availableNow`` Spark
        captures latestOffset ONCE at start, so a capped stream drains
        exactly one bounded batch per ``start()`` — callers doing
        capped catch-up drains should loop start()/awaitTermination
        until the synced version stops advancing, or run uncapped."""
        cur = head_version(self.root, self.ref)
        if self.max_versions is None:
            return {"version": cur}
        base = self._last_end if self._last_end is not None else self.start_version
        # The cap counts COMMITS ALONG THIS REF'S CHAIN, not version
        # arithmetic: version numbers are allocated globally across
        # branch chains, so base + N may name a manifest on another
        # chain (or none at all). Walk the parent links from the head
        # down to base and take the N oldest pending commits.
        pending: list[int] = []
        v: int | None = cur
        while v is not None and v > base:
            pending.append(v)
            if v not in self._parents:
                self._parents[v] = read_manifest(self.root, v).get("parent")
            v = self._parents[v]
        pending.reverse()  # oldest pending first
        end = pending[self.max_versions - 1] if len(pending) > self.max_versions else cur
        self._last_end = end
        return {"version": end}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        rels = appended_files(self.root, start["version"], end["version"])
        return [
            _FilePartition(os.path.join(self.root, r), v) for r, v in rels
        ] or [
            _FilePartition("")  # Spark requires >= 1 partition; "" reads empty
        ]

    def read(self, partition: _FilePartition) -> Iterator:
        """EXECUTOR-side: one parquet file -> Arrow RecordBatches
        projected/padded to the pinned stream schema."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        if not partition.path:
            return
        tbl = pq.read_table(partition.path)
        n = tbl.num_rows
        names = set(tbl.column_names)
        cols = []
        fields = []
        for name, typ in self._arrow_fields():
            src = self._phys.get(name, name)
            if name == "_commit_version":
                cols.append(pa.array([partition.commit_version] * n, type=typ))
            elif src in names:
                cols.append(tbl.column(src).cast(typ).combine_chunks())
            else:
                cols.append(pa.nulls(n, type=typ))
            fields.append(pa.field(name, typ))
        yield from pa.Table.from_arrays(cols, schema=pa.schema(fields)).to_batches()

    def _arrow_fields(self):
        import pyarrow as pa

        # mirror of the declared Spark schema (TranscriptsCDF.schema),
        # in Arrow terms; timestamps are NTZ microseconds
        name_to_arrow = {
            "string": pa.string(),
            "int": pa.int32(),
            "long": pa.int64(),
            "float": pa.float32(),
            "double": pa.float64(),
            "boolean": pa.bool_(),
            "timestamp_ntz": pa.timestamp("us"),
        }
        out = []
        for name, tname in self._col_types:
            out.append((name, name_to_arrow[tname]))
        out.append((S.LSN_META_COL, pa.int64()))
        out.append((S.DELETED_META_COL, pa.bool_()))
        out.append((S.SETMASK_META_COL, pa.list_(pa.string())))
        out.append(("_commit_version", pa.int64()))
        return out

    def commit(self, end: dict) -> None:  # offsets live in the checkpoint
        pass


class TranscriptsCDF(DataSource):
    """``spark.readStream.format("transcripts_cdf")`` — see module
    docstring. Batch ``spark.read`` is intentionally not implemented
    (table.read/read_changes already cover batch)."""

    @classmethod
    def name(cls) -> str:
        return "transcripts_cdf"

    def schema(self) -> T.StructType:
        root = self.options["path"]
        m = read_manifest(root, head_version(root, self.options.get("ref", "main")))
        cols = [(n, S.type_from_name(t)) for n, t in m["columns"]]
        base = S.transcripts_schema(
            cols, with_lsn=True, with_deleted=True, with_setmask=True
        )
        # .add would MUTATE a shared receiver; build fresh
        return T.StructType(
            list(base.fields) + [T.StructField("_commit_version", T.LongType(), True)]
        )

    def streamReader(self, schema: T.StructType) -> TranscriptsCDFReader:
        return TranscriptsCDFReader(self.options["path"], dict(self.options))


def start_cdf_foreach_batch(
    spark,
    root: str,
    starting_version: int,
    on_batch,
    checkpoint: str,
    available_now: bool = True,
):
    """Register the source and start ``on_batch`` as the foreachBatch
    sink over the change feed of the table at ``root``, from
    ``starting_version``, checkpointed at ``checkpoint``. Returns the
    StreamingQuery; ``available_now=True`` drains-and-stops, ``False``
    runs continuously with the default trigger."""
    spark.dataSource.register(TranscriptsCDF)
    writer = (
        spark.readStream.format("transcripts_cdf")
        .option("path", root)
        .option("startingVersion", starting_version)
        .load()
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
