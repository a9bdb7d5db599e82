"""Incremental view maintenance (IVM) over the snapshot table's
changelog: a materialized downstream aggregate kept in sync at
O(changes-touched work), never O(table).

This is the consumer side of the CDC contract — the reason a CDC
engine exists at all is that downstream cubes (the reference's daily
session/user/conversion cubes, AcmeDailyETL.scala:375-711) should NOT
rescan 10^10 rows per refresh. ``SnapshotTable.read_changes`` and the
CDF stream expose the per-commit changelog under one rule
(``commits.appended_files``: append commits deliver their files,
rewrite commits contribute nothing); this module closes the loop by
maintaining a grouped aggregate from it.

Design: RECOMPUTE-BASED IVM (partition-scoped), not delta algebra.

- The changelog yields the set of CHANGED GROUP KEYS since the last
  sync (a ``distinct`` over new row versions — bounded by changed
  conversations, not events).
- Affected groups are recomputed EXACTLY from the table, reading only
  the BUCKETS those keys live in (the same bucket transform that
  prunes point lookups prunes here; the scan never touches unaffected
  buckets) and semi-joining the changed keys before aggregating.
- The materialized view is itself parquet partitioned by the same
  bucket transform, so the refresh rewrites ONLY affected bucket
  partitions: unchanged-bucket files are untouched bytes.
- A refresh (and each streaming micro-batch) resolves the table's
  manifest ONCE: the window, bucket ids, recompute scan and partition
  swap all follow that snapshot. ``_view.json`` records the bucket
  count the view is laid out under; a snapshot with another count (a
  rebucket) rebuilds the view in full.

Why recompute instead of +delta/-retraction algebra: the changelog
carries new row VERSIONS only (no pre-images), so true delta
maintenance would need an old-value lookup join per change — a second
table scan in disguise. Group recompute is exact for ANY aggregate
(max / count-distinct / argmax included, which delta algebra cannot
self-maintain), and it makes ``refresh`` IDEMPOTENT: a crash between
the partition swap and the meta write is healed by re-running the same
refresh, because group values are derived from the table, not from
applying deltas to possibly-half-updated view state.

Scale shape at 10^10 rows / 1000 executors: refresh cost is
O(rows in affected buckets) scan + O(changed keys) aggregate + a
partition-pruned rewrite of the (already aggregated, small) view.
With n_buckets sized so a bucket fits a task (the table's own sizing
rule), a batch touching k conversations costs ~k/(table keys) of a
full refresh. Single-refresher assumption (same as the table's
single-writer commit rule). A compaction or purge in the window stays
incremental (the changelog skips rewrites); a full refresh happens
only when the window crosses a rollback or was pruned by gc_orphans,
and on a rebucket, by the layout check above.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Callable

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from audience_behavior_semantic_etl_spark.cdc import commits
from audience_behavior_semantic_etl_spark.cdc.table import (
    Manifest,
    SnapshotTable,
    bucket_expr,
)


class IncrementalView:
    """A materialized grouped aggregate over ``table.read_final()``,
    refreshed incrementally from the table's changelog.

    ``agg`` maps the live-table DataFrame to one row per ``key`` (the
    key column must survive in the output). The view stores its rows as
    parquet partitioned by the table's bucket transform of ``key``.
    """

    META = "_view.json"

    def __init__(
        self,
        table: SnapshotTable,
        root: str,
        agg: Callable[[DataFrame], DataFrame],
        key: str = "conv_id",
    ):
        self.table = table
        self.root = root
        self.agg = agg
        self.key = key
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------ meta
    def _meta_path(self) -> str:
        return os.path.join(self.root, self.META)

    def _meta(self) -> dict | None:
        try:
            with open(self._meta_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _write_meta(self, m: Manifest, schema: T.StructType) -> None:
        commits.atomic_write(self._meta_path(), json.dumps({
            "synced_version": m.version,
            "n_buckets": m.n_buckets,
            "schema": schema.json(),
        }))

    # ------------------------------------------------------------ read
    def read(self) -> DataFrame:
        """The materialized view (bucket partition column dropped)."""
        meta = self._meta()
        if meta is None:
            raise FileNotFoundError(f"view at {self.root} never refreshed")
        return self._read_parts(self._view_schema(meta)).drop("__bucket")

    def synced_version(self) -> int | None:
        m = self._meta()
        return None if m is None else int(m["synced_version"])

    # --------------------------------------------------------- refresh
    def refresh(self) -> dict:
        """Bring the view up to the table's current snapshot, resolved
        ONCE: the changelog window, the recompute and the partition
        swap all read that one manifest. Returns ``{"mode":
        "full"|"incremental"|"noop", "synced_version": v,
        "affected_buckets": n}``."""
        m = self.table.manifest()
        meta = self._meta()
        if meta is None:
            return self._full(m)
        synced = int(meta["synced_version"])
        if m.version == synced:
            return {"mode": "noop", "synced_version": synced, "affected_buckets": 0}
        try:
            changes = self.table.read_changes(synced, m.version)
        except (ValueError, FileNotFoundError):
            # the window crosses a rollback, or gc_orphans expired the
            # synced version: no changelog reaches back — re-sync
            return self._full(m)
        # changed group keys: bounded by conversations touched since the
        # last sync — the only driver-side list is their BUCKET ids
        # (≤ n_buckets), never the keys themselves
        return self._apply_changed_keys(changes.select(self.key).distinct(), m)

    def _with_bucket(self, df: DataFrame, m: Manifest) -> DataFrame:
        return df.withColumn("__bucket", bucket_expr(F.col(self.key), m.n_buckets))

    def _full(self, m: Manifest) -> dict:
        out = self._with_bucket(self.agg(self.table.read_final(version=m.version)), m)
        self._swap(out, None)
        self._write_meta(m, T.StructType([f for f in out.schema.fields if f.name != "__bucket"]))
        return {"mode": "full", "synced_version": m.version, "affected_buckets": -1}

    def _apply_changed_keys(self, changed: DataFrame, m: Manifest) -> dict:
        """Recompute exactly the groups in ``changed`` from snapshot
        ``m`` and swap their bucket partitions — the shared tail of
        version-window refresh and streaming refresh. A view laid out
        under another bucket count (the table was rebucketed, or the
        meta predates the recorded count) is rebuilt in full: its
        partitions do not line up with ``m``'s transform."""
        meta = self._meta()
        if meta.get("n_buckets") != m.n_buckets:
            return self._full(m)
        stored = self._view_schema(meta)
        affected = sorted(
            r["__b"]
            for r in changed.select(bucket_expr(F.col(self.key), m.n_buckets).alias("__b"))
            .distinct()
            .collect()
        )
        if not affected:
            self._write_meta(m, stored)
            return {"mode": "incremental", "synced_version": m.version, "affected_buckets": 0}
        # recompute ONLY the changed groups, scanning ONLY their buckets
        live = self.table.read_final(version=m.version, buckets=affected).join(
            F.broadcast(changed), on=self.key, how="semi"
        )
        new_rows = self._with_bucket(self.agg(live), m)
        # table schema evolution can change the agg's output shape
        # (e.g. a new tool_latency_ms column feeding a new measure); the
        # stored rows then can't be unioned with recomputed ones —
        # re-materialize instead of guessing at nulls
        if [f.name for f in new_rows.schema.fields if f.name != "__bucket"] != [
            f.name for f in stored.fields
        ]:
            return self._full(m)
        # untouched groups in the affected buckets are carried over;
        # groups whose keys vanished from the table (fully deleted) are
        # in `changed` and produce no recompute row -> dropped
        keep = (
            self._read_parts(stored, affected)
            .join(F.broadcast(changed), on=self.key, how="anti")
        )
        self._swap(keep.unionByName(new_rows), affected)
        self._write_meta(m, stored)
        return {
            "mode": "incremental",
            "synced_version": m.version,
            "affected_buckets": len(affected),
        }

    def _swap(self, out: DataFrame, affected: list[int] | None) -> None:
        """Stage ``out`` partitioned by ``__bucket`` and swap it in:
        every partition (``affected`` None, a full build) or exactly the
        ``affected`` ones."""
        staged = os.path.join(self.root, f"_staging-{uuid.uuid4().hex[:8]}")
        out.write.mode("overwrite").partitionBy("__bucket").parquet(staged)
        data = os.path.join(self.root, "data")
        if affected is None:
            shutil.rmtree(data, ignore_errors=True)
            os.makedirs(data)
            names = [d for d in os.listdir(staged) if d.startswith("__bucket=")]
        else:
            names = [f"__bucket={b}" for b in affected]
        for d in names:
            dst, src = os.path.join(data, d), os.path.join(staged, d)
            if os.path.isdir(dst):
                shutil.rmtree(dst)
            if os.path.isdir(src):
                os.rename(src, dst)
        shutil.rmtree(staged, ignore_errors=True)

    # ------------------------------------------------- streaming refresh
    def stream_refresh(self, checkpoint: str, available_now: bool = True):
        """CONTINUOUS view maintenance off the table's streaming change
        feed (cdc/cdf_source.py) instead of version-window polling.

        The feed follows ``refresh()``'s changelog rule
        (``commits.appended_files``): a compaction or purge contributes
        nothing and never forces the full rescan; a rollback fails the
        stream (re-sync with ``refresh()``). What the stream adds is
        the deployment shape: changed keys arrive per micro-batch, and
        progress is the stream checkpoint (exactly-once microbatches).
        Correctness does not depend on it, because each microbatch
        RECOMPUTES its changed groups from the current table —
        re-delivery after a crash re-runs an idempotent recompute,
        same as ``refresh``'s crash-healing contract.

        Bootstraps with one full materialization if the view never
        refreshed, then streams from that synced version. Returns the
        StreamingQuery; ``available_now=True`` drains-and-stops (the
        batch-job-shaped deployment), ``False`` runs continuously with
        the default trigger."""
        from audience_behavior_semantic_etl_spark.cdc.cdf_source import (
            start_cdf_foreach_batch,
        )

        spark = self.table.spark
        if self._meta() is None:
            self._full(self.table.manifest())

        def _sync(batch_df: DataFrame, batch_id: int) -> None:
            # foreachBatch hands a ROW-BASED recomputed plan; spool the
            # (key-only, pre-distinct) projection to columnar scratch
            # so the two downstream joins don't re-run the Python
            # source, then recompute those groups from the live table
            scratch = os.path.join(self.root, f"_chg-{uuid.uuid4().hex[:8]}")
            try:
                batch_df.select(self.key).where(
                    F.col(self.key).isNotNull()
                ).distinct().write.mode("overwrite").parquet(scratch)
                changed = spark.read.parquet(scratch)
                if changed.isEmpty():
                    return
                self._apply_changed_keys(changed, self.table.manifest())
            finally:
                shutil.rmtree(scratch, ignore_errors=True)

        return start_cdf_foreach_batch(
            spark, self.table.root, self.synced_version(), _sync, checkpoint,
            available_now,
        )

    @staticmethod
    def _view_schema(meta: dict) -> T.StructType:
        return T.StructType.fromJson(json.loads(meta["schema"]))

    def _read_parts(
        self, schema: T.StructType, buckets: list[int] | None = None
    ) -> DataFrame:
        """Stored view rows of ``buckets`` (all when None), with their
        ``__bucket`` column. Explicit schema: no inference job, and an
        all-null column in a partition keeps its declared type."""
        schema = T.StructType(
            list(schema.fields) + [T.StructField("__bucket", T.IntegerType())]
        )
        data = os.path.join(self.root, "data")
        names = os.listdir(data) if os.path.isdir(data) else []
        want = None if buckets is None else {f"__bucket={b}" for b in buckets}
        dirs = [
            os.path.join(data, d)
            for d in sorted(names)
            if d.startswith("__bucket=") and (want is None or d in want)
        ]
        if not dirs:
            return self.table.spark.createDataFrame([], schema)
        return self.table.spark.read.schema(schema).option("basePath", data).parquet(*dirs)
