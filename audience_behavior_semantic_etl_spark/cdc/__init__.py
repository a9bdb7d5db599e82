"""CDC / incremental-ingest engine (BASELINE.json north_star).

WAL-style change events (insert/update/update_partial/delete/
schema_change envelopes keyed by ``(conv_id, turn_idx)``) reach
``apply.apply_batch`` through Structured Streaming ``foreachBatch``
(``stream.run_wal_stream``). A batch is stats-scanned, pre-collapsed
per key only when churn is high, shuffled into exactly
``shuffle_partitions`` write slots that its census spreads over the
buckets (a conversation holding over one slot's share is salted over
several), normalized JVM-side and APPENDED as per-bucket delta files of the
snapshot table (``table.SnapshotTable``, merge-on-read); ONE snapshot
commit carries its DDL, files, exactly-once ledger, LSN watermarks
and lineage row, so a re-delivered batch no-ops and a full replay
converges to the identical table.

Last-writer-wins is resolved at READ time: each reader resolves one
manifest and keeps the max-``_lsn`` version per key, or folds
partial-update set-masks per column once the table has seen one.
``compact_buckets`` folds delta files back; ``rebucket`` changes the
bucket count. ``read_changes``, the ``cdf_source`` stream,
``incremental.IncrementalView`` and ``replicate`` consume the table's
changes downstream.

The table is an Iceberg-shaped stand-in (parquet files plus one JSON
manifest per commit and an atomic pointer swap, ``commits``) because
no Iceberg runtime jar ships in this environment; swapping in Iceberg
merge-on-read on a real cluster is a sink change, not an engine change.
"""
