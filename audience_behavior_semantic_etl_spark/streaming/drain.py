"""Bounded drains for the streaming operators: source staging, the
flush-sentinel rule and the sink-and-progress runner, in one place.

Every operator under ``streaming/`` is drained the same way: the
stream reads a directory of parquet files with an ``availableNow``
trigger, writes to a parquet file sink in append mode, and the caller
gets the typed read of that sink. The operator itself states only its
query; this module owns the rest.

Why a sentinel. In append mode a watermarked window (or a session)
emits only once the event-time watermark passes its end, and the
watermark only advances when a LATER event arrives. A drained
directory has no later event for its final windows, so without help
they would stay in state and the drain would return nothing for them.
``stage_source`` therefore plants one one-row "flush" file far past
the real data. The micro-batch that reads it ends with the watermark
past every real window/session end. Spark then runs one no-data
micro-batch, because the watermark moved
(``spark.sql.streaming.noDataMicroBatches.enabled``, on by default),
and that batch emits and evicts them all. ``run_sink`` refuses to
drain with the conf off: the final windows would silently never
emit. Each operator gives its sentinel a marker value (a reserved
key, or a NULL join key) and filters it out of the result. On a true
unbounded stream no sentinel is needed: arriving data advances the
watermark.

Why a later mtime. The file source orders files by modification time,
not by name. Data files are symlinked into the staged directory (no
copy); the sentinel is written after them with an mtime strictly later
than every data file's, so it lands in the last micro-batch.

The placement rule. With watermark delay ``delay`` and horizon
``horizon`` — the window length for windows, the gap for sessions,
i.e. how far past its last event a group can still be open — the
sentinel sits at::

    max_ts + delay + horizon + 1 hour

After its batch the watermark is ``max_ts + horizon + 1 h``, strictly
past ``last_event + horizon`` for every real group, whatever the delay
and horizon are. The watermark a batch filters late rows by is the one
the PREVIOUS batch ended with, so a sentinel sharing a batch with data
makes none of that data late. The sentinel is written driver-side with
pyarrow: the work is one row, so a Spark job for it would be pure
per-drain overhead.

The trigger count. Every micro-batch pays a fixed floor (state-store
commits, offset and commit log writes) whatever its row count, so the
sentinel rides the last data micro-batch instead of taking one of its
own. An operator that wants ``B`` data micro-batches over ``n`` data
files reads ``files_per_trigger(n, B) = ceil((n + 1) / B)`` files per
trigger: the drain then runs at most ``B`` micro-batches holding data
and the sentinel, plus the no-data one.

The default watermark. A drained directory arrives over several
micro-batches in arbitrary event-time order. A delay covering its full
event-time span (``span_watermark``) means no real row is ever late,
so the drained result equals the batch computation. Production
streams set the real disorder bound instead, and state shrinks
accordingly.
"""

from __future__ import annotations

import json
import os
import re
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, functions as F

from audience_behavior_semantic_etl_spark.scratch import scratch_dir

_TERM = r"(\d+)\s+(second|minute|hour|day|week)s?"
_TERM_RE = re.compile(_TERM, re.IGNORECASE)
_SPEC_RE = re.compile(rf"\s*{_TERM}(?:\s+{_TERM})*\s*", re.IGNORECASE)

_NO_DATA_CONF = "spark.sql.streaming.noDataMicroBatches.enabled"

_UNIT_S = {"second": 1, "minute": 60, "hour": 3600, "day": 86400, "week": 604800}


def parse_interval_seconds(spec: str) -> int:
    """``"90 seconds"`` / ``"2 hours"`` / ``"1 hour 30 minutes"`` ->
    seconds: the sum of one or more ``<n> <unit>`` terms. Raises
    ``ValueError`` on anything else."""
    if not _SPEC_RE.fullmatch(spec):
        raise ValueError(f"unsupported interval spec: {spec!r}")
    return sum(int(n) * _UNIT_S[u.lower()] for n, u in _TERM_RE.findall(spec))


def files_per_trigger(n_files: int, data_batches: int) -> int:
    """``maxFilesPerTrigger`` that drains ``n_files`` data files plus
    the flush sentinel in at most ``data_batches`` micro-batches, the
    sentinel riding the last one (see the module docstring)."""
    return -(-(n_files + 1) // data_batches)


def span_watermark(
    static: DataFrame, ts_col: str, slack_s: int = 0
) -> tuple[datetime, str]:
    """One aggregate job over ``static``'s ``ts_col``: its max (where
    ``stage_source`` places the sentinel) and the default watermark
    delay, the full event-time span plus one second plus ``slack_s``
    (see the module docstring)."""
    ts = F.col(ts_col).cast("timestamp")
    lo, hi = static.agg(F.min(ts), F.max(ts)).collect()[0]
    return hi, f"{int((hi - lo).total_seconds()) + 1 + slack_s} seconds"


def write_sentinel(
    src_files: str | list[str], dst: str, overrides: dict[str, object]
) -> None:
    """One-row parquet sentinel: first row found in ``src_files`` with
    ``overrides`` applied ({column: value}; None stores a typed null).
    Written with pyarrow on the driver — no Spark job. Empty part
    files (zero row groups — Spark writes them for empty partitions)
    are skipped; if every file is empty the sentinel is a typed-null
    row with only the overrides set."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if isinstance(src_files, str):
        src_files = [src_files]
    tbl = None
    for f in src_files:
        pf = pq.ParquetFile(f)
        if pf.metadata.num_rows > 0:
            tbl = pf.read_row_group(0).slice(0, 1)
            break
        schema = pf.schema_arrow
    if tbl is None:
        tbl = pa.Table.from_arrays(
            [pa.nulls(1, type=f.type) for f in schema], schema=schema
        )
    for name, val in overrides.items():
        i = tbl.schema.get_field_index(name)
        arr = pa.array([val], type=tbl.schema.field(i).type)
        tbl = tbl.set_column(i, tbl.schema.field(i), arr)
    pq.write_table(tbl, dst)


def stage_source(
    src: str,
    ts_col: str,
    max_ts: datetime,
    delay: str,
    horizon: str,
    flush: dict[str, object],
) -> tuple[str, int]:
    """Stage ``src`` (a parquet file or a directory of them) for a
    bounded drain: symlink its data files in name order into a scratch
    directory, then write the flush sentinel with a strictly later
    mtime, ``ts_col`` placed by the rule in the module docstring and
    ``flush`` ({column: marker}) applied. Returns the staged directory
    and the number of data files."""
    src = os.path.abspath(src)
    data_files = (
        [src]
        if os.path.isfile(src)
        else [
            os.path.join(src, fn)
            for fn in sorted(os.listdir(src))
            if fn.endswith(".parquet")
        ]
    )
    staged = scratch_dir("stream-src-")
    for i, f in enumerate(data_files):
        os.symlink(f, os.path.join(staged, f"data-{i}.parquet"))
    lag_s = parse_interval_seconds(delay) + parse_interval_seconds(horizon)
    dst = os.path.join(staged, "zz-sentinel.parquet")
    at = max_ts + timedelta(seconds=lag_s + 3600)
    write_sentinel(data_files, dst, {ts_col: at, **flush})
    t = max(os.path.getmtime(f) for f in data_files) + 10
    os.utime(dst, (t, t))
    return staged, len(data_files)


def run_sink(df: DataFrame, progress: list | None = None) -> DataFrame:
    """Drain the streaming frame ``df`` into an append-mode parquet sink
    on a scratch checkpoint with an ``availableNow`` trigger and wait
    for it. ``progress``, if given, receives the query's progress dicts
    (state-store metrics, per-trigger durations). Returns the typed
    read of the sink — distributed, no driver collect.

    Raises ``ValueError`` when the session disables
    ``spark.sql.streaming.noDataMicroBatches.enabled``: the final
    windows and sessions of a drain emit in the no-data micro-batch
    (module docstring)."""
    spark = df.sparkSession
    if spark.conf.get(_NO_DATA_CONF, "true").strip().lower() == "false":
        raise ValueError(
            f"{_NO_DATA_CONF}=false: a bounded drain emits its final "
            "windows in the no-data micro-batch; enable the conf"
        )
    out_dir = scratch_dir("stream-sink-")
    q = (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", scratch_dir("stream-ckpt-"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if progress is not None:
        progress.extend(json.loads(p.json) for p in q.recentProgress)
    return spark.read.schema(df.schema).parquet(out_dir)
