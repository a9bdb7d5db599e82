"""The ``cdc`` workload: one table lifecycle through the CDC engine.

Set-up: two write-ahead logs from one ``cdc.gen_spark`` job:
a backlog (row-LWW, Zipf-hot conversations, 2% re-deliveries, one
schema_change) and a live log (partial updates, a schema_change in the
middle, conversations created over time in eras).

Timed window, in order:

1. **bulk replay** (closed loop, one stream): ``run_wal_stream`` replays
   the backlog into a fresh table in a few large micro-batches with
   auto-compaction on. The apply data plane does most of the work.
2. **trickle ingest** (open loop): a separate single-threaded process
   publishes the live log's chunks in bursts on a fixed schedule, with
   room for one apply between bursts; a default-trigger
   ``readStream -> foreachBatch(apply_batch)`` stream applies them.
   Per-batch fixed cost does most of the work. Freshness of a chunk runs
   from its *scheduled* publish time to the return of the ``apply_batch``
   call whose commit covers it (mapped by LSN, no Spark job).
3. **read serving** (closed loop, one client) on the trickled table: the
   manifest chain, forced full ``read_final`` checksums, ``read_key``
   lookups, ``read_changes`` windows and one availableNow drain of the
   ``transcripts_cdf`` source.

Only the engine calls of stages 1 and 3 count in ``work_s``; the
lookups are the latency samples. Every result
is checked after the timed calls: the bulk table against a DuckDB LWW
reduction of the backlog, the trickled table and every lookup against
``cdc.gen.expected_final_state``, change windows and the CDF sink against
the row versions the commits appended.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

from perfbench.common import Ctx, pct, rows_of

FINAL_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "tool_name", "tool_latency_ms"]
KEY_COLS = ["conv_id", "turn_idx", "_lsn"]
ERA_SHIFT = 58  # live-log eras: lsn -> (era << 58) + lsn // 16

SIZES = {
    "full": dict(
        bulk_convs=400, bulk_chunks=12, bulk_files_per_trigger=6,
        live_eras=4, live_convs=120, live_chunks=102, live_ticks=2,
        lookups=10, final_reads=2, change_windows=2,
    ),
    "smoke": dict(
        bulk_convs=150, bulk_chunks=4, bulk_files_per_trigger=2,
        live_eras=2, live_convs=20, live_chunks=12, live_ticks=3,
        lookups=6, final_reads=1, change_windows=1,
    ),
}


# ------------------------------------------------------------------ inputs


def _live_log(spark, seed: int, eras: int, convs: int, partial_frac: float):
    """Era-structured live log from one generator call: conversation i
    falls in era ``i // convs``, is renamed ``e<era>-conv-*`` and gets its
    LSNs shifted above every earlier era, so conversations are created
    over time and delta files get tight key ranges. Payloads are all v1;
    the schema_change is moved to the boundary before the middle era."""
    from pyspark.sql import functions as F

    from audience_behavior_semantic_etl_spark.cdc.gen_spark import generate_change_log_spark

    log = generate_change_log_spark(
        spark, seed=seed + 1, n_convs=eras * convs, partial_frac=partial_frac,
        schema_change_at=1.0,
    )
    era = F.floor(F.substring("conv_id", 6, 8).cast("long") / convs).cast("long")
    base = F.shiftleft(era, ERA_SHIFT)
    data = log.filter(F.col("op") != "schema_change").select(
        (base + F.floor(F.col("lsn") / 16)).alias("lsn"),
        "ts", "op",
        F.concat(F.lit("e"), F.lpad(era.cast("string"), 2, "0"), F.lit("-"), "conv_id").alias("conv_id"),
        "turn_idx", "payload", "schema_ver", "source_part",
        (base + F.floor(F.col("stream_pos") / 16)).alias("stream_pos"),
    )
    at = F.lit(((eras // 2) << ERA_SHIFT) - 1)
    ddl = log.filter(F.col("op") == "schema_change").withColumn("lsn", at).withColumn("stream_pos", at)
    return data.unionByName(ddl)


def _read_dir_pandas(d: str):
    import pandas as pd
    import pyarrow.parquet as pq

    files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    return pd.concat([pq.read_table(os.path.join(d, f)).to_pandas() for f in files],
                     ignore_index=True)


# ------------------------------------------------------------------ oracles


def duckdb_lww(wal_dir: str) -> list[tuple]:
    """Independent LWW reduction of a row-LWW WAL in DuckDB: the latest
    full-row op per key by lsn (row_number, never arg_max, which skips
    NULLs), deletes drop the key; text canonicalized with the shared
    definition in Python."""
    import duckdb

    from audience_behavior_semantic_etl_spark.cdc.normalize import canonical_text

    con = duckdb.connect()
    try:
        df = con.execute(f"""
            WITH w AS (
              SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
              FROM read_parquet('{wal_dir}/*.parquet')
              WHERE op IN ('insert', 'update', 'delete'))
            SELECT conv_id, turn_idx,
                   json_extract_string(payload, '$.role') AS role,
                   json_extract_string(payload, '$.text') AS text,
                   json_extract_string(payload, '$.tool') AS tool,
                   CAST(json_extract_string(payload, '$.ts') AS TIMESTAMP) AS ts,
                   json_extract_string(payload, '$.tool_meta.name') AS tool_name,
                   CAST(json_extract(payload, '$.tool_meta.latency_ms') AS BIGINT)
                     AS tool_latency_ms
            FROM w WHERE rn = 1 AND op <> 'delete'
        """).fetchdf()
    finally:
        con.close()
    df["text"] = df["text"].map(canonical_text)
    return rows_of(df.to_dict("records"), FINAL_COLS)


def _engine_rows(df) -> list[tuple]:
    pdf = df.toPandas()
    for c in FINAL_COLS:
        if c not in pdf.columns:
            pdf[c] = None
    return rows_of(pdf.to_dict("records"), FINAL_COLS)


def _appended(chain) -> tuple[list[int], dict[int, list[str]], set[int]]:
    """(versions oldest first, version -> files it appended, versions
    that rewrote files) from main's manifest chain, head first."""
    versions, added, rewrites = [], {}, set()
    for m in chain:
        versions.append(m.version)
        added[m.version] = [f for fs in (m.files_added or {}).values() for f in fs]
        if m.files_removed:
            rewrites.add(m.version)
    versions.reverse()
    return versions, added, rewrites


def _file_keys(root: str, rels: list[str]) -> list[tuple]:
    import pyarrow.parquet as pq

    recs = []
    for r in rels:
        recs.extend(pq.read_table(os.path.join(root, r), columns=KEY_COLS).to_pylist())
    return rows_of(recs, KEY_COLS)


# ------------------------------------------------------------------ workload


def run(ctx: Ctx) -> dict:
    from pyspark.sql import functions as F

    from audience_behavior_semantic_etl_spark.cdc.apply import (
        ApplyConfig, apply_batch, join_pending_compaction,
    )
    from audience_behavior_semantic_etl_spark.cdc.cdf_source import TranscriptsCDF
    from audience_behavior_semantic_etl_spark.cdc.gen import expected_final_state, write_wal_chunks
    from audience_behavior_semantic_etl_spark.cdc.gen_spark import generate_change_log_spark
    from audience_behavior_semantic_etl_spark.cdc.schema import ENVELOPE_SCHEMA
    from audience_behavior_semantic_etl_spark.cdc.stream import run_wal_stream
    from audience_behavior_semantic_etl_spark.cdc.table import SnapshotTable

    spark, tr, led, w = ctx.spark, ctx.tracer, ctx.ledger, ctx.work
    sz = SIZES["smoke" if ctx.smoke else "full"]
    rng = random.Random(ctx.seed)
    spark.dataSource.register(TranscriptsCDF)

    # ---------------------------------------------------------- set-up
    t_setup = time.time()
    with tr.span("cdc.gen_spark.wal_gen") as gen_span:
        # both logs in one generator job, then chunked with pandas in stream
        # order by the engine's own chunk writer (cdc.gen)
        bulk_log = generate_change_log_spark(
            spark, seed=ctx.seed, n_convs=sz["bulk_convs"], hot_frac=0.008,
        )
        live_log_df = _live_log(spark, ctx.seed, sz["live_eras"], sz["live_convs"], partial_frac=0.3)
        gen_stage = f"{w}/gen_stage"
        (bulk_log.withColumn("__log", F.lit(0))
         .unionByName(live_log_df.withColumn("__log", F.lit(1)))
         .write.parquet(gen_stage))
        both = _read_dir_pandas(gen_stage).sort_values("stream_pos", kind="mergesort")
        both["turn_idx"] = both["turn_idx"].astype("Int32")
        logs = [both[both["__log"] == i].drop(columns=["__log", "stream_pos"]).reset_index(drop=True)
                for i in (0, 1)]
        bulk_wal, staged = f"{w}/bulk_wal", f"{w}/live_staged"
        write_wal_chunks(logs[0], bulk_wal, sz["bulk_chunks"])
        write_wal_chunks(logs[1], staged, sz["live_chunks"])
    live_log = logs[1]
    chunks = sorted(f for f in os.listdir(staged) if f.endswith(".parquet"))
    import pyarrow.parquet as pq

    chunk_lsn = [pq.read_table(os.path.join(staged, c), columns=["lsn"]).column("lsn").to_pylist()
                 for c in chunks]
    chunk_max = [max(c) for c in chunk_lsn]
    n_live_events = sum(len(c) for c in chunk_lsn)
    if any(b <= a for a, b in zip(chunk_max, chunk_max[1:])):
        raise RuntimeError("live chunks do not have increasing LSN ranges")
    # each burst of the trickle is one directory of chunks, renamed into
    # the watched directory in one step, so no listing sees half a burst
    per_tick = -(-len(chunks) // sz["live_ticks"])
    bursts = [f"{w}/live_bursts/burst-{k:03d}" for k in range(-(-len(chunks) // per_tick))]
    for k, b in enumerate(bursts):
        os.makedirs(b)
        for c in chunks[k * per_tick:(k + 1) * per_tick]:
            os.rename(os.path.join(staged, c), os.path.join(b, c))

    os.sync()
    ctx.setup.append((t_setup, time.time()))
    ctx.layers["cdc.gen_spark.wal_gen_s"] = ctx.layers["inputs.gen_s"] = (gen_span.dur, "s")

    # ---------------------------------------------------------- 1. bulk replay
    bulk = SnapshotTable.create(spark, f"{w}/bulk_table")
    with tr.span("cdc.stream.run_wal_stream") as replay_span:
        rr = run_wal_stream(spark, bulk_wal, bulk, f"{w}/bulk_ckpt", ApplyConfig(),
                            max_files_per_trigger=sz["bulk_files_per_trigger"])
    bulk_batches = [m for m in rr.metrics if not m.skipped]
    led.record(rr.error is None, f"bulk replay: {rr.error!r}")
    for m in bulk_batches:
        led.record(True, "bulk apply")

    # ---------------------------------------------------------- 2. trickle ingest
    live = SnapshotTable.create(spark, f"{w}/live_table")
    live_wal = f"{w}/live_wal"
    os.makedirs(live_wal)
    # compaction after every delta generation, so it fires after each burst
    # while the trickle runs (in the background, overlapping applies)
    cfg = ApplyConfig(compact_max_files=1)
    # The bursts are spread evenly over --seconds. One apply costs about
    # 4 s on 4 cores whatever its size, so at 6 s between bursts the
    # stream idles between triggers and each trigger covers one burst:
    # freshness is pickup + apply time, not queueing behind earlier batches.
    interval = max(ctx.seconds, 1.0) / len(bursts)
    applies: list[dict] = []

    with tr.span("cdc.stream.trickle") as trickle_span:
        parent = trickle_span.id

        def handle(df, batch_id: int) -> None:
            with tr.span("cdc.apply.apply_batch", parent=parent, batch=batch_id) as sp:
                m = apply_batch(df, live, batch_id, cfg)
            applies.append({"m": m, "start": sp.start, "end": sp.end})

        q = gen = None
        try:
            q = (spark.readStream.schema(ENVELOPE_SCHEMA).parquet(f"{live_wal}/burst-*")
                 .writeStream.foreachBatch(handle)
                 .option("checkpointLocation", f"{w}/live_ckpt").start())
            t_first = time.time() + 0.5
            due = [t_first + interval * k for k in range(len(bursts))]
            plan = {"bursts": [
                {"src": b, "dst": os.path.join(live_wal, os.path.basename(b)), "due": d,
                 "mtimes": {c: d + 0.01 * i for i, c in enumerate(sorted(os.listdir(b)))}}
                for b, d in zip(bursts, due)]}
            with open(f"{w}/plan.json", "w") as f:
                json.dump(plan, f)
            gen = subprocess.Popen(
                [sys.executable, os.path.join(os.path.dirname(__file__), "trickle_gen.py"),
                 f"{w}/plan.json", f"{w}/published.json"],
            )
            deadline = due[-1] + 60.0
            while not (applies and applies[-1]["m"].lsn_max >= chunk_max[-1]):
                if q.exception() is not None or time.time() > deadline:
                    break
                time.sleep(0.02)
            stream_end = applies[-1]["end"] if applies else time.time()
        finally:
            if q is not None:
                q.stop()
            if gen is not None:
                gen.wait(timeout=120)
        join_pending_compaction(live)
    ingest_ok = bool(applies) and applies[-1]["m"].lsn_max >= chunk_max[-1]
    led.record(ingest_ok and gen.returncode == 0,
               f"trickle ingest: {q.exception() if q else 'no stream'}")
    for a in applies:
        led.record(True, "trickle apply")
    with open(f"{w}/published.json") as f:
        published = json.load(f)["published"]
    lateness = [p - d for p, d in zip(published, due)]
    fresh: list[float] = []
    covering: dict[int, set[int]] = {}  # burst -> the applies that covered its chunks
    bi = 0
    for i, mx in enumerate(chunk_max):
        while bi < len(applies) and applies[bi]["m"].lsn_max < mx:
            bi += 1
        if bi == len(applies):
            break
        fresh.append(applies[bi]["end"] - due[i // per_tick])
        covering.setdefault(i // per_tick, set()).add(bi)
    led.record(len(fresh) == len(chunks), "freshness: not every chunk was covered")

    # ---------------------------------------------------------- 3. read serving
    oracle = rows_of(expected_final_state(live_log).to_dict("records"), FINAL_COLS)
    oracle_by_conv: dict[str, list[tuple]] = {}
    for r in oracle:
        oracle_by_conv.setdefault(r[0], []).append(r)
    convs = sorted(oracle_by_conv)
    lookup_keys = [rng.choice(convs) for _ in range(sz["lookups"])]
    os.sync()

    # Only the engine calls are timed (each in its own span, summed into
    # work_s); choosing windows, input-file listings and every oracle
    # comparison happen between or after them.
    engine: list = []
    final_sums, lookups, changes = set(), [], []
    with tr.span("read_serve"):
        # the read side's first touch of each version, head to base
        chain, v = [], None
        while True:
            with tr.span("cdc.table.manifest") as sp:
                m = live.manifest(v)
            engine.append(sp)
            chain.append(m)
            if m.parent is None:
                break
            v = m.parent
        versions, added, rewrites = _appended(chain)
        cols = [F.col(c) for c in FINAL_COLS if c in {n for n, _ in chain[0].columns}]
        # the CDF drain tails the last quarter of the history
        cdf_from = versions[3 * len(versions) // 4]
        appends = [v for v in versions if v > cdf_from and added[v] and v not in rewrites]
        windows = []
        cands = [i for i in range(1, len(versions)) if versions[i] not in rewrites]
        for _ in range(sz["change_windows"] if cands else 0):
            # up to 3 consecutive commits that include no file rewrite
            hi = rng.choice(cands)
            lo = hi - 1
            while lo > 0 and hi - lo < 3 and versions[lo] not in rewrites:
                lo -= 1
            windows.append((versions[lo], versions[hi]))

        with tr.span("cdc.table.files_df") as sp:
            files = live.files_df().collect()
        engine.append(sp)
        for _ in range(sz["final_reads"]):
            with tr.span("cdc.table.read_final") as sp:
                final_df = live.read_final()
                res = final_df.agg(F.count("*").alias("n"),
                                   F.bit_xor(F.xxhash64(*cols)).alias("x")).collect()[0]
            engine.append(sp)
            final_sums.add((res["n"], res["x"]))
        for conv in lookup_keys:
            with tr.span("cdc.table.read_key") as sp:
                df = live.read_key(conv)
                got = df.collect()
            engine.append(sp)
            lookups.append((conv, df, got))
        for lo, hi in windows:
            with tr.span("cdc.table.read_changes") as sp:
                df = live.read_changes(lo, hi)
                n = df.agg(F.count("*")).collect()[0][0]
            engine.append(sp)
            changes.append((lo, hi, df, n))
        with tr.span("cdc.cdf_source.drain") as cdf_span:
            cq = (spark.readStream.format("transcripts_cdf").option("path", live.root)
                  .option("startingVersion", cdf_from).load()
                  .writeStream.format("parquet").option("path", f"{w}/cdf_sink")
                  .option("checkpointLocation", f"{w}/cdf_ckpt")
                  .trigger(availableNow=True).start())
            cq.awaitTermination()
        engine.append(cdf_span)
    cdf_progress = [json.loads(p.json) for p in cq.recentProgress]
    manifest_s = [s.dur for s in engine if s.name == "cdc.table.manifest"]
    final_s = [s.dur for s in engine if s.name == "cdc.table.read_final"]
    lookup_s = [s.dur for s in engine if s.name == "cdc.table.read_key"]
    change_s = [s.dur for s in engine if s.name == "cdc.table.read_changes"]

    # ---------------------------------------------------------- checks
    with tr.span("oracle.check"):
        for conv, _, got in lookups:
            recs = [r.asDict() for r in got]
            for r in recs:
                for c in FINAL_COLS:
                    r.setdefault(c, None)
            led.record(rows_of(recs, FINAL_COLS) == oracle_by_conv[conv], f"read_key {conv}")
        for lo, hi, _, n in changes:
            want_n = sum(pq.ParquetFile(os.path.join(live.root, r)).metadata.num_rows
                         for v in versions if lo < v <= hi for r in added[v])
            led.record(n == want_n, f"read_changes ({lo}, {hi}]: {n} != {want_n}")
        led.record(_engine_rows(bulk.read_final()) == duckdb_lww(bulk_wal), "bulk table vs DuckDB")
        led.record(_engine_rows(live.read_final()) == oracle, "live table vs oracle")
        led.record(len(final_sums) == 1 and next(iter(final_sums))[0] == len(oracle),
                   f"read_final checksums {final_sums}")
        sink = _read_dir_pandas(f"{w}/cdf_sink")
        want = _file_keys(live.root, [r for v in appends for r in added[v]])
        led.record(rows_of(sink.to_dict("records"), KEY_COLS) == want, "cdf sink vs appended rows")

    # ---------------------------------------------------------- metrics
    d = ctx.detail
    # steady state: the first micro-batch also pays the session's JIT warm-up
    steady = bulk_batches[1:] or bulk_batches
    d["replay_events_per_s"] = (
        sum(m.events for m in steady) / sum(m.seconds for m in steady), "events/s")
    d["freshness_p50_s"] = (pct(fresh, 50), "s")
    d["freshness_p90_s"] = (pct(fresh, 90), "s")
    d["generator_late_p50_s"] = (pct(lateness, 50), "s")
    d["generator_late_max_s"] = (max(lateness), "s")
    d["read_final_s"] = (statistics.median(final_s), "s")
    d["point_lookup_p50_s"] = (pct(lookup_s, 50), "s")
    d["point_lookup_p90_s"] = (pct(lookup_s, 90), "s")
    d["changes_read_s"] = (statistics.median(change_s), "s")
    d["cdf_drain_s"] = (cdf_span.dur, "s")
    d["chunks"] = (len(chunks), "count")
    d["trickle_bursts"] = (len(covering), "count")
    # bursts whose chunks more than one apply covered (the stream fell
    # behind, or listed the directory in the middle of a burst)
    d["trickle_split_bursts"] = (sum(1 for b in covering.values() if len(b) > 1), "count")
    d["trickle_batches"] = (len(applies), "count")
    d["trickle_apply_p50_s"] = (statistics.median(a["end"] - a["start"] for a in applies), "s")
    d["trickle_apply_max_s"] = (max(a["end"] - a["start"] for a in applies), "s")
    d["trickle_burst_interval_s"] = (interval, "s")
    d["lookups"] = (len(lookup_s), "count")

    if ctx.trace:
        files_read = {
            "read_final": len(final_df.inputFiles()),
            "read_key": [df.inputFiles() for _, df, _ in lookups],
            "read_changes": [len(df.inputFiles()) for _, _, df, _ in changes],
        }
        _layers(ctx, bulk_batches, replay_span, applies, trickle_span, stream_end,
                added, rewrites, files, files_read, manifest_s, cdf_progress, n_live_events)
    return {
        # one group of timed calls; each lookup is one latency sample
        "work": [[(s.start, s.end) for s in [replay_span, *engine]]],
        "latency": [[(s.start, s.end)] for s in engine if s.name == "cdc.table.read_key"],
        "window": (replay_span.start, engine[-1].end),
    }


def scaling(ctx: Ctx, start, stop) -> None:
    """Per-phase scaling evidence: the same one-batch replay on the current
    ``local[nproc]`` session and on a fresh ``local[1]`` session (``start(1)``;
    the old session is ``stop``-ped first). Leaves the local[1] session in
    ``ctx.spark``. Ratios are local[1] time over local[nproc] time."""
    many = scaling_leg(ctx, "n")
    stop(ctx.spark)
    ctx.spark = start(1)
    one = scaling_leg(ctx, "1", warm=True)
    for k in ("spool", "stats", "write", "apply"):
        base = many.get(k) or 0.0
        ctx.layers[f"cdc.scaling.{k}_ratio"] = (one.get(k, 0.0) / base if base else 0.0, "ratio")
        ctx.layers[f"cdc.scaling.{k}_local1_s"] = (one.get(k, 0.0), "s")
        ctx.layers[f"cdc.scaling.{k}_localn_s"] = (base, "s")


def scaling_leg(ctx: Ctx, tag: str, warm: bool = False) -> dict[str, float]:
    """Replay the backlog's first chunks as one micro-batch into a fresh
    table on the current session; return its apply phases plus ``apply``
    (the call's wall time). ``warm`` replays them once untimed first, for
    a new JVM."""
    from audience_behavior_semantic_etl_spark.cdc.apply import ApplyConfig
    from audience_behavior_semantic_etl_spark.cdc.stream import run_wal_stream
    from audience_behavior_semantic_etl_spark.cdc.table import SnapshotTable

    spark, w = ctx.spark, ctx.work
    wal = f"{w}/scale_wal"
    if not os.path.isdir(wal):
        os.makedirs(wal)
        for c in sorted(os.listdir(f"{w}/bulk_wal"))[:2]:
            shutil.copy2(os.path.join(w, "bulk_wal", c), wal)
    for i in range(2 if warm else 1):
        t = SnapshotTable.create(spark, f"{w}/scale_table_{tag}{i}")
        with ctx.tracer.span(f"cdc.scaling.local_{tag}"):
            r = run_wal_stream(spark, wal, t, f"{w}/scale_ckpt_{tag}{i}", ApplyConfig())
        if r.error:
            raise r.error
    m = r.metrics[0]
    return {**(m.phases or {}), "apply": m.seconds}


def _layers(ctx, bulk_batches, replay_span, applies, trickle_span, stream_end, added,
            rewrites, files, files_read, manifest_s, cdf_progress, n_live_events) -> None:
    """Per-layer numbers that need no event log (run.py adds the
    event-log ones from the spans)."""
    L = ctx.layers
    lookup_files, lookup_prune = [], []
    for read in files_read["read_key"]:
        lookup_files.append(len(read))
        bucket = {f.bucket for f in files if any(p.endswith(f.path) for p in read)}
        in_bucket = sum(1 for f in files if f.bucket in bucket)
        lookup_prune.append(len(read) / in_bucket if in_bucket else 0.0)
    change_files = files_read["read_changes"]
    ms = [a["m"] for a in applies]
    wall = sum(m.seconds for m in ms) or 1.0
    phases = _phase_sums(ms)
    for k in ("spool", "stats", "census", "write", "commit", "compact"):
        L[f"cdc.apply.{k}_s"] = (phases.get(k, 0.0) / max(1, len(ms)), "s")
        L[f"cdc.apply.{k}_share"] = (phases.get(k, 0.0) / wall, "ratio")
    L["cdc.apply.calls"] = (len(ms), "count")
    L["cdc.apply.wall_p50_s"] = (statistics.median(m.seconds for m in ms), "s")
    stream_wall = stream_end - trickle_span.start
    floor = stream_wall - sum(a["end"] - a["start"] for a in applies)
    L["cdc.stream.trigger_floor_s"] = (floor / max(1, len(applies)), "s")
    L["cdc.stream.trigger_floor_share"] = (floor / stream_wall if stream_wall > 0 else 0.0, "ratio")
    bulk_wall = sum(m.seconds for m in bulk_batches)
    L["cdc.stream.replay_floor_s"] = (
        (replay_span.dur - bulk_wall) / max(1, len(bulk_batches)), "s")
    for k, v in _phase_sums(bulk_batches).items():
        L[f"cdc.apply.bulk_{k}_s"] = (v, "s")
    events = sum(m.events for m in bulk_batches) or 1
    written = events - sum(m.dedup_dropped for m in bulk_batches)
    L["cdc.apply.written_ratio"] = (written / events, "ratio")
    L["cdc.apply.hot_keys"] = (sum(m.hot_keys for m in bulk_batches), "count")
    L["cdc.table.compactions"] = (sum(1 for m in ms if m.compacted_buckets), "count")
    L["cdc.table.files_added"] = (
        sum(len(fs) for v, fs in added.items() if v not in rewrites), "count")
    L["cdc.table.live_files_end"] = (len(files), "count")
    L["cdc.table.bytes_per_event"] = (
        sum(f.size_bytes for f in files) / max(1, n_live_events), "bytes")
    L["cdc.table.manifest_s"] = (statistics.median(manifest_s), "s")
    L["cdc.table.read_final.files_read"] = (files_read["read_final"], "count")
    L["cdc.table.read_key.files_read"] = (statistics.median(lookup_files), "count")
    L["cdc.table.read_key.prune_ratio"] = (statistics.median(lookup_prune), "ratio")
    L["cdc.table.read_changes.files_read"] = (
        statistics.median(change_files) if change_files else 0, "count")
    trig = sum(p["durationMs"].get("triggerExecution", 0) for p in cdf_progress) / 1000.0
    add = sum(p["durationMs"].get("addBatch", 0) for p in cdf_progress) / 1000.0
    rows = sum(p.get("numInputRows", 0) for p in cdf_progress)
    L["cdc.cdf_source.triggers"] = (len(cdf_progress), "count")
    L["cdc.cdf_source.rows_per_s"] = (rows / trig if trig else 0.0, "1/s")
    L["cdc.cdf_source.trigger_floor_s"] = ((trig - add) / max(1, len(cdf_progress)), "s")


def _phase_sums(metrics) -> dict[str, float]:
    out: dict[str, float] = {}
    for m in metrics:
        for k, v in (m.phases or {}).items():
            out[k] = out.get(k, 0.0) + v
    return out
