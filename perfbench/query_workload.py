"""The ``query_mix`` workload: a fixed subset of
``__spark_entry__.queries()`` on tables generated from the seed.

The subset is two ``q_stream_*`` drains (the streaming trigger floors
ROADMAP names; ``q_stream_dedup``, ``q_stream_sessionize`` and
``q_stream_stream_join`` are left out to fit the run-time budget) and
three map-heavy queries over single-row-group scans whose ``_spread``
placement ROADMAP lists as regressed or to re-check:
``q_pack_sequences``, ``q_training_mix`` and ``q_dedup_ngram_jaccard``
(``q_pack_materialize``, built on the same ``pack_sequences`` operator,
is left out for the budget). No ``q_cdc_*`` query runs, so the CDC layers
do nothing here.

Set-up ends with two untimed passes over all five queries. In the first,
each result is collected and compared with its frozen ``oracle_sql()``
in DuckDB by exact string compare; both warm the JIT, codegen, the
Python workers and the session's first streaming query. The timed window is a
fixed number of passes (one per ``PASS_S`` of ``--seconds``) over all
five queries, each forced through the no-op sink, as ``bench.py`` does.
``work_s`` is the median pass; the latency samples are each query's
median over the passes. A ``q_stream_*`` query drains its stream
when called and returns a read of its sink, so its result is collected
and checked after the timed call.

The tables reproduce the distributions of the query library's sf0.01
test data (``perfbench/inputs_check.py`` compares the two, statistic by
statistic and by each query's oracle row count).
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

from perfbench.common import Ctx

STREAMING = ["q_stream_tumbling_counts", "q_stream_enrich"]
MAP_HEAVY = ["q_pack_sequences", "q_training_mix", "q_dedup_ngram_jaccard"]
TABLES = ["events", "documents", "nation"]
PASS_S = 12.0  # timed passes per run: one per PASS_S of --seconds
SIZES = {
    # the row counts of the sf0.01 test data
    "full": dict(events=10_000, users=150, documents=500),
    "smoke": dict(events=1_500, users=40, documents=80),
}
# the test data's document vocabulary ("dup" marks a near-duplicate)
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()


def make_tables(out_dir: str, seed: int, size: dict) -> None:
    """The tables the subset reads, one single-row-group parquet file
    each (the layout the query library's ``_spread`` targets), with the
    test data's schemas and distributions: events uniform over users,
    five event types and 30 days; documents of 10-100 words drawn
    uniformly from a 30-word vocabulary, 5% of them a near-duplicate of
    an earlier one (one word replaced by "dup")."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = size["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n))
    events = pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, size["users"], n).astype(np.int64),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    d = size["documents"]
    texts = []
    for i in range(d):
        if i >= 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))].split()
            src[int(rng.integers(0, len(src)))] = "dup"
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 101)))))
    docs = pd.DataFrame({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], d, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    for name, t in (("events", events), ("documents", docs), ("nation", nation)):
        pq.write_table(pa.Table.from_pandas(t, preserve_index=False), f"{out_dir}/{name}.parquet")


def _canon(df):
    cols = sorted(df.columns)
    return df[cols].astype(str).sort_values(cols).reset_index(drop=True)


def run(ctx: Ctx) -> dict:
    import duckdb

    import __spark_entry__ as entry

    spark, tr, led = ctx.spark, ctx.tracer, ctx.ledger
    size = SIZES["smoke" if ctx.smoke else "full"]
    data = f"{ctx.work}/tables"
    qs, osql = entry.queries(), entry.oracle_sql()
    names = MAP_HEAVY + STREAMING  # cheap queries first, as in bench.py

    t_setup = time.time()
    with tr.span("query.gen_tables") as gen_span:
        make_tables(data, ctx.seed, size)
    ctx.layers["inputs.gen_s"] = (gen_span.dur, "s")
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        want = {name: _canon(con.execute(osql[name]).fetchdf()) for name in names}
    finally:
        con.close()

    def check(name: str, got) -> None:
        g = _canon(got)
        led.record(list(g.columns) == list(want[name].columns) and g.equals(want[name]),
                   f"{name} vs oracle_sql")

    def force(name: str):
        df = qs[name](spark, data)
        df.write.format("noop").mode("overwrite").save()
        return df

    # warm-up: the first pass checks every query; the JIT keeps speeding
    # the passes up well past the first (11.6, 10.1, 8.4 s for passes 2-4
    # of a six-query mix on 4 cores), so a second pass runs before timing
    with tr.span("query.warm_pass"):
        for name in names:
            if name in STREAMING:
                check(name, force(name).toPandas())  # a re-read of the drained sink
            else:
                check(name, qs[name](spark, data).toPandas())
            spark.catalog.clearCache()
        for name in names:
            force(name)
            spark.catalog.clearCache()
    os.sync()
    ctx.setup.append((t_setup, time.time()))

    passes = max(1, int(ctx.seconds // PASS_S))
    calls: dict[str, list[tuple[float, float]]] = {n: [] for n in names}
    progress: dict[str, list] = {}
    with tr.span("query_mix") as window:
        for _ in range(passes):
            for name in names:
                with tr.span(f"query.{name}") as sp:
                    df = force(name)
                calls[name].append((sp.start, sp.end))
                if name in STREAMING:
                    check(name, df.toPandas())  # a re-read of the drained sink
                    progress[name] = list(getattr(entry, "STREAM_PROGRESS", {}).get(name) or [])
                else:
                    led.record(True, f"{name} (no-op sink)")
                spark.catalog.clearCache()
    walls = {n: [e - s for s, e in c] for n, c in calls.items()}

    # each query's median over the passes
    med = {n: statistics.median(w) for n, w in walls.items()}
    ctx.detail["query_mix_s"] = (sum(med[n] for n in MAP_HEAVY), "s")
    ctx.detail["stream_drain_s"] = (sum(med[n] for n in STREAMING), "s")
    ctx.detail["passes"] = (passes, "count")
    if ctx.trace:
        L = ctx.layers
        engine = harness = 0.0
        triggers = 0
        for name in names:
            L[f"query.{name}.wall_s"] = (med[name], "s")
        for name in STREAMING:
            # the last pass's stream
            prog = progress.get(name) or []
            eng = sum(p.get("durationMs", {}).get("triggerExecution", 0) for p in prog) / 1000.0
            L[f"streaming.{name}.engine_s"] = (eng, "s")
            L[f"streaming.{name}.harness_s"] = (max(walls[name][-1] - eng, 0.0), "s")
            engine += eng
            harness += max(walls[name][-1] - eng, 0.0)
            triggers += len(prog)
        L["streaming.engine_share"] = (engine / (engine + harness) if engine + harness else 0.0, "ratio")
        L["streaming.triggers"] = (triggers, "count")
    # only the query calls; the sink re-reads and oracle checks between
    # them are not timed
    return {
        # one group of timed calls per pass; each query is one latency
        # sample (its median over the passes)
        "work": [[calls[n][i] for n in names] for i in range(passes)],
        "latency": [calls[n] for n in names],
        "window": (window.start, window.end),
    }
