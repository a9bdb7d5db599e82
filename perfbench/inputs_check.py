"""Compare the ``query_mix`` inputs with the query library's test data.

    python3 perfbench/inputs_check.py REAL_DIR [SEED ...]

REAL_DIR holds the test-data tables (``events``, ``documents`` and
``nation`` parquet files, e.g. the sf0.01 set). The script generates the
benchmark's tables for each SEED (default 1 2 3) and prints, side by
side, the statistics the subset's queries depend on and the row count of
each query's ``oracle_sql()`` on every input. Uses DuckDB only, no Spark.
"""

from __future__ import annotations

import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

STATS = {
    "events.rows": "SELECT count(*) FROM events",
    "events.users": "SELECT count(DISTINCT user_id) FROM events",
    "events.types": "SELECT count(DISTINCT event_type) FROM events",
    "events.max_type_share": "SELECT max(c) / sum(c) FROM (SELECT count(*) c FROM events GROUP BY event_type)",
    "events.days": "SELECT date_diff('second', min(ts), max(ts)) / 86400.0 FROM events",
    "events.ts_in_id_order": "SELECT avg(CASE WHEN ts >= lag_ts THEN 1 ELSE 0 END) FROM "
                             "(SELECT ts, lag(ts) OVER (ORDER BY event_id) lag_ts FROM events) WHERE lag_ts IS NOT NULL",
    "events.value_mean": "SELECT avg(value) FROM events",
    "documents.rows": "SELECT count(*) FROM documents",
    "documents.en_share": "SELECT avg(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) FROM documents",
    "documents.langs": "SELECT count(DISTINCT lang) FROM documents",
    "documents.sources": "SELECT count(DISTINCT source) FROM documents",
    "documents.words_min": "SELECT min(len(string_split(text, ' '))) FROM documents",
    "documents.words_mean": "SELECT avg(len(string_split(text, ' '))) FROM documents",
    "documents.words_max": "SELECT max(len(string_split(text, ' '))) FROM documents",
    "documents.vocabulary": "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w FROM documents)",
    "documents.dup_marks": "SELECT count(*) FROM (SELECT unnest(string_split(text, ' ')) w FROM documents) WHERE w = 'dup'",
    "nation.rows": "SELECT count(*) FROM nation",
}


def profile(data_dir: str, queries: list[str], osql: dict[str, str]) -> dict[str, float]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("events", "documents", "nation"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        out = {k: float(con.execute(q).fetchone()[0]) for k, q in STATS.items()}
        for name in queries:
            out[f"{name}.rows"] = float(con.execute(f"SELECT count(*) FROM ({osql[name]})").fetchone()[0])
    finally:
        con.close()
    return out


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry
    from perfbench.query_workload import MAP_HEAVY, SIZES, STREAMING, make_tables

    osql = entry.oracle_sql()
    names = MAP_HEAVY + STREAMING
    seeds = [int(s) for s in argv[1:]] or [1, 2, 3]
    cols = {"real": profile(argv[0], names, osql)}
    with tempfile.TemporaryDirectory() as tmp:
        for seed in seeds:
            d = os.path.join(tmp, str(seed))
            make_tables(d, seed, SIZES["full"])
            cols[f"seed {seed}"] = profile(d, names, osql)
    print("| statistic | " + " | ".join(cols) + " |")
    print("|---|" + "---|" * len(cols))
    for k in cols["real"]:
        print(f"| {k} | " + " | ".join(f"{c[k]:.4g}" for c in cols.values()) + " |")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
