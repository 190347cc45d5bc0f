"""query_mix: a cut-down headline of ``bench.py`` on seeded sf0.01
tables: TPC-H q1 and q9 and four LLM-pipeline operators.  Left out, to
keep a run under 50 s: minhash_lsh and dedup_cluster (their DuckDB
oracles alone take 3 s and 10 s here), dup_span_fraction, q3, q5, q1
over a 10x lineitem replica, and the array_store_roundtrip, whose repo
layers versioned_txn measures.

A cycle is one pass that runs every query once, each as its own op, so
a query's job group holds exactly its jobs.  Each query is
``collect()``ed; after the window its rows are compared with the
DuckDB oracle of the same query on the same tables.  The registered
operators and Spark scheduling carry the work; the repo layers are not
touched.
"""

from __future__ import annotations

import os
from statistics import median

from perfbench import tables

CLASSES = {
    "analytics": ("q1_pricing_summary", "q9_product_profit"),
    "llm_pipeline": ("dedup_exact", "token_count", "knn_brute_force", "decontaminate"),
}
MIN_PASSES = 3  # timed passes even when the window ends sooner
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")


def _duckdb(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')")
    return con


def run(bench) -> dict:
    from icechunk_spark.registry import all_oracles, all_queries
    from tools.check import fingerprint

    spark = bench.start_spark()
    queries, oracles = all_queries(), all_oracles()
    with bench.phase("inputs"):
        sf_dir = os.path.join(bench.work, "sf0.01")
        tables.write_tables(sf_dir, bench.seed)
    results = []  # (Op, query, (cols, rows))

    def run_query(q: str) -> None:
        def body():
            spark.catalog.clearCache()
            df = queries[q](spark, sf_dir)
            return df.columns, df.collect()

        rec, res = bench.op(q, body)
        results.append((rec, q, res))

    def one_pass() -> None:
        for members in CLASSES.values():
            for q in members:
                run_query(q)

    with bench.phase("warmup"):
        # the first run of a query plans, generates code and compiles it
        # in the JVM: it takes twice as long as the next ones
        one_pass()
        bench.end_warmup()
        results.clear()

    bench.run_cycles(MIN_PASSES, one_pass)

    con = _duckdb(sf_dir)
    want: dict[str, dict] = {}
    try:
        for rec, q, res in results:
            if res is None:
                continue  # the op failed, and counts so already
            if q not in want:
                rel = con.sql(oracles[q])
                cols, rows = list(rel.columns), rel.fetchall()
                want[q] = {"cols": sorted(cols), "n": len(rows), "fp": fingerprint(cols, rows)}
            cols, rows = res
            got = {"cols": sorted(cols), "n": len(rows), "fp": fingerprint(cols, rows)}
            bench.check(rec, got == want[q], f"{q}: {got} vs oracle {want[q]}")
    finally:
        con.close()

    # class totals: the median over passes of the summed query times
    return {
        f"{cls}_s": median(
            sum(o.seconds for o in bench.ops if o.cycle == c and o.name in members) for c in range(len(bench.cycles))
        )
        for cls, members in CLASSES.items()
    }
