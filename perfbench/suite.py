"""The analytics query suite: a fixed subset of ``plans/queries.py`` at
sf0.1 on generated tables, run by traced runs for the per-layer figures
of ``functions/`` and ``plans/``; results are checked against the DuckDB
oracles."""

from __future__ import annotations

import os
import time

from flink_invoice_processor_spark.functions import suite_cache
from flink_invoice_processor_spark.plans.queries import ORACLES, QUERIES
from flink_invoice_processor_spark.session import drain_block_store

from .gen import write_tables

SF = 0.1

#: (query, group) in name order.  The group names the ``functions/``
#: module the query was chosen to exercise (``plans.invoice`` for the
#: invoice query).  Each query costs 1-4 s in the warm-up pass and again
#: in the timed pass at sf0.1 on four cores, so the suite keeps the
#: cheapest query of most modules: it calls every functions module except
#: ``cdc``, ``fsops``, ``graph``, ``lsh_index``, ``quality`` and
#: ``retrieval``, whose cheapest queries do not fit the run-time budget.
#: perfbench/tests/test_suite_coverage.py checks the coverage.
SUITE = sorted([
    ("embedding_cosine_topk", "functions.similarity"),
    ("events_asof_join", "functions.asof"),
    ("events_bloom_membership", "functions.sketches"),
    ("events_salted_counts", "functions.skew"),
    ("events_scd2_history", "functions.scd2"),
    ("events_watermark_drops", "functions.windows"),
    ("exact_dedup_docs", "functions.dedup"),
    ("length_bucket_batches_docs", "functions.curation"),
    ("length_gini_docs", "functions.stats"),
    ("multimodal_decode", "functions.multimodal"),
    ("response_topic_routing", "plans.invoice"),
])
GROUPS = sorted({g for _, g in SUITE})
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def oracle_mismatches(sf_dir: str, results: dict[str, tuple]) -> list[str]:
    """Compare each query's Spark result ``(columns, rows)`` with its
    DuckDB oracle on the same tables: column names, row count and an
    order-insensitive value hash."""
    import duckdb

    from tools.check_oracles import table_hash

    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
    bad = []
    for name, (cols, rows) in results.items():
        res = con.execute(ORACLES[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        if sorted(cols) != sorted(ocols) or len(rows) != len(orows) or (
                table_hash(cols, rows) != table_hash(ocols, orows)):
            bad.append(f"{name}: result differs from its DuckDB oracle "
                       f"({len(rows)} vs {len(orows)} rows)")
    con.close()
    return bad


def _timed_pass(run, sf_dir: str) -> tuple[dict[str, float], float]:
    """Run the suite once, each query to completion; returns seconds per
    query and the seconds spent building shared suite-cache artifacts."""
    secs, built = {}, 0.0
    suite_cache.enable()
    try:
        for name, group in SUITE:
            layer = "plans" if group.startswith("plans") else "functions"
            with run.span(f"query:{name}", layer, unit=True):
                t0 = time.perf_counter()
                ok = run.guard(name, lambda: QUERIES[name](run.spark, sf_dir).count())
                secs[name] = time.perf_counter() - t0
            built += sum(suite_cache.drain_build_times().values())
            run.attempted += 1
            if not ok:
                secs.pop(name)
    finally:
        suite_cache.disable()
    return secs, built


def query_suite_layers(run) -> None:
    """Per-layer figures of ``functions/`` and ``plans/`` for a traced
    run: generate the sf0.1 tables, run the suite once untraced (the
    warm-up, whose results are checked against the DuckDB oracles), then
    once traced."""
    sf_dir = os.path.join(run.work, f"sf{SF}")
    write_tables(sf_dir, run.seed, SF)
    run.phase("query warm-up")
    results = {}
    suite_cache.enable()
    try:
        for name, _ in SUITE:
            def collect(name=name):
                df = QUERIES[name](run.spark, sf_dir)
                results[name] = (df.columns, [tuple(r) for r in df.collect()])
            run.guard(f"{name} (warm-up)", collect)
    finally:
        suite_cache.disable()
    spark = run.spark
    spark.catalog.clearCache()
    drain_block_store(spark, timeout_s=15.0)
    run.phase("traced")
    secs, built = _timed_pass(run, sf_dir)
    run.phase(None)
    run.check(oracle_mismatches(sf_dir, results), len(SUITE))
    for g in GROUPS:
        run.layer[f"{g}_s"] = sum(s for q, s in secs.items() if dict(SUITE)[q] == g)
    run.layer["functions.suite_cache.build_s"] = built
