"""Workload ``analytics``: read-only passes over 10 registry queries in a
fixed order, on tables generated from the seed at sf0.02 size.

Per query (one op): build the DataFrame through ``__spark_entry__.queries()``
and collect it (``toPandas``). Each result is then compared with its DuckDB
oracle twin from ``__spark_entry__.oracle_sql()`` by
``tools/check_correctness.compare``. One whole untimed pass warms up; two or
more timed passes follow, and a query's latency is its median over them.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

import gen
import oracle
from core import Bench
from tools.check_correctness import compare

SF = 0.02
# Nine names of bench.py's HEADLINE set (the registry-wide speed table's
# frozen headline), one per family, plus the flagship daily-sync pipeline
# query. Left out are the names whose layers daily_sync already times
# (partition extract, merges, coercion) and siblings of kept queries (more
# TPC-H joins, more sketches, brute-force next to IVF similarity). The JIT is
# still warming over the first pass, which runs about twice as long as the
# next, so a run makes an untimed warm-up pass first; all 40 names that way
# would take over two minutes on a 4-core host, too long for the benchmark's
# time budget. The order is fixed, so the seed changes only the data.
QUERIES = [
    "revenue_by_nation", "rollup_revenue", "dedup_ngram_jaccard", "text_quality",
    "similarity_ann_ivf", "range_join_incidents", "event_funnel", "cms_frequency_sketch",
    "txn_table_snapshot", "daily_sync_pipeline",
]
# Timed passes: at least two, at most five (on a host fast enough to fit more).
# A warm pass takes about as long as --seconds, so a run stopping after the
# first pass it ends past --seconds made one pass on some seeds and two on
# others, and that spread the medians by about a quarter between seeds.
MIN_PASSES, MAX_PASSES = 2, 5


def run(bench: Bench):
    import __spark_entry__ as entry

    bench.start_session()
    spark = bench.spark
    sf = SF * bench.args.scale
    prep_s, (data, rows) = bench.prepare(
        lambda d: (d, gen.gen_analytics(np.random.default_rng(bench.args.seed), d, sf)))
    qs, oracles = entry.queries(), entry.oracle_sql()
    con = oracle.connect()
    for t in rows:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    results: list = []

    def op(i: int, loop) -> str:
        name = QUERIES[i]
        with bench.span("plans.driver_queries:build"):
            df = qs[name](spark, data)
        with bench.span("plans.driver_queries:action"):
            results.append(df.toPandas())
        return name

    def check(i: int, loop) -> list[str]:
        name = QUERIES[i % len(QUERIES)]
        problems = compare(name, results.pop(), con.execute(oracles[name]).fetchdf())
        return [f"{name}: {p}" for p in problems]

    t0 = time.perf_counter()
    warm_problems = []
    for i in range(len(QUERIES)):  # untimed pass: JIT, Python workers, first scans
        op(i, None)
        warm_problems += check(i, None)
    warm_s = time.perf_counter() - t0
    # whole passes until --seconds have passed
    loop = bench.timed_loop(len(QUERIES) * MAX_PASSES, lambda i, lp: op(i % len(QUERIES), lp),
                            check, unit=len(QUERIES), min_ops=len(QUERIES) * MIN_PASSES)
    per_query: dict[str, list[float]] = {}
    for name, t in zip(loop.op_ids, loop.latencies):
        per_query.setdefault(name, []).append(t)
    medians = [statistics.median(ts) for ts in per_query.values()]
    extra = {
        "query_latency_p50_s": statistics.median(medians),
        "passes": len(loop.latencies) / len(QUERIES),
        "setup_parts_s": {"session": bench.session_start_s, "prepare": prep_s,
                          "warmup": warm_s},
    }
    props = {"sf": sf, "table_rows": rows, "queries": len(QUERIES)}
    setup_s = bench.session_start_s + prep_s + warm_s
    return bench.result(setup_s, loop, warm_problems, props, extra,
                        p50_s=extra["query_latency_p50_s"])
