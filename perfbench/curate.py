"""`curate` workload: one timed pass over ten declared queries.

Batch, closed loop: each query is built and collected once, in turn, as a
curation batch runs it, so its planning and code generation count.
Set-up writes the seeded tables and runs one small query-agnostic Spark
job (a shuffle plus a pandas UDF), so that the JVM's first-job cost and
Python worker start-up are not charged to the first query.  After timing,
every collected result is compared with its DuckDB oracle from
`all_oracles()` (a `round` of an exact half boundary may differ by one
unit in its last place; see `oracle.py`), except `corpus_funnel`, which is
compared with a committed digest (its oracle does not finish here).
"""

from __future__ import annotations

import json
import os
import time

import datagen
import oracle

QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q18_large_volume",
    "window_session",
    "join_asof",
    "text_bm25_topk",
    "ann_topk_ivf",
    "dedup_lsh_verified",
    "corpus_funnel",
]
SF = 0.01
DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def layer_names() -> list[tuple[str, str]]:
    out = []
    for q in QUERIES:
        out += [(f"curate.{q}_s", "s"), (f"curate.{q}.spark_jobs", "count")]
    return out


def _run_query(spark, fn, name: str, sf_dir: str, tracer):
    """Build and collect one query; with a tracer, record both as spans and
    count the Spark jobs it ran (its job group plus any jobs its helper
    threads started outside the group)."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    before = set(st.getJobIdsForGroup(None)) if tracer else set()
    group = f"curate-{name}"
    sc.setJobGroup(group, name)
    try:
        t0 = time.time()
        if tracer:
            with tracer.span(f"curate.{name}"):
                with tracer.span(f"curate.{name}.build"):
                    df = fn(spark, sf_dir)
                with tracer.span(f"curate.{name}.collect"):
                    rows = df.collect()
        else:
            df = fn(spark, sf_dir)
            rows = df.collect()
        dur = time.time() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = 0
    if tracer:
        jobs = len(st.getJobIdsForGroup(group)) + len(
            set(st.getJobIdsForGroup(None)) - before
        )
    return df.columns, rows, dur, jobs


def _warm_up(spark) -> None:
    """First Spark job of the JVM and first pandas-UDF worker start, on data
    none of the queries read."""
    import pandas as pd

    def double(batches):
        for pdf in batches:
            yield pd.DataFrame({"id": pdf["id"] * 2})

    df = spark.range(100_000).repartition(4)
    df.groupBy((df.id % 10).alias("k")).count().collect()
    df.mapInPandas(double, "id long").agg({"id": "sum"}).collect()


def run(ctx) -> dict:
    from flume_spark.queries import all_oracles, all_queries

    spark, tracer = ctx.spark, ctx.tracer
    queries = all_queries()
    sf_dir = datagen.write_tables(os.path.join(ctx.work, "tables"), ctx.seed, SF)
    _warm_up(spark)
    ctx.setup_done()

    results, durations, layers, checks, failed = {}, [], {}, [], 0
    t_start = time.time()
    for name in QUERIES:
        spark.catalog.clearCache()
        try:
            cols, rows, dur, jobs = _run_query(spark, queries[name], name, sf_dir, tracer)
        except Exception as exc:  # noqa: BLE001 — a failing query is a failed operation
            checks.append((name, False, f"{type(exc).__name__}: {exc}"))
            failed += 1
            continue
        results[name] = oracle.spark_canon(rows, cols)
        durations.append(dur)
        layers[f"curate.{name}_s"] = dur
        layers[f"curate.{name}.spark_jobs"] = jobs
    wall = time.time() - t_start
    ctx.mark("timed pass done")
    ctx.measure_rss()

    # correctness gate, outside the timed interval
    with open(DIGESTS) as f:
        digests = json.load(f)
    con = oracle.duckdb_con(sf_dir)
    oracles = all_oracles()
    for name, got in results.items():
        notes = []
        if name in digests:
            want = digests[name]
            bad = None if oracle.digest(got) == want else f"digest != {want[:12]}"
        else:
            bad, notes = oracle.compare(con, oracles[name], got)
        if bad:
            failed += 1
        ok = "; ".join([f"{len(got) - 1} rows match"] + notes)
        checks.append((name, bad is None, bad or ok))
    con.close()

    total = sum(durations)
    return {
        "attempted": len(QUERIES),
        "failed": failed,
        "checks": checks,
        # the batch is the one operation a curation user waits for, so its
        # time is the mean, p50 and p90 alike (per-query times are layers)
        "e2e": dict.fromkeys(("latency_mean_s", "latency_p50_s", "latency_p90_s"), total),
        "layers": layers,
        "detail": {
            "curate_s": total,
            "queries_per_s": len(durations) / total if total else 0.0,
            "pass_wall_s": wall,
            "sf": SF,
        },
    }

