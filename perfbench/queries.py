"""Batch queries timed the way a caller waits for them: from
`QUERIES[name].fn(spark, sf_dir)` (plan build, which may run eager
checkpoints and driver-side actions) through
`.write.format("noop").save()` (execution).

QUERY_SET is frozen here: one headline query from each of the 18
operator modules that register headline queries, all oracle-backed, so
every per-module layer is measured while a run stays short enough for
the benchmark's run budget. A run times one pass in a fresh session, the fixed
unit of work (it outlasts --seconds). The fixture is a copy of the
sf0.01 tables, kept in data/sf0.01 beside this file.

Every query's result is collected outside the timed region and compared
exactly with its DuckDB oracle twin (the comparison of
scripts/check_oracle.py: same columns, same dtypes, same sorted rows).
"""

from __future__ import annotations

import os
import time

from spans import SparkStores, Tracer, catalyst_phase_ms, latency_summary, ran_stages

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

QUERY_SET = [
    "q3_shipping_priority",  # relational
    "q6_forecast_revenue",  # tpch_extra
    "flagship_session_enrichment",  # enrichment
    "window_running_total_per_customer",  # windows
    "session_window_events",  # event_time
    "exact_dedup_documents",  # dedup
    "ann_topk_cosine",  # similarity
    "document_quality_scores",  # text_analysis
    "contamination_ngram_overlap",  # curation
    "variant_props_extract",  # semistructured
    "zorder_box_query_events",  # layout
    "triangle_count_parts",  # graph
    "tpcds_channel_union_rollup",  # tpcds_shapes
    "ohlc_hourly_bars",  # timeseries
    "recursive_cte_part_hierarchy",  # subqueries
    "containment_neardup_pairs",  # corpus_quality
    "streaming_curation_pipeline_live",  # streaming_live
    "kmv_distinct_setops",  # sketches
]

MODULES = [
    "relational", "tpch_extra", "enrichment", "windows", "event_time", "dedup",
    "similarity", "text_analysis", "curation", "semistructured", "layout", "graph",
    "tpcds_shapes", "timeseries", "subqueries", "corpus_quality", "streaming_live",
    "sketches",
]


def module_of(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


def run_queries(spark, tracer: Tracer) -> dict:
    """One pass over QUERY_SET, the workload's fixed unit of work."""
    from stream_ingestion_amazon_kinesis_spark.plans.registry import QUERIES, release_cached

    build: dict[str, float] = {}
    execute: dict[str, float] = {}
    results: dict[str, object] = {}
    errors: list[str] = []
    windows: dict[str, tuple[float, float]] = {}  # wall-clock build..exec
    catalyst_ms = 0.0
    first_result_at = None
    for name in QUERY_SET:
        fn = QUERIES[name].fn
        layer = f"operators.{module_of(fn)}"
        df = None
        try:
            with tracer.span(name, "plans.registry"):
                w0 = time.time()
                t0 = time.perf_counter()
                with tracer.span("build", f"{layer}.build"):
                    df = fn(spark, SF_DIR)
                t1 = time.perf_counter()
                with tracer.span("exec", f"{layer}.exec"):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            windows[name] = (w0, time.time())
            first_result_at = first_result_at or windows[name][1]
            build[name], execute[name] = t1 - t0, t2 - t1
            # Outside the timed region: Catalyst phases, then the result.
            if tracer.enabled:
                catalyst_ms += catalyst_phase_ms(df)
            results[name] = df.toPandas()
        except Exception as e:  # a failing query is a failed attempt
            errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
        finally:
            df = None
            release_cached(spark)

    failed = {e.split(":", 1)[0] for e in errors}
    failed |= _check_oracles(QUERIES, results, errors)
    per_query = {n: build[n] + execute[n] for n in build}
    metrics = {}
    if per_query:
        total = sum(per_query.values())
        metrics = {
            "first_result_at": first_result_at,
            "total_s": total,
            "throughput_per_s": len(per_query) / total,
            "delivered_ratio": (len(QUERY_SET) - len(failed)) / len(QUERY_SET),
            **latency_summary(sorted(per_query.values())),
        }
    layers = _query_layers(spark, QUERIES, build, execute, windows, catalyst_ms, tracer.enabled)
    layers["per_query_s"] = {n: round(v, 4) for n, v in per_query.items()}
    return {
        "metrics": metrics,
        "layers": layers,
        "attempted": len(QUERY_SET),
        "failed": len(failed),
        "errors": errors,
        "counts": {"queries": len(QUERY_SET), "timed": len(per_query)},
    }


def _check_oracles(QUERIES, results, errors) -> set[str]:
    """Exact comparison with each query's DuckDB oracle twin."""
    import duckdb

    from scripts.check_oracle import df_to_rows
    from stream_ingestion_amazon_kinesis_spark import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
        bad: set[str] = set()
        for name, sdf in results.items():
            oracle = QUERIES[name].oracle
            if oracle is None:
                if len(sdf) == 0:
                    bad.add(name)
                    errors.append(f"{name}: rows-only query returned no rows")
                continue
            odf = con.execute(oracle).fetchdf()
            ocols, orows = df_to_rows(odf)
            scols, srows = df_to_rows(sdf)
            if scols != ocols:
                why = f"columns {scols} != oracle {ocols}"
            elif [_dtype(sdf[c]) for c in scols] != [_dtype(odf[c]) for c in ocols]:
                why = "dtypes differ from oracle"
            elif srows != orows:
                why = f"{len(srows)} rows differ from the oracle's {len(orows)}"
            else:
                continue
            bad.add(name)
            errors.append(f"{name}: {why}")
        return bad
    finally:
        con.close()


def _dtype(series) -> str:
    d = str(series.dtype)
    return "datetime64" if d.startswith("datetime64") else d


def _query_layers(spark, QUERIES, build, execute, windows, catalyst_ms, traced) -> dict:
    """Per-module times, plus (traced) the jobs and stages each query ran
    between its build start and its write's end. Queries run one at a
    time, so the time window attributes every job, including those a
    query's build starts on other threads (e.g. a streaming query)."""
    layers: dict = {}
    for m in MODULES:
        names = [n for n in build if module_of(QUERIES[n].fn) == m]
        layers[f"operators.{m}.build_s"] = sum(build[n] for n in names)
        layers[f"operators.{m}.exec_s"] = sum(execute[n] for n in names)
        layers[f"operators.{m}.jobs"] = 0.0
        layers[f"operators.{m}.stages"] = 0.0
    totals = {"cpu": 0.0, "gc": 0.0, "shuffle": 0, "spill": 0}
    if traced:
        stores = SparkStores(spark)
        stages = stores.stages()
        for job in stores.jobs():
            name = next(
                (n for n, (a, b) in windows.items() if job.start is not None and a <= job.start <= b),
                None,
            )
            if name is None:
                continue
            m = module_of(QUERIES[name].fn)
            ran = ran_stages(job, stages)
            layers[f"operators.{m}.jobs"] += 1
            layers[f"operators.{m}.stages"] += len(ran)
            for s in ran:
                totals["cpu"] += s.cpu_s
                totals["gc"] += s.gc_s
                totals["shuffle"] += s.shuffle_write_bytes
                totals["spill"] += s.spill_bytes
    layers["queries.executor_cpu_s"] = totals["cpu"]
    layers["queries.gc_s"] = totals["gc"]
    layers["queries.shuffle_write_mb"] = totals["shuffle"] / 2**20
    layers["queries.spill_mb"] = totals["spill"] / 2**20
    layers["queries.catalyst_ms"] = catalyst_ms
    return layers
