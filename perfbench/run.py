"""Benchmark for spark-graft: the paper's Kinesis ETL topology and the
batch query path, measured through the program's public entry points.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads:

  etl             one run_kinesis_sim_pipeline query (source_format=
                  "kinesis_sim"): a seeded 4800-record backlog in a
                  4-shard stream drained as the CLI `etl` path does, then
                  an open loop at 200 records/s for S seconds (etl.py)
  queries_sf0.01  one pass over 18 frozen headline queries, one per
                  operator module, each timed from plan build through a
                  noop write (queries.py); the pass outlasts S

Every workload reports the same end-to-end metrics over its items
(records or queries): setup_s (process start to ready: inputs, session,
warm-up), first_result_s (process start to the first durable result),
total_s (ETL: query start to the backlog's last durable epoch; queries:
summed build + execution), throughput_per_s (ETL: warm backlog drain
rate; queries: queries per second of total_s), latency_p50_s /
latency_p95_s / geomean_latency_s (ETL: paced records, scheduled send to
durable epoch; queries: build + execution per query) and delivered_ratio
(ETL: records found in a route or a quarantine / produced; queries:
queries matching their oracle / attempted).

With --trace 0 the last stdout line holds the end-to-end metrics; with
--trace 1 it holds the per-layer metrics, read from spans around the
benchmark's own calls and from Spark's in-process stores (streaming
progress, job/stage status store, Catalyst phase tracker). Every run
checks its outputs (outside the timed region) and writes a full record,
run environment included, to .perfbench_out/<workload>-seed<N>-trace<T>.json.
A traced run also writes the per-layer self-time table and its overhead
against the untraced run of the same workload and seed, if one is on
record.

Everything a run writes stays under the working directory:
.perfbench_work/<pid>/ (removed at exit) and .perfbench_out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "stream_ingestion_amazon_kinesis_spark"
WORKLOADS = ("etl", "queries_sf0.01")

# Reported by every workload over its items: records for the ETL
# workloads, queries for the query workload.
END_TO_END = {
    "setup_s": "s",
    "first_result_s": "s",
    "total_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p95_s": "s",
    "geomean_latency_s": "s",
    "delivered_ratio": "ratio",
}


def _per_layer_units() -> dict[str, str]:
    from queries import MODULES

    units = {"session.start_s": "s"}
    for m in MODULES:
        units.update({
            f"operators.{m}.build_s": "s",
            f"operators.{m}.exec_s": "s",
            f"operators.{m}.jobs": "count",
            f"operators.{m}.stages": "count",
        })
    units.update({
        "queries.executor_cpu_s": "s",
        "queries.gc_s": "s",
        "queries.shuffle_write_mb": "MiB",
        "queries.spill_mb": "MiB",
        "queries.catalyst_ms": "ms",
        "kinesis_sim.latest_offset_ms_p50": "ms",
        "kinesis_sim.read_task_s_p50": "s",
        "kinesis_sim.records_per_batch_p50": "count",
        "kinesis_sim.source_lag_records_max": "count",
        "kinesis_sim.commit_gap_s_p50": "s",
        "pipeline.add_batch_ms_p50": "ms",
        "pipeline.jobs_per_batch": "count",
        "pipeline.stages_per_batch": "count",
        "pipeline.route_write_s_p50": "s",
        "streaming.wal_commit_ms_p50": "ms",
        "streaming.trigger_slack_ms_p50": "ms",
        "streaming.first_batch_s": "s",
        "generator.late_max_ms": "ms",
    })
    return units


def _environment(work: str) -> dict:
    """Pin the run environment (and return it for the record): all cores,
    a driver heap below physical RAM, the repository root importable by
    Spark's Python workers, and every temporary file under `work`."""
    cpus = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_gib = max(1, min(4, ram // 2**30 // 2))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gib}g",
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
        ),
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {"nproc": cpus, "ram_gib": round(ram / 2**30, 2), "python": sys.version.split()[0], **env}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: program package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(os.getcwd(), ".perfbench_work", str(os.getpid()))
    out_dir = os.path.join(os.getcwd(), ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    try:
        record = _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        _attach_overhead(record, os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace0.json"))
        _print_table(record)
    with open(os.path.join(out_dir, stem + ".json"), "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1, default=str)

    if record["errors"]:
        print("perfbench: correctness check failed:", file=sys.stderr)
        for e in record["errors"][:20]:
            print("  " + e, file=sys.stderr)
    print(json.dumps({"environment": record["environment"]}))
    print(json.dumps(record["result"]))
    return 0


def _run(args, work: str) -> dict:
    sys.path[:0] = [HERE, ROOT]
    environment = _environment(work)
    from spans import Tracer

    tracer = Tracer(bool(args.trace))
    seconds = args.seconds

    # Set-up: inputs, session start and module import, all timed together.
    inputs = None
    if args.workload == "etl":
        import etl

        with tracer.span("generate", "bench.generator"):
            inputs = etl.prepare(work, args.seed, seconds)
    with tracer.span("get_spark", "session"):
        t0 = time.perf_counter()
        from stream_ingestion_amazon_kinesis_spark.session import get_spark

        spark = get_spark("perfbench")
        session_start_s = time.perf_counter() - t0
    if args.workload.startswith("queries"):
        from stream_ingestion_amazon_kinesis_spark.plans.registry import _load_all

        with tracer.span("load registry", "plans.registry"):
            _load_all()
        with tracer.span("warm-up job", "bench.warmup"):
            # One trivial job, so the first headline query is not also
            # the session's first job.
            spark.range(100_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    setup_s = time.perf_counter() - T_PROCESS

    gateway = spark.sparkContext._gateway
    try:
        if args.workload == "etl":
            out = etl.run(spark, inputs, tracer, seconds)
        else:
            from queries import run_queries

            out = run_queries(spark, tracer)
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)

    metrics = {"setup_s": setup_s, **out["metrics"]}
    # From process start, as a user launching the command waits for it.
    first_at = metrics.pop("first_result_at", None)
    if first_at is not None:
        metrics["first_result_s"] = first_at - (time.time() - (time.perf_counter() - T_PROCESS))
    layers = {"session.start_s": session_start_s, **out["layers"]}
    errors = list(out["errors"])
    missing = [k for k in END_TO_END if k not in metrics]
    if missing:
        errors.append(f"metrics not produced: {missing}")
    if args.trace:
        shown = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in _per_layer_units().items()}
    else:
        shown = {k: {"value": float(metrics[k]), "unit": u} for k, u in END_TO_END.items() if k in metrics}
    result = {
        "correct": not errors,
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": shown,
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": seconds,
        "trace": args.trace,
        "environment": environment,
        "result": result,
        "end_to_end": metrics,
        "layers": layers,
        "counts": out.get("counts", {}),
        "errors": errors[:50],
        "error_count": len(errors),
    }
    if tracer.enabled:
        record["self_time"] = tracer.self_time_table()
        record["spans"] = tracer.to_json()
    return record


def _attach_overhead(record: dict, untraced_path: str) -> None:
    """Tracing overhead = traced run's time minus the untraced run's, per
    end-to-end metric, when an untraced run of the same workload and
    seed is on record."""
    if not os.path.exists(untraced_path):
        record["tracing_overhead"] = "no untraced run of this workload and seed on record"
        return
    with open(untraced_path, encoding="utf-8") as fh:
        base = json.load(fh)["end_to_end"]
    record["tracing_overhead"] = {
        k: {"traced": v, "untraced": base[k], "delta": v - base[k]}
        for k, v in record["end_to_end"].items()
        if k in base
    }


def _print_table(record: dict) -> None:
    print(f"{'layer':44} {'self s':>10} {'total s':>10} {'spans':>6}", file=sys.stderr)
    for layer, row in record["self_time"].items():
        print(f"{layer:44} {row['self_s']:10.3f} {row['total_s']:10.3f} {row['spans']:6d}", file=sys.stderr)
    print(f"tracing overhead: {json.dumps(record['tracing_overhead'])}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
