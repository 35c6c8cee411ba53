"""The paper's topology through its public entry point,
`streaming.pipeline.run_kinesis_sim_pipeline(..., source_format=
"kinesis_sim")`: a sharded JSON session stream, T1-T5 enrichment, and
the `country` demux into two kinesis_sim destination streams.

One streaming query runs two phases:

backlog  a seeded backlog of BACKLOG_RECORDS records in the 4-shard
         source stream, drained at the default 200 records/shard fetch
         cap exactly as the CLI `etl` path does (start, then
         processAllAvailable). Its first epoch is the cold start every
         `etl` invocation pays; the later epochs give the warm drain rate.
paced    open loop: one generator thread appends keyed record files to
         the four shards on a fixed schedule (PACED_RATE records/s for
         --seconds) that never waits for the pipeline. A record's latency
         runs from its scheduled send time to the moment its route's
         epoch is durable: the shard writer's `_epochs/w-<commitToken>`
         marker exists.

Outputs are read back from the destination streams after the run and
checked against the generator's plain-Python expectations.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

from sessions import Record, SessionGenerator, StreamWriter
from spans import SparkStores, Tracer, latency_summary, p50, ran_stages

ROUTES = ("USA", "International")
BACKLOG_RECORDS = 4800  # six full 800-record batches at the default cap
BACKLOG_FILE_RECORDS = 800  # records per producer call
PACED_RATE = 200  # records/s, about half the warm drain capacity
PACED_TICK_S = 0.1  # generator writes one file per shard per tick
_TOKEN_RE = re.compile(r"^part-\d{8}-(.+)-[0-9a-f]{12}\.jsonl$")
_EPOCH_RE = re.compile(r"e(\d{20})$")


@dataclass
class EtlInputs:
    work: str
    records: list[Record]  # every record, in production order
    backlog: int  # leading records written before the query starts
    sched: list[float] = field(default_factory=list)  # paced send times
    written: list[tuple[float, int]] = field(default_factory=list)  # (time, cumulative)
    late_max_s: float = 0.0

    @property
    def source(self) -> str:
        return os.path.join(self.work, "source")

    @property
    def dests(self) -> dict[str, str]:
        return {r: os.path.join(self.work, "dest", r.lower()) for r in ROUTES}


def prepare(work: str, seed: int, seconds: int) -> EtlInputs:
    """Generate every record; write the backlog to the source stream."""
    n = BACKLOG_RECORDS + PACED_RATE * seconds
    inputs = EtlInputs(work, SessionGenerator(seed).take(n), BACKLOG_RECORDS)
    writer = StreamWriter(inputs.source)
    for i in range(0, inputs.backlog, BACKLOG_FILE_RECORDS):
        writer.append(inputs.records[i : min(i + BACKLOG_FILE_RECORDS, inputs.backlog)])
    inputs.written.append((time.time(), inputs.backlog))
    return inputs


def run(spark, inputs: EtlInputs, tracer: Tracer, seconds: int) -> dict:
    from stream_ingestion_amazon_kinesis_spark.streaming.pipeline import (
        run_kinesis_sim_pipeline,
    )

    t_start = time.time()
    with tracer.span("run_kinesis_sim_pipeline", "streaming.pipeline") as pipeline_span:
        query = run_kinesis_sim_pipeline(
            spark,
            inputs.source,
            inputs.dests,
            os.path.join(inputs.work, "checkpoint"),
            source_format="kinesis_sim",
        )
        try:
            query.processAllAvailable()  # backlog phase
            gen = threading.Thread(target=_paced_generator, args=(inputs, seconds), daemon=True)
            gen.start()
            gen.join(timeout=seconds + 60)
            if gen.is_alive():
                raise RuntimeError("paced generator did not finish")
            query.processAllAvailable()
            progress = [json.loads(p.json) for p in query.recentProgress]
            run_id = str(query.runId)
        finally:
            query.stop()
    return _finish(spark, inputs, tracer, t_start, progress, run_id, pipeline_span)


def _paced_generator(inputs: EtlInputs, seconds: int) -> None:
    """Open loop: paced record k is due at t0 + k / PACED_RATE whether or
    not the pipeline keeps up. Every tick appends the records now due."""
    writer = StreamWriter(inputs.source)
    paced = inputs.records[inputs.backlog :]
    t0 = time.time() + PACED_TICK_S
    inputs.sched = [t0 + k / PACED_RATE for k in range(len(paced))]
    sent, tick = 0, 1
    while sent < len(paced):
        due_at = t0 + tick * PACED_TICK_S
        delay = due_at - time.time()
        if delay > 0:
            time.sleep(delay)
        upto = min(len(paced), round(tick * PACED_TICK_S * PACED_RATE))
        if upto > sent:
            writer.append(paced[sent:upto])
            now = time.time()
            inputs.written.append((now, inputs.backlog + upto))
            inputs.late_max_s = max(inputs.late_max_s, now - due_at)
            sent = upto
        tick += 1


# ---------------------------------------------------------------------------
# Read-back, correctness and metrics
# ---------------------------------------------------------------------------


def _read_route(dest: str):
    """Yield (data_dict, token) for every record in a destination stream."""
    for shard in sorted(os.listdir(dest)):
        sdir = os.path.join(dest, shard)
        if not shard.startswith("shard-") or not os.path.isdir(sdir):
            continue
        for fname in sorted(os.listdir(sdir)):
            if not fname.endswith(".jsonl"):
                continue
            m = _TOKEN_RE.match(fname)
            token = m.group(1) if m else None
            with open(os.path.join(sdir, fname), encoding="utf-8") as fh:
                for line in fh:
                    if line.strip():
                        yield json.loads(json.loads(line)["data"]), token


def _marker_time(dest: str, token: str | None) -> float | None:
    if token is None:
        return None
    path = os.path.join(dest, "_epochs", f"w-{token}")
    return os.path.getmtime(path) if os.path.exists(path) else None


def _strings(obj):
    if isinstance(obj, str):
        yield obj
    elif isinstance(obj, dict):
        for v in obj.values():
            yield from _strings(v)
    elif isinstance(obj, list):
        for v in obj:
            yield from _strings(v)


def _quarantined(dest_root: str, route_dirs: set[str], malformed: set[str]) -> int:
    """Malformed payloads persisted anywhere under the destination root
    other than the two route streams (a quarantine, in whatever layout
    the program chooses)."""
    found: set[str] = set()
    for dirpath, _dirs, files in os.walk(dest_root):
        if any(dirpath == d or dirpath.startswith(d + os.sep) for d in route_dirs):
            continue
        for fname in files:
            with open(os.path.join(dirpath, fname), encoding="utf-8", errors="replace") as fh:
                for line in fh:
                    line = line.rstrip("\n")
                    try:
                        values = set(_strings(json.loads(line)))
                    except ValueError:
                        values = {line}
                    found |= values & malformed
    return len(found)


def _ts(iso: str) -> float:
    return (
        datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def _epoch(token: str) -> int:
    return int(_EPOCH_RE.search(token).group(1))


def _finish(spark, inputs: EtlInputs, tracer: Tracer, t_start, progress, run_id, pipeline_span) -> dict:
    produced = inputs.records[: inputs.written[-1][1]]
    expected = {r.key: r.expected for r in produced if r.expected is not None}
    sched = dict(zip((r.key for r in inputs.records[inputs.backlog :]), inputs.sched))
    seen: dict[str, int] = {}
    errors: list[str] = []
    latencies: list[float] = []
    backlog_epochs: dict[int, int] = {}  # epoch -> backlog records it delivered
    marker_times: dict[tuple[str, str], float] = {}
    for route, dest in inputs.dests.items():
        for data, token in _read_route(dest):
            sid = data.get("session_id")
            seen[sid] = seen.get(sid, 0) + 1
            exp = expected.get(sid)
            got = (
                data.get("overall_product_quantity"),
                data.get("overall_in_shopping_cart"),
                data.get("total_different_products"),
            )
            if exp is None:
                errors.append(f"{route}: unexpected record {sid!r}")
                continue
            if exp.route != route:
                errors.append(f"{sid}: routed to {route}, expected {exp.route}")
            elif got != (
                exp.overall_product_quantity,
                exp.overall_in_shopping_cart,
                exp.total_different_products,
            ):
                errors.append(f"{sid}: T2-T4 {got} != expected")
            when = _marker_time(dest, token)
            if when is None:
                errors.append(f"{sid}: no durable-epoch marker for its file ({token})")
                continue
            marker_times[(route, token)] = when
            if sid in sched:
                latencies.append(when - sched[sid])
            else:
                backlog_epochs[_epoch(token)] = backlog_epochs.get(_epoch(token), 0) + 1
    dupes = [k for k, n in seen.items() if n > 1]
    missing = [k for k in expected if k not in seen]
    if dupes:
        errors.append(f"{len(dupes)} records delivered more than once, e.g. {dupes[0]}")
    if missing:
        errors.append(f"{len(missing)} well-formed records not delivered, e.g. {missing[0]}")
    delivered_ok = sum(1 for k in expected if seen.get(k) == 1)
    malformed = {r.payload for r in produced if r.expected is None}
    quarantined = _quarantined(
        os.path.join(inputs.work, "dest"), set(inputs.dests.values()), malformed
    )

    # Backlog phase: cold first epoch, then the warm drain rate.
    epoch_done: dict[int, float] = {}
    for (_route, token), when in marker_times.items():
        e = _epoch(token)
        epoch_done[e] = max(epoch_done.get(e, 0.0), when)
    first = min(epoch_done, default=None)
    last = max(backlog_epochs, default=None)
    metrics = {}
    if first is None or last is None or last == first or not latencies:
        errors.append("too few durable epochs to measure the run")
    else:
        warm = sum(n for e, n in backlog_epochs.items() if e != first)
        metrics = {
            "first_result_at": min(marker_times.values()),
            "total_s": epoch_done[last] - t_start,
            "throughput_per_s": warm / (epoch_done[last] - epoch_done[first]),
            "delivered_ratio": (delivered_ok + quarantined) / len(produced),
            **latency_summary(sorted(latencies)),
        }
    layers = _etl_layers(spark, inputs, tracer, progress, run_id, marker_times, pipeline_span)
    return {
        "metrics": metrics,
        "layers": layers,
        "attempted": len(produced),
        "failed": len(expected) - delivered_ok,
        "errors": errors,
        "counts": {
            "produced": len(produced),
            "well_formed": len(expected),
            "delivered_ok": delivered_ok,
            "malformed": len(malformed),
            "quarantined": quarantined,
            "latency_samples": len(latencies),
            "batches": sum(1 for p in progress if "addBatch" in p["durationMs"]),
        },
    }


_COMPONENTS = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
_COMPONENT_LAYER = {"latestOffset": "sources.kinesis_sim"}  # the rest: "streaming"


def _etl_layers(spark, inputs: EtlInputs, tracer: Tracer, progress, run_id, marker_times, pipeline_span) -> dict:
    """Per-layer numbers from streaming progress, the job/stage store and
    the epoch markers. Batch medians leave out the cold first batch
    (reported alone as streaming.first_batch_s); source cost is taken
    over the backlog phase and source lag over the paced phase. In a
    traced run, every batch is also laid out as spans."""
    batches = [p for p in progress if "addBatch" in p["durationMs"]]
    stores = SparkStores(spark)
    stages = stores.stages()
    by_batch: dict[int, list] = {}
    for job in stores.jobs():
        if job.group == run_id and job.description:
            m = re.search(r"batch = (\d+)", job.description)
            if m:
                by_batch.setdefault(int(m.group(1)), []).append(job)
    markers_by_batch: dict[int, list[tuple[str, float]]] = {}
    for (route, token), when in marker_times.items():
        markers_by_batch.setdefault(_epoch(token), []).append((route, when))

    rows = []
    for p in batches:
        d = p["durationMs"]
        t_trig = _ts(p["timestamp"])
        end = sum(sum(src["endOffset"].values()) for src in p["sources"] if src.get("endOffset"))
        avail = max([n for t, n in inputs.written if t <= t_trig] or [0])
        jobs = by_batch.get(p["batchId"], [])
        first_stage = ran_stages(jobs[0], stages)[:1] if jobs else []
        route_jobs = []
        for route, when in sorted(markers_by_batch.get(p["batchId"], []), key=lambda x: x[1]):
            done = [j for j in jobs if j.end is not None and j.end <= when]
            if done:
                route_jobs.append((route, done[-1], when))
        rows.append({
            "batch": p["batchId"],
            "phase": "backlog" if end <= inputs.backlog else "paced",
            "rows": p["numInputRows"],
            **{k: d.get(k, 0) for k in _COMPONENTS},
            "slack": d["triggerExecution"] - sum(d.get(k, 0) for k in _COMPONENTS),
            "triggerExecution": d["triggerExecution"],
            "lag": max(0, avail - end),
            "jobs": len(jobs),
            "stages": sum(len(ran_stages(j, stages)) for j in jobs),
            "read_task_s": first_stage[0].run_s / max(1, first_stage[0].num_tasks) if first_stage else None,
            "route_write_s": [when - job.start for _r, job, when in route_jobs],
            "commit_gap_s": [when - job.end for _r, job, when in route_jobs],
        })
        if tracer.enabled:
            _batch_spans(tracer, p, t_trig, route_jobs, pipeline_span)

    warm = rows[1:]
    drain = [r for r in warm if r["phase"] == "backlog"]
    paced = [r for r in warm if r["phase"] == "paced"]
    return {
        "kinesis_sim.latest_offset_ms_p50": p50(r["latestOffset"] for r in drain),
        "kinesis_sim.read_task_s_p50": p50(r["read_task_s"] for r in drain if r["read_task_s"] is not None),
        "kinesis_sim.records_per_batch_p50": p50(r["rows"] for r in drain),
        "kinesis_sim.source_lag_records_max": float(max((r["lag"] for r in paced), default=0)),
        "kinesis_sim.commit_gap_s_p50": p50(g for r in warm for g in r["commit_gap_s"]),
        "pipeline.add_batch_ms_p50": p50(r["addBatch"] for r in warm),
        "pipeline.jobs_per_batch": p50(r["jobs"] for r in warm),
        "pipeline.stages_per_batch": p50(r["stages"] for r in warm),
        "pipeline.route_write_s_p50": p50(w for r in warm for w in r["route_write_s"]),
        "streaming.wal_commit_ms_p50": p50(r["walCommit"] + r["commitOffsets"] for r in warm),
        "streaming.trigger_slack_ms_p50": p50(r["slack"] for r in warm),
        "streaming.first_batch_s": rows[0]["triggerExecution"] / 1000.0 if rows else 0.0,
        "generator.late_max_ms": inputs.late_max_s * 1000.0,
        "batch_table": rows,
    }


def _batch_spans(tracer: Tracer, p: dict, t_trig: float, route_jobs, parent) -> None:
    """One trigger as spans. The components before addBatch run from the
    trigger's start in the order listed; addBatch ends where the closing
    commitOffsets begins, so the unnamed slack sits just before it. The
    route write jobs and their publishes carry their own times, read
    from the job store and the epoch markers."""
    d = p["durationMs"]
    sec = {k: d.get(k, 0) / 1000.0 for k in _COMPONENTS}
    t_end = t_trig + d["triggerExecution"] / 1000.0
    trig = tracer.add(f"trigger {p['batchId']}", "streaming", t_trig, t_end, parent=parent)
    at = t_trig
    for comp in ("latestOffset", "walCommit", "getBatch", "queryPlanning"):
        tracer.add(comp, _COMPONENT_LAYER.get(comp, "streaming"), at, at + sec[comp], parent=trig)
        at += sec[comp]
    commit_at = t_end - sec["commitOffsets"]
    tracer.add("commitOffsets", "streaming", commit_at, t_end, parent=trig)
    add = tracer.add("addBatch", "streaming.pipeline", commit_at - sec["addBatch"], commit_at, parent=trig)
    for route, job, when in route_jobs:
        tracer.add(f"route write {route}", "streaming.pipeline.write_stages", job.start, job.end, parent=add)
        tracer.add(f"publish {route}", "sources.kinesis_sim", job.end, when, parent=add)
