"""Structured Streaming pipelines — the reference's runtime identity.

The reference is a hand-rolled poll loop: enumerate shards, get_records
per shard forever, transform each record in Python, put_record it to
one of two destination streams, log and drop malformed records, with
in-memory cursors that vanish on restart (consumer.py:53-94, 108-195 —
at-least-once with full TRIM_HORIZON replay). This module is the same
pipeline as ONE logical plan, incrementalized by the micro-batch engine:

- source: a kinesis_sim stream (`read_session_stream_kinesis_sim`) or a
  directory of JSON records (`read_session_stream`), both parsed
  PERMISSIVE so a malformed record keeps its raw text in
  `_corrupt_record`.
- transform: the exact T1-T5 enrichment from operators/enrichment.py —
  same code object as the batch path, which is what makes streaming
  results oracle-checkable by batch replay.
- sink: `kinesis_sim_sink`, a `foreachBatch` demux that tags every row
  with its destination stream — USA, International, or the
  `_quarantine` stream beside them for malformed records. Each epoch is
  staged by Spark's text writer in ONE job and published by the driver
  (the reference's per-record put_record(StreamName=...),
  consumer.py:160-171).
- exactly-once: the checkpoint's offset WAL replays an unfinished epoch,
  and the publish token `<checkpoint-scope>e<epoch>` makes the replay
  publish each stream exactly once — replacing the reference's
  restart-equals-replay behavior (consumer.py:76).

Shard -> partition mapping: each source shard is read by its own task;
a record's destination shard is crc32(session_id) % 4, the
put_record(PartitionKey=session_id) routing (consumer.py:170).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.enrichment import enrich_sessions
from ..sources.json_source import (
    CORRUPT_COL,
    PERMISSIVE,
    SESSION_SCHEMA_WITH_CORRUPT,
)


def produce_records(
    spark: SparkSession,
    records: list[dict],
    stream_dir: str,
    partition_key: str = "session_id",
) -> None:
    """Producer twin of the reference's put_record loop
    (producer_from_cli_my_modifications.py:44-52): append records as a
    new JSON file in the stream directory, repartitioned by the
    partition key so per-key records land together — the file-source
    analog of PartitionKey shard routing."""
    import json as _json
    import uuid as _uuid

    rows = [( _json.dumps(r), r.get(partition_key, "")) for r in records]
    df = spark.createDataFrame(rows, "value string, pk string")
    (
        df.repartition(F.col("pk"))
        .select("value")
        .write.mode("append")
        .text(os.path.join(stream_dir, f"batch-{_uuid.uuid4().hex[:8]}"))
    )


def read_session_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """Streaming source of JSON session records.

    File source here; swapping `.format("kinesis")` / `.format("kafka")`
    with the matching options yields the same downstream plan.
    """
    return (
        spark.readStream.schema(SESSION_SCHEMA_WITH_CORRUPT)
        .options(**PERMISSIVE)
        .json(input_dir)
    )


# ---------------------------------------------------------------------------
# Event-time streaming over the events table shape (G12-G15): the
# streaming twins of operators/event_time.py, validated by batch replay.
# ---------------------------------------------------------------------------

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-backed event stream. `max_files_per_trigger` throttles each
    micro-batch to N files — the file-source twin of a Kinesis fetch
    cap, used by the state-growth soak to replay a corpus as a long
    sequence of small micro-batches."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(input_dir)


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """G12+G13: watermarked tumbling-window aggregate. In append mode a
    window emits once the watermark passes its end; rows later than the
    watermark are dropped — the late-data policy the reference cannot
    express (it replays everything from TRIM_HORIZON instead)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def purchase_click_interval_join(
    purchases: DataFrame,
    clicks: DataFrame,
    max_gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """G4 streaming: stream-stream inner join with a time-interval
    condition — each purchase pairs with the same user's clicks from the
    preceding `max_gap`. Both sides carry watermarks so the join state
    is bounded: a click older than (watermark + gap) can never match and
    is evicted. The reference cannot express any cross-record operation,
    let alone a windowed one."""
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", watermark)
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", watermark)
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {max_gap}")),
    ).select("purchase_id", "click_id", F.col("p_user").alias("user_id"), "p_ts", "c_ts")


def dedup_event_stream(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """G14: keyed streaming dedup on event_id. State is bounded by the
    watermark — duplicates arriving within the watermark horizon are
    dropped exactly-once across restarts (vs the reference, which
    re-emits every record on restart)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_to_memory_sink(df: DataFrame, name: str, output_mode: str = "append"):
    """Drive a bounded streaming query to completion synchronously into
    an in-memory table (test/debug harness)."""
    query = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    query.processAllAvailable()
    query.stop()
    return query


def quarantine_stream(dest_streams: dict[str, str]) -> str:
    """The stream that receives malformed records: `_quarantine` in the
    directory that holds the USA destination stream."""
    return os.path.join(
        os.path.dirname(os.path.abspath(dest_streams["USA"])), "_quarantine"
    )


def kinesis_sim_sink(dest_streams: dict[str, str], run_scope: str = "default"):
    """foreachBatch body: the reference's demux (consumer.py:160-185:
    put_record(StreamName=dest_streams[route], PartitionKey=session_id),
    route 'USA' when country == 'USA' and 'International' otherwise,
    malformed records logged and dropped), staged by Spark's text writer
    in ONE job per epoch and published by the driver
    (`kinesis_sim.write_streams`). Every row carries its destination
    stream; a malformed record goes to `quarantine_stream(dest_streams)`
    with its raw text as both partition key and payload, instead of
    being dropped. `dest_streams` maps 'USA'/'International' to stream
    directories; every destination has 4 shards.

    Epoch retries are idempotent through the publish token
    `<run_scope>e<epoch>`: for each stream, the publish does nothing
    once the stream's done-marker exists, and otherwise rolls back a
    torn publish of the same token before republishing. The token is
    scoped to the CHECKPOINT identity (run_scope) because epoch ids
    restart at 0 under a fresh checkpoint: an unscoped token from an
    earlier run into the same dest would silently skip the new run's
    first epoch. The kill -9 drills in tests/test_cli.py crash the
    driver at every step of this protocol."""
    usa = dest_streams["USA"]
    streams = [usa, dest_streams["International"], quarantine_stream(dest_streams)]

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        from ..sources.kinesis_sim import _consume_killpoint, write_streams

        # kill -9 drill points: torn WAL with nothing / every stream
        # published. publish_stream holds the points in between. Armed
        # by files in the USA stream dir; no-ops in normal operation.
        _consume_killpoint(usa, "_killpoint_batch_start")
        bad = F.col(CORRUPT_COL).isNotNull()
        enriched = enrich_sessions(batch)
        # S4 JSON encode inline (json_source.to_json_records semantics):
        # ISO-8601 timestamps native to to_json. The enrichment collapses
        # into the ELSE branch of the `data` CASE, so a malformed row's
        # partly parsed fields never reach T5's cast, which would reject
        # them under ANSI.
        payload = F.to_json(
            F.struct(*[c for c in enriched.columns if c != CORRUPT_COL])
        )
        write_streams(
            enriched.select(
                F.when(bad, F.lit(2))
                .when(F.col("country") == "USA", F.lit(0))
                .otherwise(F.lit(1))
                .alias("s"),
                F.when(bad, F.col(CORRUPT_COL))
                .otherwise(F.col("session_id"))
                .alias("partition_key"),
                F.when(bad, F.col(CORRUPT_COL)).otherwise(payload).alias("data"),
            ),
            streams,
            f"{run_scope}e{epoch_id:020d}",
        )
        _consume_killpoint(usa, "_killpoint_after_routes")

    return write_batch


def read_session_stream_kinesis_sim(
    spark: SparkSession, stream_dir: str
) -> DataFrame:
    """Session records from a kinesis_sim SOURCE stream: the custom
    DataSource yields (shard_id, sequence_number, partition_key, data);
    the JSON payload is parsed PERMISSIVE into the session schema with
    the corrupt column, so downstream sinks see the exact same shape as
    the file-source path (S3 JSON decode, consumer.py:118)."""
    from ..sources.kinesis_sim import register_format

    register_format(spark)
    raw = (
        spark.readStream.format("kinesis_sim").option("path", stream_dir).load()
    )
    return raw.select(
        F.from_json("data", SESSION_SCHEMA_WITH_CORRUPT, PERMISSIVE).alias("r")
    ).select("r.*")


def run_kinesis_sim_pipeline(
    spark: SparkSession,
    input_dir: str,
    dest_streams: dict[str, str],
    checkpoint_dir: str,
    await_all_available: bool = False,
    source_format: str = "json",
):
    """The reference's full topology — source stream -> per-record
    enrichment -> keyed demux to two destination streams plus the
    quarantine — with the destination side going through the kinesis_sim
    custom sink.
    `source_format="kinesis_sim"` reads the source from a kinesis_sim
    stream directory instead of a JSON file stream (the CLI pairing
    with `produce`)."""
    if source_format not in ("json", "kinesis_sim"):
        raise ValueError(
            f"source_format must be 'json' or 'kinesis_sim', "
            f"got {source_format!r}"
        )
    for path in dest_streams.values():
        os.makedirs(path, exist_ok=True)
    if source_format == "kinesis_sim":
        stream = read_session_stream_kinesis_sim(spark, input_dir)
    else:
        stream = read_session_stream(spark, input_dir)
    # commitToken scope = the checkpoint path: one checkpoint == one
    # monotone epoch-id space, so done-markers from a different (e.g.
    # fresh) checkpoint can never suppress this run's writes.
    scope = hashlib.sha256(
        os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:12]
    query = (
        stream.writeStream.foreachBatch(
            kinesis_sim_sink(dest_streams, run_scope=scope)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="0 seconds")
        .start()
    )
    if await_all_available:
        query.processAllAvailable()
    return query
