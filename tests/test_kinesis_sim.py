"""Tests for the kinesis_sim custom Python DataSource (sources/kinesis_sim.py).

Covers the reference protocol mapping: shard routing by partition key
(producer:40-47), one read task per shard (consumer.py:53-94), the
get_records(Limit=N) per-batch fetch cap and TRIM_HORIZON vs LATEST
starting positions (consumer.py:76,115), and two-phase write commit.
"""

from __future__ import annotations

import json
import os
import time
import zlib

import pytest
from pyspark.sql import functions as F

from stream_ingestion_amazon_kinesis_spark.sources import kinesis_sim


@pytest.fixture()
def stream_dir(spark, tmp_path):
    kinesis_sim.register_format(spark)
    path = str(tmp_path / "stream")
    df = spark.range(900).select(
        F.concat(F.lit("sess-"), (F.col("id") % 53).cast("string")).alias(
            "partition_key"
        ),
        F.to_json(F.struct("id")).alias("data"),
    )
    (
        df.write.format("kinesis_sim")
        .option("path", path)
        .option("numShards", "4")
        .mode("overwrite")
        .save()
    )
    return path


def test_roundtrip_and_shard_routing(spark, stream_dir):
    back = spark.read.format("kinesis_sim").option("path", stream_dir).load()
    rows = back.collect()
    assert len(rows) == 900
    # One input partition per shard — the shard->task mapping.
    assert back.rdd.getNumPartitions() == 4
    # Every record landed on the shard its key hashes to (put_record
    # partition-key contract), so a key never straddles shards.
    for r in rows:
        expect = zlib.crc32(r.partition_key.encode()) % 4
        assert r.shard_id == f"shard-{expect:05d}"
    # Per-shard sequence numbers are dense from 0 (Kinesis monotone
    # sequence analog).
    seqs = (
        back.groupBy("shard_id")
        .agg(F.count("*").alias("n"), F.min("sequence_number").alias("lo"),
             F.max("sequence_number").alias("hi"))
        .collect()
    )
    for s in seqs:
        assert (s.lo, s.hi) == (0, s.n - 1)


def test_overwrite_replaces_stream(spark, stream_dir):
    df = spark.range(10).select(
        F.col("id").cast("string").alias("partition_key"),
        F.to_json(F.struct("id")).alias("data"),
    )
    (
        df.write.format("kinesis_sim")
        .option("path", stream_dir)
        .option("numShards", "4")
        .mode("overwrite")
        .save()
    )
    n = spark.read.format("kinesis_sim").option("path", stream_dir).load().count()
    assert n == 10


def _drain(spark, stream_dir, checkpoint, max_fetch, starting="TRIM_HORIZON"):
    """Run the micro-batch poll loop until the stream is drained, then
    return the query's progress history (the Spark analog of the
    reference's while-True poll with Limit=max_fetch)."""
    q = (
        spark.readStream.format("kinesis_sim")
        .option("path", stream_dir)
        .option("startingPosition", starting)
        .option("maxFetchRecordsPerShard", str(max_fetch))
        .load()
        .groupBy()
        .count()
        .writeStream.format("memory")
        .queryName("ksim_drain")
        .outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        target = 0 if starting == "LATEST" else 900
        while time.time() < deadline:
            got = spark.sql("select count from ksim_drain").collect()
            if got and got[0][0] == target:
                # one extra beat to confirm no further input arrives
                time.sleep(1.0)
                break
            time.sleep(0.2)
        progress = list(q.recentProgress)
    finally:
        q.stop()
    total = spark.sql("select count from ksim_drain").collect()
    return total[0][0] if total else 0, progress


def test_stream_fetch_cap_and_drain(spark, stream_dir, tmp_path):
    total, progress = _drain(spark, stream_dir, str(tmp_path / "ck"), max_fetch=100)
    assert total == 900
    per_batch = [p["numInputRows"] for p in progress]
    # Limit respected: no micro-batch exceeds shards * cap.
    assert per_batch and max(per_batch) <= 4 * 100
    # The cap forced pagination: more than one non-empty batch.
    assert sum(1 for n in per_batch if n > 0) >= 3


def test_stream_latest_starts_at_tail(spark, stream_dir, tmp_path):
    total, _ = _drain(
        spark, stream_dir, str(tmp_path / "ck2"), max_fetch=100, starting="LATEST"
    )
    assert total == 0


def test_stream_restart_resumes_from_checkpoint_exactly_once(spark, stream_dir, tmp_path):
    """Stop the stream mid-drain, restart with the same checkpoint: the
    custom source must resume from the committed per-shard offsets —
    every record delivered exactly once. This is the upgrade over the
    reference, whose iterator cursors live in process memory and whose
    restart re-reads everything from TRIM_HORIZON (consumer.py:76,
    187-190)."""
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt_resume")

    def start():
        return (
            spark.readStream.format("kinesis_sim")
            .option("path", stream_dir)
            .option("maxFetchRecordsPerShard", "60")
            .load()
            .writeStream.format("json")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )

    q = start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            got = spark.read.format("json").schema(
                "shard_id string, sequence_number long, partition_key string, data string"
            ).load(out).count() if os.path.isdir(out) else 0
            if got >= 200:  # mid-drain (total is 900)
                break
            time.sleep(0.2)
    finally:
        q.stop()

    q2 = start()
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            n = spark.read.format("json").schema(
                "shard_id string, sequence_number long, partition_key string, data string"
            ).load(out).count()
            if n == 900:
                time.sleep(1.0)
                break
            time.sleep(0.2)
    finally:
        q2.stop()

    back = spark.read.format("json").schema(
        "shard_id string, sequence_number long, partition_key string, data string"
    ).load(out)
    # exactly once: 900 rows, and every (shard, seq) slot exactly once
    assert back.count() == 900
    assert back.select("shard_id", "sequence_number").distinct().count() == 900


def test_dest_stream_pipeline_routes_sessions(spark, tmp_path, sf_dir):
    """Reference topology end-to-end: JSON session stream -> enrichment
    -> USA/International demux, destination side through the kinesis_sim
    custom sink (consumer.py:160-171)."""
    import json

    from pyspark.sql import functions as F

    from stream_ingestion_amazon_kinesis_spark.streaming.pipeline import (
        run_kinesis_sim_pipeline,
    )

    sessions = [
        {
            "session_id": f"s{i}",
            "country": "USA" if i % 3 == 0 else "DE",
            "browse_history": [
                {"product_code": "p1", "quantity": str(i % 5 + 1), "in_shopping_cart": i % 2 == 0}
            ],
        }
        for i in range(30)
    ]
    # Malformed (credit_limit is not a number) yet partly parsed: the
    # salvaged quantity "x" would fail T5's cast under ANSI, so the sink
    # must quarantine the record without enriching it.
    partial = json.dumps(
        {"session_id": "s-bad", "credit_limit": "n/a",
         "browse_history": [{"product_code": "p1", "quantity": "x"}]}
    )
    src = tmp_path / "sessions_in"
    src.mkdir()
    with open(src / "batch.json", "w") as fh:
        for rec in sessions:
            fh.write(json.dumps(rec) + "\n")
        fh.write(partial + "\n")

    dest = {
        "USA": str(tmp_path / "stream_usa"),
        "International": str(tmp_path / "stream_intl"),
    }
    q = run_kinesis_sim_pipeline(
        spark, str(src), dest, str(tmp_path / "ckpt"), await_all_available=True
    )
    q.stop()

    kinesis_sim.register_format(spark)
    usa = spark.read.format("kinesis_sim").option("path", dest["USA"]).load()
    intl = spark.read.format("kinesis_sim").option("path", dest["International"]).load()
    assert usa.count() == sum(1 for s in sessions if s["country"] == "USA")
    assert intl.count() == sum(1 for s in sessions if s["country"] != "USA")
    # partition key is the session id (put_record contract) and the
    # enrichment columns survived the JSON encode
    row = json.loads(usa.limit(1).collect()[0].data)
    assert {"overall_product_quantity", "overall_in_shopping_cart",
            "total_different_products"} <= set(row)
    keys = {r.partition_key for r in usa.select("partition_key").collect()}
    assert keys == {s["session_id"] for s in sessions if s["country"] == "USA"}
    bad = spark.read.format("kinesis_sim").option(
        "path", str(tmp_path / "_quarantine")
    ).load()
    assert [r.data for r in bad.collect()] == [partial]


def test_registered_roundtrip_query_matches_parquet(spark, sf_dir):
    from stream_ingestion_amazon_kinesis_spark.plans.registry import QUERIES, _load_all
    from stream_ingestion_amazon_kinesis_spark.sources.catalog import load_table

    _load_all()
    out = {
        r.event_type: (r.n_records, r.n_users, r.max_event_id)
        for r in QUERIES["kinesis_sim_roundtrip"].fn(spark, sf_dir).collect()
    }
    events = load_table(spark, sf_dir, "events")
    exp = {
        r.event_type: (r.n_records, r.n_users, r.max_event_id)
        for r in events.groupBy("event_type")
        .agg(
            F.count("*").alias("n_records"),
            F.count_distinct("user_id").alias("n_users"),
            F.max("event_id").alias("max_event_id"),
        )
        .collect()
    }
    assert out == exp


def test_append_preserves_sequence_numbers(spark, tmp_path):
    """Sequence numbers are file-name-ordered, so every appended part
    file must sort AFTER all existing ones (commit assigns zero-padded
    per-shard indices). Under the old uuid-only naming a second append
    could sort first and renumber already-consumed records — breaking
    checkpointed offsets (duplicate + skip)."""
    stream = str(tmp_path / "s")
    for i in range(3):
        df = spark.createDataFrame(
            [("samekey", f"payload-{i}")], "partition_key string, data string"
        )
        (
            df.write.format("kinesis_sim")
            .option("path", stream)
            .option("numShards", "1")
            .mode("append")
            .save()
        )
    rows = (
        spark.read.format("kinesis_sim")
        .option("path", stream)
        .load()
        .orderBy("sequence_number")
        .collect()
    )
    assert [(r["sequence_number"], r["data"]) for r in rows] == [
        (0, "payload-0"),
        (1, "payload-1"),
        (2, "payload-2"),
    ]


def test_append_to_legacy_uuid_stream_migrates_and_preserves_order(spark, tmp_path):
    """VERDICT r5 (low): a stream written BEFORE the zero-padded-index
    fix holds uuid-named part files that new indexed names can sort
    before, renumbering offsets a checkpointed reader already consumed.
    commit() must migrate legacy names to canonical indices (preserving
    the current record order) before appending, so the append lands
    strictly after."""
    kinesis_sim.register_format(spark)
    stream = str(tmp_path / "legacy")
    shard = os.path.join(stream, "shard-00000")
    os.makedirs(shard)
    # Two legacy (pre-fix) uuid-named files; current sorted order aaaa
    # then ffff defines sequence numbers 0 and 1.
    with open(os.path.join(shard, "part-aaaa11112222.jsonl"), "w") as fh:
        fh.write('{"partitionKey": "k", "data": "legacy-0"}\n')
    with open(os.path.join(shard, "part-ffff33334444.jsonl"), "w") as fh:
        fh.write('{"partitionKey": "k", "data": "legacy-1"}\n')

    df = spark.createDataFrame(
        [("k", "appended-2")], "partition_key string, data string"
    )
    (
        df.write.format("kinesis_sim")
        .option("path", stream)
        .option("numShards", "1")
        .mode("append")
        .save()
    )

    # Every file now carries a canonical zero-padded index.
    names = sorted(os.listdir(shard))
    assert all(kinesis_sim._INDEXED_RE.match(n) for n in names), names
    # Record order (== checkpointed offset space) is unchanged; the
    # append sorts after both legacy records.
    rows = (
        spark.read.format("kinesis_sim")
        .option("path", stream)
        .load()
        .orderBy("sequence_number")
        .collect()
    )
    assert [(r["sequence_number"], r["data"]) for r in rows] == [
        (0, "legacy-0"),
        (1, "legacy-1"),
        (2, "appended-2"),
    ]


def test_stale_checkpoint_offsets_past_tail_fail_loudly(spark, tmp_path):
    """VERDICT r5: a checkpointed offset beyond a shard's tail means the
    stream was regenerated/truncated; the reader must refuse (silently
    skipping up to the stale offset breaks exactly-once)."""
    import shutil

    kinesis_sim.register_format(spark)
    stream = str(tmp_path / "s")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def write_stream(n):
        df = spark.range(n).select(
            F.lit("k").alias("partition_key"),
            F.col("id").cast("string").alias("data"),
        )
        (
            df.coalesce(1)
            .write.format("kinesis_sim")
            .option("path", stream)
            .option("numShards", "1")
            .mode("overwrite")
            .save()
        )

    write_stream(10)
    q = (
        spark.readStream.format("kinesis_sim")
        .option("path", stream)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # Regenerate the stream SHORTER at the same path -> checkpointed
    # offset (10) now exceeds the tail (3).
    shutil.rmtree(stream)
    write_stream(3)
    q2 = (
        spark.readStream.format("kinesis_sim")
        .option("path", stream)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="exceeds the shard tail"):
        q2.awaitTermination(120)
        q2.processAllAvailable()


def test_commit_token_makes_appends_idempotent(spark, tmp_path):
    """Round-7 exactly-once hardening: a write carrying commitToken T
    (the streaming sink's (checkpoint-scope, epoch) identity) converges
    to exactly one copy across retries — (a) a retry after the writer
    done-marker landed publishes nothing; (b) a retry after a TORN
    attempt (marker missing, files published) rolls the token's files
    back before republishing at the same sequence numbers; (c) a
    different token appends normally."""
    import json as _json

    kinesis_sim.register_format(spark)
    path = str(tmp_path / "stream")

    def write(token):
        df = spark.range(10).select(
            F.concat(F.lit("k-"), F.col("id").cast("string")).alias("partition_key"),
            F.to_json(F.struct("id")).alias("data"),
        )
        (
            df.write.format("kinesis_sim")
            .option("path", path)
            .option("numShards", "4")
            .option("commitToken", token)
            .mode("append")
            .save()
        )

    def n_records():
        return (
            spark.read.format("kinesis_sim").option("path", path).load().count()
        )

    write("scopeAe1")
    assert n_records() == 10
    marker = os.path.join(path, "_epochs", "w-scopeAe1")
    assert os.path.exists(marker)

    # (a) full retry with the marker present: publish skipped
    write("scopeAe1")
    assert n_records() == 10

    # (b) torn attempt: marker gone, token files still published — the
    # retry must roll them back and republish, not double-append
    os.remove(marker)
    token_files_before = [
        f
        for d in kinesis_sim._shard_dirs(path)
        for f in kinesis_sim._shard_files(d)
        if "-scopeAe1-" in os.path.basename(f)
    ]
    assert token_files_before  # the token is actually in the file names
    write("scopeAe1")
    assert n_records() == 10
    assert os.path.exists(marker)

    # (c) a new token appends
    write("scopeAe2")
    assert n_records() == 20


def test_text_stager_matches_datasource_format(spark, tmp_path):
    """The sink's stager (Spark's text writer, JVM routing and envelope)
    and the DataSource writer put every record on the same shard with
    the same decoded (partitionKey, data), for text JSON must escape, a
    malformed record's raw text, and a NULL key (str(None) == "None")."""
    kinesis_sim.register_format(spark)
    malformed = '{"session_id": "s-bad", '
    rows = [
        ("s-1", '{"city": "Zürich 東京"}'),
        ("ключ-ü", 'quote " backslash \\ newline \n tab \t end'),
        (malformed, malformed),
        (None, '{"session_id": null}'),
        ("s-null-data", None),
    ] + [(f"k{i}", f"v{i}") for i in range(40)]
    df = spark.createDataFrame(rows, "partition_key string, data string")
    via_source, via_stager = str(tmp_path / "source"), str(tmp_path / "stager")
    df.write.format("kinesis_sim").option("path", via_source).mode("append").save()
    kinesis_sim.write_streams(
        df.select(F.lit(0).alias("s"), "partition_key", "data"), [via_stager], "tok"
    )

    def records(path):
        back = spark.read.format("kinesis_sim").option("path", path).load()
        return sorted(
            (r.shard_id, r.partition_key, r.data) for r in back.collect()
        )

    got = records(via_stager)
    assert got == records(via_source)
    assert len(got) == len(rows)
    assert {k for _s, k, _d in got} >= {"None", malformed, "ключ-ü"}
    assert len({s for s, _k, _d in got}) == 4


def test_stream_reader_reads_only_new_files_and_offsets_stay_dense(tmp_path, monkeypatch):
    """latestOffset counts each published file once, however many
    triggers see it, and a shard that gains files between triggers
    still yields every sequence number exactly once."""
    path = str(tmp_path / "stream")
    added = 0

    def add_file(shard, n):
        nonlocal added
        d = os.path.join(path, f"shard-{shard:05d}")
        os.makedirs(d, exist_ok=True)
        idx = len(os.listdir(d))
        with open(os.path.join(d, f"part-{idx:08d}-t.jsonl"), "w", encoding="utf-8") as fh:
            for i in range(n):
                fh.write(json.dumps({"partitionKey": f"k{shard}-{idx}-{i}", "data": "x"}) + "\n")
        added += 1

    counted = []
    file_length = kinesis_sim._file_length
    monkeypatch.setattr(
        kinesis_sim, "_file_length", lambda f: counted.append(f) or file_length(f)
    )
    add_file(0, 3)
    add_file(1, 2)
    reader = kinesis_sim.KinesisSimStreamReader(path, "TRIM_HORIZON", 2)
    start, seqs, triggers = reader.initialOffset(), {}, 0
    while True:
        end = reader.latestOffset()
        triggers += 1
        if end == start:
            break
        for part in reader.partitions(start, end):
            for batch in reader.read(part):
                cols = batch.to_pydict()
                for sid, seq in zip(cols["shard_id"], cols["sequence_number"]):
                    seqs.setdefault(sid, []).append(seq)
        start = end
        if triggers <= 2:
            add_file(0, 2)  # shard 0 grows while it is being drained
    assert seqs == {"shard-00000": list(range(7)), "shard-00001": [0, 1]}
    # latestOffset counted every file once; the 2 more are the stale-
    # checkpoint guard's own full count on the first partitions() call.
    assert len(set(counted)) == added
    assert len(counted) == added + 2


def test_slice_read_decodes_only_its_records(tmp_path):
    d = tmp_path / "shard-00000"
    d.mkdir()
    (d / "part-00000000-t.jsonl").write_text(
        "not json: counted, never decoded\n"
        + "".join(json.dumps({"partitionKey": f"k{i}", "data": "x"}) + "\n" for i in (1, 2))
    )
    got = list(kinesis_sim._iter_shard_records(str(d), 1, 2))
    assert got == [(1, {"partitionKey": "k1", "data": "x"})]
