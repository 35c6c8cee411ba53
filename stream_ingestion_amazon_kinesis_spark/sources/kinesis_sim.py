"""Kinesis-simulating custom Python DataSource (PySpark 4 DataSource API).

The reference drives Kinesis imperatively: paginated ``list_shards``
(consumer.py:53-94), a TRIM_HORIZON iterator per shard, a
``get_records(Limit=200)`` poll loop that follows ``NextShardIterator``
(consumer.py:108-195), and ``put_record(PartitionKey=session_id)`` on
the produce side (producer_from_cli_my_modifications.py:40-47). This
module re-expresses that protocol in Spark's own source/sink contracts
instead of a driver-side loop:

- shard          -> ``InputPartition``  (one read task per shard; the
                    shard LISTING is driver-side metadata, exactly like
                    list_shards pagination)
- shard iterator -> streaming offset (per-shard record index, persisted
                    in the checkpoint rather than in process memory)
- Limit=200      -> ``maxFetchRecordsPerShard`` cap applied per shard
                    per micro-batch in ``latestOffset``
- TRIM_HORIZON / LATEST -> ``startingPosition`` option handled in
                    ``initialOffset``
- put_record(PartitionKey=k) -> rows routed to ``crc32(k) % num_shards``
                    and staged, then published by the driver instead of
                    one HTTP call per record

On-disk stream layout (a "stream" is a directory):

    <stream>/shard-00000/part-<index>-[<commitToken>-]<12 hex>.jsonl
    <stream>/shard-00001/part-...
    <stream>/_epochs/w-<commitToken>      done-marker of a token's publish

Each line is one record envelope: ``{"partitionKey": str, "data": str}``.
A record's sequence number is its 0-based position within the shard
(part files ordered by name), mirroring Kinesis' monotone per-shard
sequence numbers.

Two write paths share that format and one publish protocol
(``publish_stream``): ``format("kinesis_sim")`` batch writes stage part
files from Python tasks and publish on the DataSource driver commit;
``write_streams``, the streaming demux sink's path, stages several
streams in one job with Spark's built-in text writer and publishes from
the calling driver process.

Everything inside reader/writer methods is stdlib-only so the pickled
class works on any executor without the package installed.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
import zlib
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

SCHEMA_DDL = (
    "shard_id string, sequence_number bigint, partition_key string, data string"
)


def _shard_dirs(path: str) -> list[str]:
    """Driver-side shard listing — the list_shards analog. Sorted so
    shard ordering (and thus partition ids) is deterministic."""
    if not os.path.isdir(path):
        raise FileNotFoundError(f"kinesis_sim stream directory not found: {path}")
    return sorted(
        os.path.join(path, d)
        for d in os.listdir(path)
        if d.startswith("shard-") and os.path.isdir(os.path.join(path, d))
    )


# Committed part files carry a zero-padded per-shard index so appends
# always sort after existing files; anything else is a legacy name that
# publish_stream migrates before appending.
_INDEXED_RE = re.compile(r"^part-\d{8}-")


def _shard_files(shard_dir: str) -> list[str]:
    return sorted(
        os.path.join(shard_dir, f)
        for f in os.listdir(shard_dir)
        if f.endswith(".jsonl")
    )


def _iter_shard_records(shard_dir: str, start: int, end: int):
    """Yield (seq, envelope_dict) for sequence numbers [start, end)
    (end -1 = to the shard's tail), across the shard's part files in
    name order — the per-shard sequence-number space. Records below
    `start` are counted, not decoded."""
    seq = 0
    for fpath in _shard_files(shard_dir):
        with open(fpath, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                if 0 <= end <= seq:
                    return
                if seq >= start:
                    yield seq, json.loads(line)
                seq += 1


def _file_length(fpath: str) -> int:
    with open(fpath, encoding="utf-8") as fh:
        return sum(1 for line in fh if line.strip())


def _shard_length(shard_dir: str) -> int:
    return sum(_file_length(f) for f in _shard_files(shard_dir))


@dataclass
class ShardPartition(InputPartition):
    """One shard (slice) == one Spark read task."""

    shard_dir: str
    start: int  # inclusive record index
    end: int  # exclusive; -1 = to end of shard


def _read_shard(part: ShardPartition):
    """Yield the slice as Arrow RecordBatches (the DataSource API's fast
    path: one columnar batch crosses the Python->JVM boundary instead of
    per-row pickled tuples — ~3x on million-record shards). Falls back
    to row tuples if pyarrow is unavailable."""
    shard_id = os.path.basename(part.shard_dir)

    def rows():
        for seq, env in _iter_shard_records(part.shard_dir, part.start, part.end):
            yield (shard_id, seq, env.get("partitionKey"), env.get("data"))

    try:
        import pyarrow as pa
    except ImportError:  # pragma: no cover - pyarrow is in the base image
        yield from rows()
        return

    schema = pa.schema(
        [
            ("shard_id", pa.string()),
            ("sequence_number", pa.int64()),
            ("partition_key", pa.string()),
            ("data", pa.string()),
        ]
    )
    buf = []
    for row in rows():
        buf.append(row)
        if len(buf) >= 10_000:
            yield pa.RecordBatch.from_arrays(
                [pa.array(col) for col in zip(*buf)], schema=schema
            )
            buf = []
    if buf:
        yield pa.RecordBatch.from_arrays(
            [pa.array(col) for col in zip(*buf)], schema=schema
        )


class KinesisSimBatchReader(DataSourceReader):
    def __init__(self, path: str):
        self.path = path

    def partitions(self):
        return [ShardPartition(d, 0, -1) for d in _shard_dirs(self.path)]

    def read(self, partition: ShardPartition):
        return _read_shard(partition)


class KinesisSimStreamReader(DataSourceStreamReader):
    """Micro-batch reader whose offset is the per-shard record index —
    the shard-iterator positions the reference keeps in process memory
    (consumer.py:189-190), made durable by the checkpoint instead.
    """

    def __init__(self, path: str, starting_position: str, max_fetch: int):
        self.path = path
        self.starting_position = starting_position
        self.max_fetch = max_fetch
        # Record count per part file, keyed by (path, size): a published
        # file never changes under its name, so each trigger reads only
        # the files that appeared since the previous one.
        self._file_lengths: dict[tuple[str, int], int] = {}

    def _shard_tails(self) -> dict[str, int]:
        """Each shard's record count, from the per-file cache. Entries of
        files no longer listed drop out, so the cache tracks the stream's
        current file set."""
        known, self._file_lengths = self._file_lengths, {}
        tails = {}
        for d in _shard_dirs(self.path):
            n = 0
            for f in _shard_files(d):
                key = (f, os.path.getsize(f))
                length = known.get(key)
                if length is None:
                    length = _file_length(f)
                self._file_lengths[key] = length
                n += length
            tails[os.path.basename(d)] = n
        return tails

    def initialOffset(self) -> dict:
        # TRIM_HORIZON -> start of every shard; LATEST -> current tail.
        if self.starting_position == "LATEST":
            return self._shard_tails()
        return {os.path.basename(d): 0 for d in _shard_dirs(self.path)}

    def latestOffset(self) -> dict:
        # Advance each shard by at most max_fetch records — the
        # get_records(Limit=200) cap, applied per shard per micro-batch.
        # The cursor lives on self between calls; after a checkpoint
        # restart it re-syncs from the engine-provided start offset in
        # partitions() (one empty batch at worst).
        cur = getattr(self, "_cursor", None)
        if cur is None:
            cur = self.initialOffset()
        out = {
            sid: min(tail, cur.get(sid, 0) + self.max_fetch)
            for sid, tail in self._shard_tails().items()
        }
        self._cursor = out
        return out

    def partitions(self, start: dict, end: dict):
        # Stale-checkpoint guard (checked once, on the first engine-
        # provided offset after construction — i.e. at restart): a
        # checkpointed offset PAST a shard's tail means the stream was
        # regenerated/truncated since the checkpoint was written.
        # Proceeding would silently skip every record below the stale
        # offset; real Kinesis raises the same way when a stored shard
        # iterator no longer resolves. O(stream) scan once per restart.
        if not getattr(self, "_start_validated", False):
            self._start_validated = True
            for d in _shard_dirs(self.path):
                sid = os.path.basename(d)
                s = start.get(sid, 0)
                tail = _shard_length(d)
                if s > tail:
                    raise RuntimeError(
                        f"kinesis_sim: checkpointed offset {s} for "
                        f"{sid} exceeds the shard tail ({tail} records) "
                        f"in {self.path} — the stream was regenerated or "
                        "truncated since this checkpoint was written. "
                        "Delete the checkpoint (full reprocess) or "
                        "restore the original stream; refusing to "
                        "silently skip records."
                    )
        # Re-sync the rate-limit cursor with the engine's view — after a
        # restart the checkpointed start can be ahead of our fresh cursor.
        cur = getattr(self, "_cursor", None) or {}
        self._cursor = {
            sid: max(cur.get(sid, 0), start.get(sid, 0), end.get(sid, 0))
            for sid in set(cur) | set(start) | set(end)
        }
        parts = []
        for d in _shard_dirs(self.path):
            sid = os.path.basename(d)
            s, e = start.get(sid, 0), end.get(sid, 0)
            if e > s:
                parts.append(ShardPartition(d, s, e))
        # A batch where no shard advanced still needs >=1 (empty) part.
        return parts or [ShardPartition(_shard_dirs(self.path)[0], 0, 0)]

    def read(self, partition: ShardPartition):
        return _read_shard(partition)

    def commit(self, end: dict) -> None:
        # Offsets are recomputable from the checkpoint; nothing to do —
        # like Kinesis itself, the "stream" retains records regardless.
        pass


def _consume_killpoint(stream_dir: str, name: str) -> None:
    """kill -9 chaos-drill hook: a file named `name` in the stream dir
    makes the calling code deliver SIGKILL to the etl driver (pid from
    SPARK_GRAFT_DRIVER_PID, set by __main__.main) AND to the calling
    process at this exact point — a genuine uncontrolled death, unlike
    the exception failpoint (which unwinds). Single-shot:
    the file is consumed first, so the restarted run proceeds. Test-only;
    two os.path.exists misses per call in normal operation."""
    import signal

    p = os.path.join(stream_dir, name)
    if not os.path.exists(p):
        return
    os.remove(p)
    pid = os.environ.get("SPARK_GRAFT_DRIVER_PID")
    if pid and int(pid) != os.getpid():
        try:
            os.kill(int(pid), signal.SIGKILL)
        except (OSError, ValueError):
            pass
    os.kill(os.getpid(), signal.SIGKILL)


def _remove_staged(tmp_paths) -> None:
    for tmp in tmp_paths:
        if os.path.exists(tmp):
            os.remove(tmp)


def _drop_empty_staging(stream: str) -> None:
    staging = os.path.join(stream, "_staging")
    if os.path.isdir(staging) and not os.listdir(staging):
        os.rmdir(staging)


def publish_stream(stream: str, files: list, token: str | None) -> None:
    """Publish staged part files into `stream`: the one commit protocol
    of every kinesis_sim write. `files` holds (shard, staged path) pairs;
    each file is moved to shard-<shard>/part-<index>-[<token>-]<12 hex>.jsonl.
    A stream with no staged files publishes nothing.

    `token` is the idempotence token for epoch retries (the streaming
    sink's <checkpoint-scope>e<epoch>): the publish embeds it in file
    names, rolls back a torn previous attempt of the SAME token first,
    and records the `_epochs/w-<token>` done-marker after — so a retried
    epoch converges to exactly one copy in the stream no matter where
    the previous attempt died. None (plain batch writes) appends."""
    if not files:
        return
    # Crash-injection failpoint for the exactly-once tests: a file
    # named _failpoint_before_commit in the stream dir makes this
    # publish die AFTER the files landed in staging but BEFORE any of
    # them is published — the torn-write moment. Single-shot (the file
    # is consumed) and file-based because the DataSource commit runs in
    # a separate Python worker process where a test's monkeypatch/env
    # can't reach. No-op in normal operation.
    failpoint = os.path.join(stream, "_failpoint_before_commit")
    if os.path.exists(failpoint):
        os.remove(failpoint)
        raise RuntimeError("kinesis_sim failpoint: injected crash before commit")
    # kill -9 drill points: staged, nothing published yet / torn
    # mid-publish / this stream done, the next not started. See
    # _consume_killpoint.
    _consume_killpoint(stream, "_killpoint_before_publish")
    kill_mid_publish = os.path.exists(os.path.join(stream, "_killpoint_mid_publish"))
    done_marker = os.path.join(stream, "_epochs", f"w-{token}") if token else None
    if done_marker and os.path.exists(done_marker):
        # This exact (checkpoint-scope, epoch) already published to
        # this stream in a previous attempt that died before the
        # epoch committed: drop the retry's staged files, publish
        # nothing — the stream already holds exactly one copy.
        _remove_staged(tmp for _shard, tmp in files)
        return
    os.makedirs(stream, exist_ok=True)
    if token:
        # Roll back a TORN previous attempt of this same token: any
        # published file carrying the token sits at its shard's tail
        # (it was appended by the dead attempt and the epoch never
        # committed), so deleting it restores the pre-epoch state and
        # the republish below lands at the same sequence numbers.
        for d in _shard_dirs(stream):
            for f in _shard_files(d):
                if f"-{token}-" in os.path.basename(f):
                    os.remove(f)
    # Sequence numbers are defined by FILE-NAME order within a shard
    # (_iter_shard_records), so appended files MUST sort after every
    # existing file or a later append would renumber records a
    # checkpointed reader already consumed (caught as a real
    # duplicate+skip in the round-4 etl incremental-resume test: a
    # lower-sorting uuid part file shifted the committed offsets).
    # Each new file therefore gets a zero-padded per-shard index =
    # count of existing files + arrival order; the random suffix
    # keeps concurrent committers collision-free, and zero-padded
    # indices always sort after lower ones regardless of suffix.
    # Legacy migration: streams written BEFORE the zero-padded-index
    # fix hold uuid-named parts (part-<taskid>.jsonl) that new
    # indexed names can sort BEFORE (e.g. part-00000002-x <
    # part-3fa9...), renumbering offsets a checkpointed reader has
    # already consumed — the same duplicate/skip bug the index fix
    # closed, alive on legacy data. Before appending, rename every
    # existing file to its canonical index in the CURRENT sorted
    # order (the order consumers have been reading), which preserves
    # all record positions and guarantees appends sort after.
    next_idx: dict[int, int] = {}
    for shard, tmp in files:
        shard_dir = os.path.join(stream, f"shard-{shard:05d}")
        os.makedirs(shard_dir, exist_ok=True)
        if shard not in next_idx:
            existing = _shard_files(shard_dir)
            if any(not _INDEXED_RE.match(os.path.basename(f)) for f in existing):
                for i, f in enumerate(existing):
                    tail = os.path.basename(f)[len("part-"):]
                    canon = os.path.join(shard_dir, f"part-{i:08d}-{tail}")
                    if f != canon:
                        os.replace(f, canon)
                existing = _shard_files(shard_dir)
            next_idx[shard] = len(existing)
        idx = next_idx[shard]
        next_idx[shard] = idx + 1
        suffix = uuid.uuid4().hex[:12]
        if token:
            suffix = f"{token}-{suffix}"
        os.replace(tmp, os.path.join(shard_dir, f"part-{idx:08d}-{suffix}.jsonl"))
        if kill_mid_publish:
            # consume + SIGKILL after the FIRST publish: a
            # genuinely torn multi-file publish for the drill.
            _consume_killpoint(stream, "_killpoint_mid_publish")
    if done_marker:
        os.makedirs(os.path.dirname(done_marker), exist_ok=True)
        with open(done_marker, "w", encoding="utf-8") as fh:
            fh.write("ok")
    _consume_killpoint(stream, "_killpoint_between_routes")


@dataclass
class ShardWriteCommit(WriterCommitMessage):
    files: list  # (shard, staged path) pairs


# Columns a written frame carries: the partition key (shard routing)
# and the payload.
KEY_COL, DATA_COL = "partition_key", "data"
NUM_SHARDS = 4  # shard count of a new stream unless a write says otherwise


class KinesisSimWriter(DataSourceWriter):
    """put_record twin: route rows to shards by partition key, write
    per-task part files to a staging area, publish on driver commit —
    Spark's two-phase commit standing in for the service-side append.
    """

    def __init__(self, path: str, num_shards: int, commit_token: str | None = None):
        self.path = path
        self.num_shards = num_shards
        self.commit_token = commit_token  # see publish_stream

    def write(self, iterator) -> ShardWriteCommit:
        task_id = uuid.uuid4().hex[:12]
        staging = os.path.join(self.path, "_staging")
        handles, files = {}, []
        try:
            for row in iterator:
                key = str(row[KEY_COL])
                # crc32: deterministic cross-process (Python's hash() is
                # salted), the MD5-of-partition-key role in Kinesis.
                shard = zlib.crc32(key.encode("utf-8")) % self.num_shards
                if shard not in handles:
                    os.makedirs(staging, exist_ok=True)
                    tmp = os.path.join(staging, f"{shard:05d}-{task_id}.jsonl")
                    handles[shard] = open(tmp, "w", encoding="utf-8")
                    files.append((shard, tmp))
                env = {"partitionKey": key, "data": row[DATA_COL]}
                handles[shard].write(json.dumps(env) + "\n")
        finally:
            for fh in handles.values():
                fh.close()
        return ShardWriteCommit(files=files)

    def commit(self, messages) -> None:
        files = [f for msg in messages if msg is not None for f in msg.files]
        publish_stream(self.path, files, self.commit_token)
        _drop_empty_staging(self.path)

    def abort(self, messages) -> None:
        _remove_staged(
            tmp for msg in messages if msg is not None for _shard, tmp in msg.files
        )


def write_streams(frame, streams: list[str], token: str) -> None:
    """Write every row of `frame` to the stream `streams[s]` in ONE Spark
    job, then publish each stream from this (driver) process.

    `frame` carries `s` (an index into `streams`), `partition_key` and
    `data`. Rows get the shard and envelope `KinesisSimWriter.write`
    gives them (crc32 of the UTF-8 key mod NUM_SHARDS; a NULL key is
    the string "None"), computed as JVM expressions and staged by
    Spark's built-in text writer under `<streams[0]>/_staging/<token>`.
    The stage is overwritten on every call, so a replayed epoch never
    publishes files of an earlier attempt. Each stream then goes
    through `publish_stream` with `token`, streams[0] first, and the
    stage is deleted."""
    from pyspark.sql import functions as F

    key = F.coalesce(F.col(KEY_COL).cast("string"), F.lit("None"))
    stage = os.path.join(streams[0], "_staging", token)
    (
        frame.select(
            "s",
            F.pmod(F.crc32(key.cast("binary")), F.lit(NUM_SHARDS)).alias("shard"),
            F.to_json(
                F.struct(key.alias("partitionKey"), F.col(DATA_COL).alias("data"))
            ).alias("value"),
        )
        .write.mode("overwrite")
        # static: overwrite clears the whole stage, not only the
        # partitions this attempt writes
        .option("partitionOverwriteMode", "static")
        .partitionBy("s", "shard")
        .text(stage)
    )
    for i, stream in enumerate(streams):
        staged = os.path.join(stage, f"s={i}")
        shard_dirs = sorted(os.listdir(staged)) if os.path.isdir(staged) else []
        publish_stream(
            stream,
            [
                (int(d[len("shard="):]), os.path.join(staged, d, f))
                for d in shard_dirs
                for f in sorted(os.listdir(os.path.join(staged, d)))
                if f.startswith("part-")
            ],
            token,
        )
    shutil.rmtree(stage)
    _drop_empty_staging(streams[0])


class KinesisSimDataSource(DataSource):
    """``spark.read/readStream/write.format("kinesis_sim")``.

    Options:
      path                     stream directory (required)
      startingPosition         TRIM_HORIZON (default) | LATEST  [stream read]
      maxFetchRecordsPerShard  per-shard per-batch cap, default 200
                               (consumer.py:115's Limit=200)       [stream read]
      numShards                shard count on write, default 4
      commitToken              epoch identity on write; makes a retried
                               write publish exactly once

    A written frame carries `partition_key` (shard routing) and `data`
    (payload) columns; every row goes to the `path` stream.
    """

    @classmethod
    def name(cls) -> str:
        return "kinesis_sim"

    def schema(self) -> str:
        return SCHEMA_DDL

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("kinesis_sim requires option 'path'")
        return path

    def reader(self, schema: StructType) -> KinesisSimBatchReader:
        return KinesisSimBatchReader(self._path())

    def streamReader(self, schema: StructType) -> KinesisSimStreamReader:
        return KinesisSimStreamReader(
            self._path(),
            self.options.get("startingPosition", "TRIM_HORIZON").upper(),
            int(self.options.get("maxFetchRecordsPerShard", "200")),
        )

    def writer(self, schema: StructType, overwrite: bool) -> KinesisSimWriter:
        path = self._path()
        if overwrite and os.path.isdir(path):
            for d in _shard_dirs(path):
                for f in _shard_files(d):
                    os.remove(f)
        return KinesisSimWriter(
            path,
            int(self.options.get("numShards", NUM_SHARDS)),
            self.options.get("committoken") or self.options.get("commitToken"),
        )


def register_format(spark) -> None:
    """Idempotent registration of the kinesis_sim format."""
    spark.dataSource.register(KinesisSimDataSource)


# ---------------------------------------------------------------------------
# Registered roundtrip query: put_record routing -> shard scan -> decode
# ---------------------------------------------------------------------------


def _stream_cache_path(sf_dir: str) -> str:
    import tempfile

    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    from .catalog import fixture_fingerprint

    return os.path.join(
        tempfile.gettempdir(),
        "spark_graft_kinesis_sim",
        tag,
        f"events_{fixture_fingerprint(sf_dir)}",
    )


def events_stream_dir(spark, sf_dir: str, num_shards: int = 32) -> str:
    """Materialize the events fixture as a kinesis_sim stream once per
    sf: partition key = user_id (the reference keys on session_id,
    producer:46), payload = the record as JSON. Marker file makes the
    cache idempotent across processes."""
    from pyspark.sql import functions as F

    from .catalog import load_table

    register_format(spark)
    path = _stream_cache_path(sf_dir)
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        events = load_table(spark, sf_dir, "events")
        env = events.select(
            F.col("user_id").cast("string").alias("partition_key"),
            F.to_json(
                F.struct("event_id", "user_id", "event_type", "value")
            ).alias("data"),
        )
        (
            env.write.format("kinesis_sim")
            .option("path", path)
            .option("numShards", str(num_shards))
            .mode("overwrite")
            .save()
        )
        with open(marker, "w", encoding="utf-8") as fh:
            fh.write("")
    return path


def _register_queries() -> None:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ..plans.registry import register

    payload = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )

    @register(
        "kinesis_sim_roundtrip",
        oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_records,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(MAX(event_id) AS BIGINT) AS max_event_id
        FROM events
        GROUP BY event_type
        """,
        description="S1/S2/S5 as a custom Python DataSource: events routed "
        "to shards by partition key (put_record twin), scanned back one "
        "task per shard, JSON-decoded, aggregated; oracle reads the same "
        "records from parquet",
    )
    def kinesis_sim_roundtrip(spark, sf_dir: str):
        path = events_stream_dir(spark, sf_dir)
        raw = spark.read.format("kinesis_sim").option("path", path).load()
        rec = raw.select(
            F.from_json("data", payload).alias("r")
        ).select("r.*")
        return rec.groupBy("event_type").agg(
            F.count("*").alias("n_records"),
            F.count_distinct("user_id").alias("n_users"),
            F.max("event_id").alias("max_event_id"),
        )


_register_queries()
