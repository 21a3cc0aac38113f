"""The "solace" PySpark DataSource: streaming + bounded-batch reads of
broker queues with partition-per-queue splits and commit-time ack.

Reference parity map (SURVEY.md §2.1):

- S1/S16  options + validation (host/queues/timeouts; fail fast)
- S2/S15  unbounded by default; bounded via maxRecords option
- S3      one input partition per configured queue entry; listing a
          queue N times splits that queue's range N ways (extra
          concurrent consumers, SolaceIO.java:133-142)
- S5      unknown queue => error at reader start (no provisioning,
          UnboundedSolaceReader.java:130-132)
- S6/S9   messages become visible to Spark per microbatch; the epoch
          commit acks them to the broker (deferred client-ack,
          SolaceCheckpointMark.java:41-68) — at-least-once with replay
          of un-acked messages on restart, `redelivered` set on replay
          (UnboundedSolaceReaderIT.java:90-122)
- S10/S14 backlog + reader counters exposed via the broker helpers
          (Spark surfaces progress through StreamingQueryListener)
- §1.3    event time = sender timestamp if enabled else arrival time
          (UnboundedSolaceReader.java:185-195)

Scale notes: offsets are per-queue record counts — tiny, JSON-encodable,
and the partition count equals the queue-entry count exactly like the
reference's split() (UnboundedSolaceSource.java:50-61). Per-batch
`maxRecordsPerBatch` caps in-flight records (the reference's
maxDeliveredUnackedMsgsPerFlow guidance, README.md:136-142);
`maxBytesPerBatch` is its byte-budget sibling for size-skewed feeds.
"""

from __future__ import annotations

import datetime as _dt
import os
import time
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from solace_apache_beam_spark.sources import fake_broker

SOURCE_SCHEMA = StructType(
    [
        StructField("destination", StringType(), False),
        StructField("message_id", LongType(), False),
        StructField("payload", StringType(), True),
        StructField("properties", MapType(StringType(), StringType()), True),
        StructField("priority", IntegerType(), True),
        StructField("redelivered", BooleanType(), False),
        StructField("reply_to", StringType(), True),
        StructField("receive_timestamp", TimestampType(), False),
        StructField("sender_timestamp", TimestampType(), True),
        StructField("sender_id", StringType(), True),
        StructField("sequence_number", LongType(), True),
        StructField("expiration", LongType(), True),
        StructField("ttl", LongType(), True),
        StructField("event_time", TimestampType(), False),
    ]
)


def _validate_options(options: dict) -> tuple[str, list[str]]:
    """SolaceIO.validateConfig twin (SolaceIO.java:267-298)."""
    path = options.get("path") or options.get("brokerdir")
    if not path:
        raise ValueError("option 'path' (broker dir) is required")
    if options.get("clientname"):
        # one session per split needs broker-assigned unique names
        # (CLIENT_NAME must be null, SolaceIO.java:283-287,
        # SolaceIOTest.java:78-84)
        raise ValueError("option 'clientName' must not be set")
    queues_opt = options.get("queues", "")
    queues = [q.strip() for q in queues_opt.split(",") if q.strip()]
    if not queues:
        raise ValueError("option 'queues' must list at least one queue")
    for opt in ("maxrecordsperbatch", "maxrecords", "maxreadtimems", "maxbytesperbatch"):
        if opt in options and int(options[opt]) <= 0:
            raise ValueError(f"option '{opt}' must be > 0")
    if not os.path.isdir(path):
        raise ValueError(f"broker dir does not exist: {path}")
    for q in set(queues):
        # no queue provisioning: unknown queue is an error, like binding
        # a flow to a missing queue (UnboundedSolaceReader.java:130-132)
        if not os.path.isdir(os.path.join(path, q)):
            raise ValueError(f"unknown queue: {q}")
    return path, queues


def display_options(options: dict) -> dict:
    """Config echo for UIs/logs with secrets hidden — the
    populateDisplayData twin that skips `*password*` properties
    (SolaceIO.java:237-265, redaction at :247-253)."""
    return {
        k: ("*****" if ("password" in k.lower() or "secret" in k.lower()) else v)
        for k, v in options.items()
    }


def _ts(us: int | None) -> _dt.datetime | None:
    """Microseconds-since-epoch -> tz-AWARE UTC datetime. Spark
    interprets a naive datetime in the session timezone — stripping
    tzinfo here would shift every instant by the tz offset on any
    non-UTC session; an aware value is converted to the true instant
    regardless of session tz."""
    if us is None:
        return None
    return _dt.datetime.fromtimestamp(us / 1_000_000, tz=_dt.timezone.utc)


class QueueSlicePartition(InputPartition):
    def __init__(self, queue: str, start: int, end: int, delivered: int):
        self.queue = queue
        self.start = start
        self.end = end
        self.delivered = delivered


def _split_ranges(
    path: str, queues: Sequence[str], start: dict, end: dict
) -> list[QueueSlicePartition]:
    """One partition per queue-list entry; duplicate entries split the
    queue's new range into consecutive slices (duplicate queue names =
    extra concurrent consumers, SolaceIO.java:133-142)."""
    from collections import Counter

    dupes = Counter(queues)
    parts: list[QueueSlicePartition] = []
    for queue in dupes:
        # clamp: on restart the engine's committed start can be ahead of
        # a freshly computed latest (acks are deferred) — never go back
        lo = start.get(queue, 0)
        hi = max(end.get(queue, 0), lo)
        n = dupes[queue]
        total = hi - lo
        delivered = fake_broker.delivered_watermark(path, queue)
        if n > 1 and fake_broker.is_exclusive(path, queue):
            # exclusive queue: one active consumer; extra bindings
            # connect but receive nothing (SolaceIOIT.java:148-184)
            parts.append(QueueSlicePartition(queue, lo, hi, delivered))
            parts.extend(
                QueueSlicePartition(queue, hi, hi, delivered) for _ in range(n - 1)
            )
            continue
        for i in range(n):
            s = lo + (total * i) // n
            e = lo + (total * (i + 1)) // n
            parts.append(QueueSlicePartition(queue, s, e, delivered))
    return parts


def _read_partition(
    path: str,
    part: QueueSlicePartition,
    use_sender_ts: bool,
    advance_watermark: bool = True,
) -> Iterator[tuple]:
    msgs = fake_broker.read_messages(path, part.queue, part.start, part.end)
    now = _ts(int(time.time() * 1_000_000))
    for idx, m in enumerate(msgs):
        sender_ts = _ts(m.get("sender_timestamp_us"))
        event_time = (sender_ts if use_sender_ts and sender_ts else now)
        yield (
            part.queue,
            m["message_id"],
            m.get("payload"),
            m.get("properties") or {},
            m.get("priority", 0),
            part.start + idx < part.delivered,  # replayed => redelivered
            m.get("reply_to"),
            now,
            sender_ts,
            m.get("sender_id"),
            m.get("sequence_number"),
            m.get("expiration", 0),
            m.get("ttl", 0),
            event_time,
        )
    if msgs and advance_watermark:
        fake_broker.advance_delivered(path, part.queue, part.end)


class SolaceStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.path, self.queues = _validate_options(options)
        self.use_sender_ts = (
            str(options.get("usesendertimestamp", "false")).lower() == "true"
        )
        self.max_per_batch = int(options.get("maxrecordsperbatch", 10_000))
        # byte-based backpressure sibling of the record cap: the offset
        # range admits messages until their cumulative payload bytes
        # exceed the budget (>= 1 message per poll for progress) —
        # bounds per-microbatch memory when message sizes vary wildly
        mb = options.get("maxbytesperbatch")
        self.max_bytes_per_batch = int(mb) if mb is not None else None
        # bounded adapter (S15): after maxReadTimeMs the offset range
        # freezes — the stream keeps running but admits no new data
        # (withMaxReadTime, SolaceIO.java:230-232)
        read_time_ms = options.get("maxreadtimems")
        self.deadline = (
            time.time() + int(read_time_ms) / 1000.0 if read_time_ms else None
        )
        self._frozen: dict | None = None
        # last offset handed to the engine: the per-batch cap advances
        # from here, NOT from the acked position (acks are deferred to
        # checkpoint finalize, so capping on acked would stall the
        # stream after one batch)
        self._last_end: dict = {}
        # SolaceReaderStats twin (S14, SolaceReaderStats.java:19-30):
        # counters dumped as JSON on every checkpoint finalize
        self.stats = {
            "messages_received": 0,
            "empty_polls": 0,
            "checkpoint_readies": 0,
            "checkpoint_completes": 0,
            "backlog_bytes": 0,
        }

    def initialOffset(self) -> dict:
        # replay starts at the broker's acked position — un-acked
        # messages are redelivered (the broker is the replay log)
        return {q: fake_broker.acked_count(self.path, q) for q in set(self.queues)}

    def latestOffset(self) -> dict:
        if self._frozen is not None:
            self.stats["empty_polls"] += 1
            return dict(self._frozen)
        out = {}
        grew = False
        for q in set(self.queues):
            base = self._last_end.get(q)
            if base is None:
                base = fake_broker.acked_count(self.path, q)
            avail = fake_broker.message_count(self.path, q)
            cap = min(avail, base + self.max_per_batch)
            if self.max_bytes_per_batch is not None and cap > base:
                cap = fake_broker.admissible_end(
                    self.path, q, base, cap, self.max_bytes_per_batch
                )
            out[q] = max(base, cap)
            if out[q] > base:
                grew = True
        self._last_end = dict(out)
        if grew:
            self.stats["checkpoint_readies"] += 1
        else:
            self.stats["empty_polls"] += 1
        if self.deadline is not None and time.time() >= self.deadline:
            self._frozen = dict(out)
        return out

    def partitions(self, start: dict, end: dict):
        self.stats["messages_received"] += sum(
            max(end.get(q, 0) - start.get(q, 0), 0) for q in end
        )
        self._dump_stats()
        return _split_ranges(self.path, self.queues, start, end)

    def read(self, partition: QueueSlicePartition) -> Iterator[tuple]:
        return _read_partition(self.path, partition, self.use_sender_ts)

    def commit(self, end: dict) -> None:
        # epoch commit == checkpoint finalize: ack (delete) everything
        # up to the committed offset (SolaceCheckpointMark.java:41-68)
        for q, n in end.items():
            fake_broker.ack_up_to(self.path, q, n)
        self.stats["checkpoint_completes"] += 1
        self.stats["backlog_bytes"] = sum(
            fake_broker.backlog_bytes(self.path, q) for q in set(self.queues)
        )
        self._dump_stats()

    def _dump_stats(self) -> None:
        """JSON stats dump (SolaceReaderStats.java:137-155 dumps every
        120 s of advance-time; here per checkpoint so tests are
        deterministic). The tmp name is per-writer: two queries sharing
        a broker dir (the CLI demo runs two) commit concurrently, and a
        SHARED tmp path lets one writer's os.replace delete the other's
        file mid-publish (observed as FileNotFoundError in commitSource
        under load, r11). Unique tmp + atomic rename = last-writer-wins
        with no window."""
        import json
        import uuid

        tmp = os.path.join(
            self.path, f".reader_stats.json.tmp.{uuid.uuid4().hex[:8]}"
        )
        with open(tmp, "w") as f:
            json.dump(self.stats, f)
        os.replace(tmp, os.path.join(self.path, ".reader_stats.json"))

    def stop(self) -> None:
        pass


class SolaceBatchReader(DataSourceReader):
    """Bounded adapter (S15): read from the acked position up to
    maxRecords per queue, like withMaxNumRecords (SolaceIO.java:230-232).
    Batch reads do NOT ack (a bounded sample leaves the queue intact)."""

    def __init__(self, options: dict):
        self.path, self.queues = _validate_options(options)
        self.use_sender_ts = (
            str(options.get("usesendertimestamp", "false")).lower() == "true"
        )
        self.max_records = int(options.get("maxrecords", 2**62))

    def partitions(self):
        start = {q: fake_broker.acked_count(self.path, q) for q in set(self.queues)}
        end = {
            q: min(
                fake_broker.message_count(self.path, q),
                start[q] + self.max_records,
            )
            for q in set(self.queues)
        }
        return _split_ranges(self.path, self.queues, start, end)

    def read(self, partition: QueueSlicePartition) -> Iterator[tuple]:
        # a bounded sample leaves the queue intact: it must not move
        # the delivered watermark either, or a later FIRST streaming
        # read would wrongly flag everything redelivered
        return _read_partition(
            self.path, partition, self.use_sender_ts, advance_watermark=False
        )


class SolaceDataSource(DataSource):
    """spark.readStream.format("solace").options(path=..., queues="a,b")

    Options: path, queues (comma list; duplicates = extra consumers),
    useSenderTimestamp, maxRecordsPerBatch / maxBytesPerBatch (stream),
    maxRecords (batch).
    """

    @classmethod
    def name(cls) -> str:
        return "solace"

    def schema(self) -> StructType:
        return SOURCE_SCHEMA

    def streamReader(self, schema: StructType) -> SolaceStreamReader:
        return SolaceStreamReader(self.options)

    def reader(self, schema: StructType) -> SolaceBatchReader:
        return SolaceBatchReader(self.options)


def register(spark) -> None:
    """Register the source. The DataSource class is cloudpickled *by
    reference*, so the Python worker that unpickles it must be able to
    import this package: ship the package zip to the running session
    (works even when the JVM env was captured before our PYTHONPATH
    export in __init__)."""
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_path = os.path.join(os.path.dirname(pkg_dir), ".solace_pkg.zip")
    _refresh_pkg_zip(pkg_dir, zip_path)
    spark.sparkContext.addPyFile(zip_path)
    spark.dataSource.register(SolaceDataSource)


def _refresh_pkg_zip(pkg_dir: str, zip_path: str) -> bool:
    """Rebuild ``zip_path`` from the ``.py`` files under ``pkg_dir``
    (named relative to its parent) when it is stale: missing, older than
    some source, or holding another set of modules than the tree (a
    deleted module is newer than nothing, yet must stop shipping).
    Return True iff it was rebuilt."""
    import zipfile

    root = os.path.dirname(pkg_dir)
    sources = [
        os.path.join(base, fn)
        for base, _dirs, files in os.walk(pkg_dir)
        for fn in files
        if fn.endswith(".py")
    ]
    if os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path) as zf:
            names = set(zf.namelist())
        zip_mtime = os.path.getmtime(zip_path)
        if names == {os.path.relpath(f, root) for f in sources} and all(
            os.path.getmtime(f) <= zip_mtime for f in sources
        ):
            return False
    _write_zip_atomically(zip_path, sources, root)
    return True


def _write_zip_atomically(zip_path: str, sources: list[str], root: str) -> None:
    """Zip ``sources`` (named relative to ``root``) into ``zip_path``.
    Concurrent sessions rebuild the same zip, so write a unique temp file
    beside it and rename it into place: a reader sees the old zip or the
    new one, never a torn or interleaved one."""
    import tempfile
    import zipfile

    fd, tmp = tempfile.mkstemp(
        prefix=".solace_pkg.", suffix=".tmp", dir=os.path.dirname(zip_path)
    )
    try:
        with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w") as zf:
            for full in sources:
                zf.write(full, os.path.relpath(full, root))
        os.chmod(tmp, 0o644)  # mkstemp's 0600 would hide it from other users
        os.replace(tmp, zip_path)
    except BaseException:
        os.unlink(tmp)
        raise
