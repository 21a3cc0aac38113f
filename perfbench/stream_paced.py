"""stream_paced: open-loop live stream with two queries in one session.

One generator thread publishes ``RATE`` messages per second on a fixed
schedule, whatever the system does, and stamps each message's
``sender_timestamp_us`` with the time it was due. Half go to the word
queues, read by ``windowed_word_count`` into ``make_window_file_writer``
(the reference's flagship sample); half go to the session queues, read
by ``sessionize(dedupe_by=...)`` into ``make_idempotent_appender``.

Freshness of a message is the completion time of the micro-batch that
consumed it minus the time it was due; batch end offsets and completion
times come from the queries' progress events. Set-up ends once each
query has finished ``WARMUP_BATCHES`` batches under the generator's
load; messages due before then are not timed. After the timed window
the generator publishes one flush message per queue an hour of event
time ahead, which closes every window and session so the sinks can be
compared with a batch recompute over the published messages.

Traced, the run then measures the batch layers on the same session
(``batch_pass``), after the stream has stopped and its outputs are
checked, so the batch work moves none of the stream's numbers.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import Counter
from datetime import datetime, timezone

import numpy as np

from harness import (
    batch_completions,
    batch_for_offsets,
    dir_files,
    letter_word,
    observed_sum,
    percentile,
    progress_layers,
    tail_percentile,
    warm_workers,
)

# messages per second, both queries together: half of 12,000, the highest
# rate at which a 4-core host showed no backlog growth
RATE = 6_000
LATENCY_LIMIT_S = 10.0  # a message fresher than this is on time
WARMUP_BATCHES = 3  # the cold first batch, the catch-up after it, one steady
WARMUP_MAX_S = 60
TICK_S = 0.02
WORD_QUEUES = ["w0", "w1"]
SESSION_QUEUES = ["s0", "s1"]
VOCAB = 400
LINE_WORDS = 8
USERS = 40
SESSION_GAP_S = 2
ACTIVE_PERIOD_S = 4  # a user is active every other period: gaps > SESSION_GAP_S
WINDOW = "60 seconds"  # window files are named by HH.mm: windows must span minutes
WATERMARK = "1 second"
FLUSH = "flush"  # word and user of the flush messages, an hour ahead
DRAIN_TIMEOUT_S = 40


def schedule(seed: int, seconds: float, rate: int) -> list[tuple[float, str, str]]:
    """``(due offset in s, queue, payload)`` for every message of a run:
    even messages are word lines drawn from a Zipf-like vocabulary, odd
    ones session events of a user active in that period."""
    rng = np.random.default_rng(seed)
    n = int(seconds * rate)
    weights = 1.0 / np.arange(1, VOCAB + 1)
    lines = rng.choice(VOCAB, ((n + 1) // 2, LINE_WORDS), p=weights / weights.sum())
    users = 2 * rng.integers(0, USERS // 2, n // 2)
    out = []
    for k in range(n):
        due = k / rate
        half = k // 2
        if k % 2 == 0:
            q = WORD_QUEUES[half % len(WORD_QUEUES)]
            out.append((due, q, " ".join(letter_word(w) for w in lines[half])))
        else:
            user = users[half] + int(due // ACTIVE_PERIOD_S) % 2
            out.append((due, SESSION_QUEUES[half % len(SESSION_QUEUES)], f"user{user}"))
    return out


def expected_sessions(events: list[tuple[str, int]], gap_us: int) -> Counter:
    """Sessions ``(user, start_us, end_us, n)`` from ``(user, ts_us)``
    events: a user's session closes at a gap longer than ``gap_us``."""
    by_user: dict[str, list[int]] = {}
    for user, ts in events:
        by_user.setdefault(user, []).append(ts)
    out: Counter = Counter()
    for user, ts in by_user.items():
        ts.sort()
        start = prev = ts[0]
        n = 0
        for t in ts:
            if t - prev > gap_us:
                out[(user, start, prev, n)] += 1
                start, n = t, 0
            prev = t
            n += 1
        out[(user, start, prev, n)] += 1
    return out


def _window_of(ts_us: int) -> str:
    return datetime.fromtimestamp(ts_us // 60_000_000 * 60, timezone.utc).strftime("%H.%M")


def expected_words(lines: list[tuple[int, str]]) -> Counter:
    """``(window HH.mm, word) -> count`` from ``(ts_us, line)``."""
    out: Counter = Counter()
    for ts, line in lines:
        for w in line.split():
            out[(_window_of(ts), w)] += 1
    return out


def read_window_files(out_dir: str) -> Counter:
    """``(window HH.mm, word) -> count`` from the window writer's files
    (``output-HH.mm-HH.mm-<shard>-of-<n>``, lines ``word: count``)."""
    got: Counter = Counter()
    if not os.path.isdir(out_dir):
        return got
    for name in os.listdir(out_dir):
        if not name.startswith("output-"):
            continue
        window = name.split("-")[1]
        with open(os.path.join(out_dir, name)) as f:
            for line in f:
                word, cnt = line.rstrip("\n").rsplit(": ", 1)
                got[(window, word)] += int(cnt)
    return got


class Generator(threading.Thread):
    """Publishes the schedule on time from one thread, up to the message
    due at ``stop_due`` seconds; records how late each tick ran and the
    undelivered backlog it saw."""

    def __init__(self, broker: str, msgs, t0: float) -> None:
        super().__init__(daemon=True)
        self.broker, self.msgs, self.t0 = broker, msgs, t0
        self.stop_due = float("inf")
        self.lag_s: list[float] = []
        self.backlog: list[int] = []
        self.published = 0
        self.error: BaseException | None = None

    def run(self) -> None:
        from solace_apache_beam_spark.sources import fake_broker

        try:
            i = 0
            while i < len(self.msgs) and self.msgs[i][0] < self.stop_due:
                due = self.msgs[i][0]
                wait = self.t0 + due - time.time()
                if wait > 0:
                    time.sleep(wait)
                now = time.time()
                batch: dict[str, tuple[list, list]] = {}
                while (
                    i < len(self.msgs)
                    and self.t0 + self.msgs[i][0] <= now
                    and self.msgs[i][0] < self.stop_due
                ):
                    d, q, payload = self.msgs[i]
                    p, ts = batch.setdefault(q, ([], []))
                    p.append(payload)
                    ts.append(int((self.t0 + d) * 1_000_000))
                    i += 1
                for q, (p, ts) in batch.items():
                    fake_broker.publish(self.broker, q, p, sender_timestamp_us=ts)
                self.published = i
                self.lag_s.append(time.time() - (self.t0 + due))
                self.backlog.append(
                    sum(
                        fake_broker.message_count(self.broker, q)
                        - fake_broker.delivered_watermark(self.broker, q)
                        for q in WORD_QUEUES + SESSION_QUEUES
                    )
                )
                time.sleep(TICK_S)
        except BaseException as e:  # noqa: BLE001 - reported by the run
            self.error = e


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from solace_apache_beam_spark.sinks.warehouse import make_idempotent_appender
    from solace_apache_beam_spark.sinks.window_files import make_window_file_writer
    from solace_apache_beam_spark.sources import fake_broker
    from solace_apache_beam_spark.streaming.pipelines import open_stream, windowed_word_count
    from solace_apache_beam_spark.streaming.stateful import sessionize

    tracer = ctx.tracer
    work = ctx.work
    t_setup = time.perf_counter()
    msgs = schedule(ctx.seed, WARMUP_MAX_S + ctx.seconds, RATE)
    spark = ctx.start_spark()
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    warm_workers(spark, ctx.cpus)
    broker = os.path.join(work, "broker")
    for q in WORD_QUEUES + SESSION_QUEUES:
        fake_broker.create_queue(broker, q)

    sink_s: list[float] = []

    def timed(name, fn):
        def call(batch_df, epoch_id):
            t0 = time.perf_counter()
            with tracer.span(f"sink.{name}", epoch=int(epoch_id)):
                fn(batch_df, epoch_id)
            sink_s.append(time.perf_counter() - t0)

        return call

    def source(queues):
        return open_stream(spark, broker, queues).observe(
            f"src_{queues[0]}", F.sum(F.col("redelivered").cast("long")).alias("redelivered")
        )

    words_dir = os.path.join(work, "windows")
    sessions_dir = os.path.join(work, "sessions")
    words_q = (
        windowed_word_count(source(WORD_QUEUES), window=WINDOW, watermark=WATERMARK)
        .writeStream.foreachBatch(timed("words", make_window_file_writer(words_dir)))
        .outputMode("append")
        .option("checkpointLocation", os.path.join(work, "cp_words"))
        .start()
    )
    sessions_q = (
        sessionize(
            source(SESSION_QUEUES).withColumn("user", F.col("payload")),
            key_col="user",
            gap_seconds=SESSION_GAP_S,
            watermark=WATERMARK,
            dedupe_by=("destination", "message_id"),
        )
        .writeStream.foreachBatch(timed("sessions", make_idempotent_appender(sessions_dir)))
        .outputMode("append")
        .option("checkpointLocation", os.path.join(work, "cp_sessions"))
        .start()
    )
    queries = {"words": words_q, "sessions": sessions_q}
    t0_wall = time.time() + 0.5
    gen = Generator(broker, msgs, t0_wall)
    gen.start()
    try:
        # warm-up: until every query has finished WARMUP_BATCHES batches
        while time.time() < t0_wall + WARMUP_MAX_S:
            done = [(q.lastProgress or {}).get("batchId", -1) for q in queries.values()]
            if min(done) >= WARMUP_BATCHES - 1:
                break
            time.sleep(0.1)
        warm_end = time.time() - t0_wall
        warm_ticks = len(gen.backlog)
        gen.stop_due = warm_end + ctx.seconds
        setup_s = time.perf_counter() - t_setup
        gen.join(ctx.seconds + WARMUP_MAX_S)
        published = msgs[: gen.published]
        flush_us = int((t0_wall + gen.stop_due + 3600) * 1_000_000)
        for q in WORD_QUEUES + SESSION_QUEUES:
            fake_broker.publish(broker, q, [FLUSH], sender_timestamp_us=flush_us)
        want_sessions = expected_sessions(
            [(p, int((t0_wall + d) * 1e6)) for d, q, p in published if q in SESSION_QUEUES],
            SESSION_GAP_S * 1_000_000,
        )
        want_words = expected_words(
            [(int((t0_wall + d) * 1e6), p) for d, q, p in published if q in WORD_QUEUES]
        )
        # the flush closes every window and session in a later, empty
        # batch: wait until both sinks hold everything, or time out
        deadline = time.time() + DRAIN_TIMEOUT_S
        while time.time() < deadline:
            for q in queries.values():
                q.processAllAvailable()
            if (
                Counter(_session_rows(sessions_dir)) == want_sessions
                and read_window_files(words_dir) == want_words
            ):
                break
            time.sleep(0.2)
        progress = {n: [json.loads(p.json) for p in q.recentProgress] for n, q in queries.items()}
    finally:
        for q in queries.values():
            q.stop()
        gen.stop_due = 0.0
        gen.join(5)

    errors: list[str] = []
    if gen.error is not None:
        errors.append(f"generator: {gen.error!r}")

    # freshness of every message due in the timed window
    done = {n: batch_completions(p) for n, p in progress.items()}
    offsets: dict[str, int] = {}
    fresh: list[float] = []
    last_done = t0_wall + warm_end
    for d, q, _payload in published:
        off = offsets.get(q, 0)
        offsets[q] = off + 1
        if d >= warm_end:
            at = batch_for_offsets(done["words" if q in WORD_QUEUES else "sessions"], q, off)
            fresh.append(float("inf") if at is None else at - (t0_wall + d))
            if at is not None:
                last_done = max(last_done, at)
    late = sum(1 for f in fresh if f > LATENCY_LIMIT_S)

    # outputs against a batch recompute over the published messages
    got_words = read_window_files(words_dir)
    if got_words != want_words:
        diff = (got_words - want_words) + (want_words - got_words)
        errors.append(f"word counts differ on {len(diff)} (window, word) keys")
    got_sessions = Counter(_session_rows(sessions_dir))
    if got_sessions != want_sessions:
        errors.append(
            f"sessions differ: {sum((got_sessions - want_sessions).values())} extra, "
            f"{sum((want_sessions - got_sessions).values())} missing"
        )
    redelivered = sum(observed_sum(p, "redelivered") for p in progress.values())
    if redelivered:
        errors.append(f"{redelivered} messages redelivered")

    # delivered rate: timed messages consumed over the time from the first
    # one's due time to the completion of the last batch that consumed one.
    # The open loop caps it at RATE; it falls when the queries fall behind.
    delivered = sum(1 for f in fresh if f != float("inf"))
    span = last_done - (t0_wall + warm_end)
    files, size = (sum(x) for x in zip(dir_files(words_dir), dir_files(sessions_dir)))
    batches = [b for p in progress.values() for b in p if b.get("numInputRows", 0) > 0]
    ops = [op for b in batches for op in b.get("stateOperators", [])]
    last_ops = [op for p in progress.values() for op in (p[-1].get("stateOperators", []) if p else [])]
    per_query = [progress_layers(p) for p in progress.values()]
    layers = {
        "session.warmup_s": warm_end,
        "source.backlog_msgs": percentile(gen.backlog[warm_ticks:], 50),
        "source.redelivered": redelivered,
        "state.rows_total": sum(op.get("numRowsTotal", 0) for op in last_ops),
        "state.memory_mb": sum(op.get("memoryUsedBytes", 0) for op in last_ops) / 2**20,
        "state.commit_ms": sum(op.get("commitTimeMs", 0) for op in ops) / max(1, len(ops)),
        "state.dropped_late": sum(op.get("numRowsDroppedByWatermark", 0) for op in ops),
        "sink.write_s": sum(sink_s) / max(1, len(sink_s)),
        "sink.files": files,
        "sink.mb": size / 2**20,
        "gen.lag_p99_s": percentile(gen.lag_s, 99),
        "gen.published": gen.published,
        "late_ratio": late / len(fresh),
        # trigger-loop and source timings: the mean of the two queries
        **{k: sum(m[k] for m in per_query) / len(per_query) for k in per_query[0]},
    }
    p_tail = tail_percentile(len(fresh), 95)
    tail = {f"freshness_p{p_tail:g}_s": (percentile(fresh, p_tail), "s")} if p_tail else {}
    attempted, failed = len(fresh), len(fresh) if errors else 0
    summary = {}
    event_groups = {}
    if ctx.trace:
        import batch_pass

        b = batch_pass.measure(ctx, spark)
        layers.update(b["layers"])
        summary.update(b["summary"])
        errors += b["errors"]
        attempted += b["attempted"]
        failed += min(len(b["errors"]), b["attempted"])
        event_groups["batch"] = (batch_pass.GROUP, max(1, b["units"]))
    return {
        "spark": spark,
        "setup_s": setup_s,
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "throughput_per_s": delivered / span if span > 0 else 0.0,
        "latency_p50_s": percentile(fresh, 50),
        "summary": {
            "freshness_p50_s": (percentile(fresh, 50), "s"),
            **tail,
            "late_ratio": (late / len(fresh), "ratio"),
            "rate": (RATE, "1/s"),
            "backlog_growth_per_s": (_growth(gen.backlog[warm_ticks:], ctx.seconds), "1/s"),
            "batches": (len(batches), "count"),
            **summary,
        },
        "layers": layers,
        "event_groups": event_groups,
    }


def _growth(backlog: list[int], seconds: float) -> float:
    """Backlog growth over the run: last quarter's mean minus the first
    quarter's, per second of the run; about 0 while the system keeps up."""
    k = max(1, len(backlog) // 4)
    return (sum(backlog[-k:]) - sum(backlog[:k])) / k / seconds


def _session_rows(path: str) -> list[tuple[str, int, int, int]]:
    """``(user, start_us, end_us, n)`` rows the session sink holds."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = []
    for f in glob.glob(os.path.join(path, "_epoch_id=*", "*.parquet")):
        t = pq.read_table(f)
        start, end = (
            t.column(c).cast(pa.timestamp("us")).cast(pa.int64()).to_pylist()
            for c in ("session_start", "session_end")
        )
        rows += zip(t.column("key").to_pylist(), start, end, t.column("n_events").to_pylist())
    return rows
