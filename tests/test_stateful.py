"""Stateful streaming operator tests (applyInPandasWithState) driven
through the fake broker + solace source end-to-end.

The three heaviest replay differentials (~130 s combined: each drives
multiple full query restarts at batch cap 1-4) run in the FULL tier
(SPARK_GRAFT_FUZZ_FULL=1 — scripts/preflight sets it, so they are
exercised before every snapshot); the quick tier keeps the cheap pins
of the same machinery (hwm algebra property, NULL-id/queue loud
failures, timeout/tombstone path, raw running_counts replay)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from solace_apache_beam_spark.sources import fake_broker
from solace_apache_beam_spark.streaming.pipelines import open_stream
from solace_apache_beam_spark.streaming.stateful import running_counts, sessionize


full_tier = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_FUZZ_FULL") != "1",
    reason="full tier: set SPARK_GRAFT_FUZZ_FULL=1 (preflight does)",
)


@pytest.fixture()
def broker(tmp_path):
    broker_dir = str(tmp_path / "broker")
    for q in ("q1", "q2"):
        fake_broker.create_queue(broker_dir, q)
    return broker_dir


def test_running_counts_accumulate_across_batches(spark, broker, tmp_path):
    """State persists across microbatches: second wave continues the
    count (the keyed twin of SolaceReaderStats counters)."""
    fake_broker.publish(broker, "q1", ["aa", "bbb"])
    fake_broker.publish(broker, "q2", ["cccc"])
    stream = open_stream(spark, broker, ["q1", "q2"])
    q = (
        running_counts(stream)
        .writeStream.format("memory")
        .queryName("rcounts")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    q.processAllAvailable()
    fake_broker.publish(broker, "q1", ["ddddd"])
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(
        "SELECT key, max(total_count) c, max(total_bytes) b FROM rcounts GROUP BY key"
    ).collect()
    got = {r.key: (r.c, r.b) for r in rows}
    assert got["q1"] == (3, 10)  # 2+3 then +5 bytes
    assert got["q2"] == (1, 4)


def test_payload_nbytes_counts_null_payloads_as_zero():
    """running_counts' byte total sums UTF-8 bytes over the non-null
    payloads; a null payload still counts as a message, with 0 bytes."""
    import pandas as pd

    from solace_apache_beam_spark.streaming.stateful import _payload_nbytes

    assert _payload_nbytes(pd.Series([None, "xy", "\u00e9"])) == 4
    assert _payload_nbytes(pd.Series([None], dtype=object)) == 0


def test_sessionize_emits_on_watermark_close(spark, broker, tmp_path):
    """A session is emitted exactly once, when the watermark (advanced
    by later events) passes last_event + gap."""
    base_us = 1_700_000_000_000_000
    fake_broker.publish(
        broker,
        "q1",
        ["a", "b", "c"],
        sender_timestamp_us=[base_us, base_us + 1_000_000, base_us + 2_000_000],
    )
    stream = open_stream(spark, broker, ["q1", "q2"])
    q = (
        sessionize(stream, gap_seconds=30)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp2"))
        .start()
    )
    q.processAllAvailable()
    assert spark.sql("SELECT * FROM sessions").count() == 0  # still open
    # events on ANOTHER key an hour later advance the (global) watermark
    # at batch end; the next batch evaluates q1's timeout against it and
    # closes q1's session. Same-key events would have extended it.
    fake_broker.publish(
        broker, "q2", ["later"], sender_timestamp_us=base_us + 3_600_000_000
    )
    q.processAllAvailable()
    fake_broker.publish(
        broker, "q2", ["later2"], sender_timestamp_us=base_us + 3_601_000_000
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(
        "SELECT key, session_start, session_end, n_events FROM sessions"
        " WHERE key = 'q1'"
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_events == 3
    assert (r.session_end - r.session_start).total_seconds() == 2.0


def test_running_counts_resume_from_checkpoint(spark, broker, tmp_path):
    """Stateful operator state survives a stop/restart cycle: the
    restarted query continues counting from the checkpointed state
    (§5 tier-3 restart contract). The checkpoint and the sink are
    written through the raw local filesystem and the FileSystem-based
    checkpoint manager (plain create + rename, no hidden ``.crc``
    sidecars, no temp files left), and the restart still resumes
    exactly."""
    from solace_apache_beam_spark.sinks.warehouse import make_warehouse_appender

    cp = str(tmp_path / "cp_resume")
    table = str(tmp_path / "rc_sink")
    jvm = spark._jvm
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), hadoop_conf)
    assert fs.getClass().getName() == "org.apache.hadoop.fs.RawLocalFileSystem"
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    assert manager.create(jvm.org.apache.hadoop.fs.Path(cp), hadoop_conf).getClass().getName() == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
    fake_broker.publish(broker, "q1", ["one", "two"])

    def run_once():
        stream = open_stream(spark, broker, ["q1"])
        q = (
            running_counts(stream)
            .writeStream.foreachBatch(make_warehouse_appender(table))
            .outputMode("update")
            .option("checkpointLocation", cp)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_once()
    fake_broker.publish(broker, "q1", ["three"])
    run_once()
    written = [
        os.path.join(d, f) for root in (cp, table) for d, _, names in os.walk(root) for f in names
    ]
    # no Hadoop checksum sidecars (``.<name>.crc``); Spark's own state-file
    # checksums (``<name>.crc``) stay
    assert [f for f in written if os.path.basename(f).startswith(".")] == []
    deltas = [f for f in written if f.endswith(".delta")]
    assert deltas and all(f + ".crc" in written for f in deltas)
    got = (
        spark.read.parquet(table)
        .groupBy("key")
        .agg(F.max("total_count").alias("c"))
        .collect()
    )
    assert {r.key: r.c for r in got} == {"q1": 3}  # 2 before restart + 1 after


def test_funnel_progress_advances_across_batches(spark, broker, tmp_path):
    """The per-user stage machine persists in the state store: a user
    completing view->click in batch 1 converts on purchase in batch 2;
    out-of-order stages don't advance."""
    from solace_apache_beam_spark.streaming.stateful import funnel_progress

    def start(queue, name, **kw):
        stream = open_stream(spark, broker, [queue], **kw).select(
            F.split("payload", ":")[0].alias("user"),
            F.split("payload", ":")[1].alias("stage_name"),
            "event_time",
            "message_id",
        )
        return (
            funnel_progress(stream, ("view", "click", "purchase"), key_col="user")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / f"cp_{name}"))
            .start()
        )

    def stages(name):
        rows = spark.sql(f"SELECT key, max(stage_reached) s FROM {name} GROUP BY key")
        return {r.key: r.s for r in rows.collect()}

    base_us = 1_700_000_000_000_000
    # payload = "user:stage"; u1 does view,click; u2 starts with click
    fake_broker.publish(
        broker,
        "q1",
        ["u1:view", "u1:click", "u2:click"],
        sender_timestamp_us=[base_us, base_us + 1_000_000, base_us + 2_000_000],
    )
    q = start("q1", "funnelp")
    q.processAllAvailable()
    fake_broker.publish(
        broker,
        "q1",
        ["u1:purchase", "u2:view"],
        sender_timestamp_us=[base_us + 3_000_000, base_us + 4_000_000],
    )
    q.processAllAvailable()
    q.stop()
    got = stages("funnelp")
    assert got["u1"] == 3  # view -> click -> purchase across two batches
    assert got["u2"] == 1  # click first didn't count; view later reached stage 1

    # three users, three events a batch: u1 advances across batches,
    # u2's leading click is skipped, and u3's click at its view's
    # timestamp counts across the batch boundary (later id)
    users = ["u1", "u1", "u2", "u1", "u2", "u3", "u3"]
    names = ["view", "click", "click", "purchase", "view", "view", "click"]
    secs = [0, 1, 2, 3, 4, 5, 5]
    fake_broker.publish(
        broker,
        "q2",
        [f"{u}:{n}" for u, n in zip(users, names)],
        sender_timestamp_us=[base_us + t * 1_000_000 for t in secs],
    )
    q = start("q2", "funnelp_three_users", max_records_per_batch=3)
    q.processAllAvailable()
    q.stop()
    assert stages("funnelp_three_users") == {"u1": 3, "u2": 1, "u3": 2}


def test_funnel_progress_resumes_from_checkpoint(spark, broker, tmp_path):
    """Stage-machine state survives a full query restart from the
    checkpoint (the state store, not process memory, is the source of
    truth). Memory sink can't recover, so sink via foreachBatch."""
    from solace_apache_beam_spark.sinks.warehouse import make_warehouse_appender
    from solace_apache_beam_spark.streaming.stateful import funnel_progress

    base_us = 1_700_000_000_000_000
    cp = str(tmp_path / "cp_funnel_r")
    table = str(tmp_path / "funnel_sink")
    fake_broker.publish(broker, "q1", ["u1:view"], sender_timestamp_us=[base_us])

    def run_once():
        stream = open_stream(spark, broker, ["q1"]).select(
            F.split("payload", ":")[0].alias("user"),
            F.split("payload", ":")[1].alias("stage_name"),
            "event_time",
            "message_id",
        )
        q = (
            funnel_progress(stream, ("view", "click"), key_col="user")
            .writeStream.foreachBatch(make_warehouse_appender(table))
            .outputMode("update")
            .option("checkpointLocation", cp)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_once()
    fake_broker.publish(
        broker, "q1", ["u1:click"], sender_timestamp_us=[base_us + 1_000_000]
    )
    run_once()
    got = (
        spark.read.parquet(table)
        .groupBy("key")
        .agg(F.max("stage_reached").alias("s"))
        .collect()
    )
    assert {r.key: r.s for r in got} == {"u1": 2}  # view before + click after


def test_sessionize_splits_gap_within_one_batch(spark, broker, tmp_path):
    """Two bursts separated by >> gap arriving in ONE microbatch must
    close as two sessions — the in-batch gap split, not just the
    cross-batch timeout."""
    base_us = 1_700_000_000_000_000
    hour = 3_600_000_000
    bursts = [base_us, base_us + 1_000_000, base_us + hour, base_us + hour + 2_000_000]

    def closed_sessions(broker_dir, queues, name):
        stream = open_stream(spark, broker_dir, queues)
        q = (
            sessionize(stream, gap_seconds=30)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"cp_{name}"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return sorted(
            tuple(r)
            for r in spark.sql(
                "SELECT key, unix_micros(session_start), unix_micros(session_end),"
                f" n_events FROM {name}"
            ).collect()
        )

    # > 30s gap between the pairs -> new session
    fake_broker.publish(broker, "q1", ["a", "b", "c", "d"], sender_timestamp_us=bursts)
    # the FIRST burst closed in-batch (the second stays open awaiting
    # its timeout, unemitted)
    assert closed_sessions(broker, ["q1"], "sess_split") == [
        ("q1", base_us, base_us + 1_000_000, 2)
    ]

    # a far-future fifth event on each of two queues closes the second
    # burst in-batch too; the lone fifth event stays open
    two_queues = str(tmp_path / "broker_two_queues")
    for queue in ("q1", "q2"):
        fake_broker.create_queue(two_queues, queue)
        fake_broker.publish(
            two_queues,
            queue,
            ["a", "b", "c", "d", "e"],
            sender_timestamp_us=bursts + [base_us + 2 * hour],
        )
    assert closed_sessions(two_queues, ["q1", "q2"], "sess_split_two_queues") == [
        (key, start, end, 2)
        for key in ("q1", "q2")
        for start, end in ((bursts[0], bursts[1]), (bursts[2], bursts[3]))
    ]


def test_funnel_progress_nullable_inputs_match_batch_semantics(spark, tmp_path):
    """The streaming funnel must treat nullable inputs exactly like
    batch funnel_counts: null event-time and null key rows are
    excluded (a NaT timestamp's integer value compares ABOVE the
    frontier sentinel and would otherwise advance stage 1; a null id
    previously crashed on int(NaN)); a null-id event still qualifies —
    by strictly later ts only — and same-ts events never beat a
    null-id frontier."""
    import datetime as dt

    from solace_apache_beam_spark.streaming.stateful import funnel_progress

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    rows = [
        # u1: clean view -> click
        ("u1", "view", t(1), 1),
        ("u1", "click", t(2), 2),
        # null key: dropped entirely
        (None, "view", t(1), 3),
        # u2: null-ts view must NOT reach stage 1; later click has no
        # frontier to follow
        ("u2", "view", None, 4),
        ("u2", "click", t(2), 5),
        # u3: null-id view qualifies; strictly-later click advances
        ("u3", "view", t(1), None),
        ("u3", "click", t(3), 6),
        # u4: null-id view qualifies; SAME-ts click cannot beat the
        # null-id frontier (SQL: id > NULL is NULL)
        ("u4", "view", t(1), None),
        ("u4", "click", t(1), 7),
    ]
    src = str(tmp_path / "funnel_null_src")
    spark.createDataFrame(
        rows, "user string, stage_name string, event_time timestamp, message_id long"
    ).coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema(
            "user string, stage_name string, event_time timestamp, message_id long"
        ).parquet(src)
    )
    q = (
        funnel_progress(stream, ("view", "click"), key_col="user")
        .writeStream.format("memory")
        .queryName("funnel_nulls")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "cp_funnel_nulls"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        r.key: r.s
        for r in spark.sql(
            "SELECT key, max(stage_reached) s FROM funnel_nulls GROUP BY key"
        ).collect()
    }
    assert got == {"u1": 2, "u2": 0, "u3": 2, "u4": 1}


def test_running_counts_dedupe_by_id_survives_ack_lag_replay(
    spark, broker, tmp_path
):
    """The 500k kill-restart soak's overcount, reproduced
    deterministically. The source replays from the broker's ACKED
    position after a restart (S4: the checkpoint is deliberately
    ignored — JCSMP rebind semantics, the broker is the replay log), so
    when acks lag the committed frontier (the unclean-kill window:
    commit(N)'s ack never ran), a restarted query's offsets REGRESS and
    an already-counted committed range is redelivered. Raw counting
    overcounts by exactly the replayed range; dedupe_by='message_id'
    carries a per-key high-water mark in state and must stay exact.

    Here: 12 messages drain in 4-message epochs, acks are rewound to 4
    (simulating the kill window), 4 more are published, and the query
    restarts from the same checkpoint — the replan delivers [8,12)
    twice. Expected exact totals: 16 messages, 38 payload bytes."""
    import os as _os

    from solace_apache_beam_spark.sinks.warehouse import make_idempotent_appender

    import duckdb

    def totals(sink):
        rows = duckdb.connect().execute(
            f"""SELECT key, max(total_count), max(total_bytes)
                FROM read_parquet('{sink}/*/*.parquet', hive_partitioning=1)
                GROUP BY key"""
        ).fetchall()
        return {r[0]: (r[1], r[2]) for r in rows}

    def run_once(cp, sink, queue, **kw):
        stream = open_stream(spark, broker, [queue], max_records_per_batch=4)
        q = (
            running_counts(stream, **kw)
            .writeStream.foreachBatch(make_idempotent_appender(sink))
            .outputMode("update")
            .option("checkpointLocation", cp)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    def rewind_acks(queue, n):
        ack_file = _os.path.join(fake_broker.queue_dir(broker, queue), "acked")
        with open(ack_file, "w") as f:
            f.write(str(n))

    # one queue per scenario: acking DELETES from the broker, so the
    # scenarios must not share a message log
    fake_broker.create_queue(broker, "q3")
    for mode, queue, kw in (
        ("raw", "q1", {}),
        ("hwm", "q2", {"dedupe_by": "message_id"}),
    ):
        fake_broker.publish(broker, queue, [f"m{i}" for i in range(12)])
        cp = str(tmp_path / f"cp_{mode}")
        sink = str(tmp_path / f"sink_{mode}")
        run_once(cp, sink, queue, **kw)
        # the kill window: acks trail the committed frontier
        rewind_acks(queue, 4)
        run_once(cp, sink, queue, **kw)
        got = totals(sink)[queue]
        if mode == "raw":
            # pins the at-least-once semantic the hwm exists for: the
            # replayed committed range is counted again
            assert got[0] > 12, f"expected replay overcount, got {got}"
        else:
            assert got == (12, 26), f"hwm mode diverged: {got}"
    # and with genuinely new data after the rewind, hwm counts exactly
    # the union: replayed ids are skipped, fresh ids are counted once
    cp = str(tmp_path / "cp_hwm2")
    sink = str(tmp_path / "sink_hwm2")
    fake_broker.publish(broker, "q3", [f"m{i}" for i in range(12)])
    run_once(cp, sink, "q3", dedupe_by="message_id")
    rewind_acks("q3", 4)
    fake_broker.publish(broker, "q3", [f"m{i}" for i in range(12, 16)])
    run_once(cp, sink, "q3", dedupe_by="message_id")
    assert totals(sink)["q3"] == (16, 38)


@full_tier
def test_sessionize_dedupe_by_survives_ack_lag_replay(spark, broker, tmp_path):
    """Broker replay through sessionize (round 10, the module-header
    hardening made executable): after an ack-rewind restart the source
    redelivers the already-sessionized range. Raw mode merges the
    replayed events into the open session and inflates n_events —
    pinning the at-least-once semantic the hwm exists for — while
    dedupe_by=(queue, id) drops them against the per-queue hwm map in
    state and the closed session is exact. The close happens via the
    in-batch gap split (a much-later event after the replayed range),
    so the assertion does not depend on timeout scheduling.

    Replay anatomy is the running_counts recipe: 12 messages drain in
    4-message epochs, acks rewound to 4, restart from the same
    checkpoint — the capped latestOffset re-bases on the broker's acked
    position, regresses below the committed frontier, and the
    committed-but-unacked range [8,12) redelivers.

    The watermark delay is 120s, NOT the default 0: with delay 0 the
    engine's own late-row filter (ts < restored watermark) happens to
    absorb broker replay, because replayed events are by construction
    older than the max event time already seen. Any nonzero lateness
    tolerance — the realistic setting — reopens the window: replayed
    events within the delay pass the filter and reach live state, which
    is exactly where the hwm map must catch them."""
    import os as _os
    import time

    import duckdb

    from solace_apache_beam_spark.sinks.warehouse import make_idempotent_appender

    base_us = 1_700_000_000_000_000

    def run_once(cp, sink, queue, **kw):
        stream = open_stream(spark, broker, [queue], max_records_per_batch=4)
        q = (
            sessionize(stream, gap_seconds=30, watermark="120 seconds", **kw)
            .writeStream.foreachBatch(make_idempotent_appender(sink))
            .outputMode("append")
            .option("checkpointLocation", cp)
            .start()
        )
        # capped latestOffset can stall one poll (run_soak drain gotcha)
        for _ in range(8):
            q.processAllAvailable()
            time.sleep(0.05)
        q.stop()

    def rewind_acks(queue, n):
        with open(
            _os.path.join(fake_broker.queue_dir(broker, queue), "acked"), "w"
        ) as f:
            f.write(str(n))

    def closed_counts(sink):
        rows = duckdb.connect().execute(
            f"""SELECT n_events FROM
                read_parquet('{sink}/*/*.parquet', hive_partitioning=1)
                ORDER BY session_start"""
        ).fetchall()
        return [r[0] for r in rows]

    for mode, queue, kw in (
        ("raw", "q1", {}),
        ("hwm", "q2", {"dedupe_by": ("destination", "message_id")}),
    ):
        # 12 events 1s apart: one open session (gap 30s), n_events=12
        fake_broker.publish(
            broker,
            queue,
            [f"m{i}" for i in range(12)],
            sender_timestamp_us=[base_us + i * 1_000_000 for i in range(12)],
        )
        cp = str(tmp_path / f"cp_sess_{mode}")
        sink = str(tmp_path / f"sink_sess_{mode}")
        run_once(cp, sink, queue, **kw)  # session opens, nothing closed
        rewind_acks(queue, 4)  # the kill window: acks trail commits
        # the closer event: far beyond the gap -> the in-batch split
        # closes the first session once it arrives after the replay
        fake_broker.publish(
            broker, queue, ["z"], sender_timestamp_us=[base_us + 100_000_000]
        )
        run_once(cp, sink, queue, **kw)
        got = closed_counts(sink)
        if mode == "raw":
            # replayed [8,12) merged into the open session: 12 + 4 = 16
            assert got == [16], f"expected raw replay overcount, got {got}"
        else:
            assert got == [12], f"hwm mode diverged: {got}"


@full_tier
def test_funnel_progress_dedupe_by_stays_exact_on_replay(spark, broker, tmp_path):
    """With dedupe_by=(queue, id) the out-of-order replay corner pinned
    by test_funnel_progress_replay_semantics is CLOSED: the replayed
    straggler sits at-or-below its queue's hwm and is dropped before
    the stage machine, so the online funnel stays exact w.r.t. its own
    no-replay semantics (stage 2, not 3). The completed in-order funnel
    is unaffected by replay either way (stays 3) — the hwm drops
    events that would have been no-ops anyway."""
    import os as _os
    import time

    import duckdb

    from solace_apache_beam_spark.sinks.warehouse import make_idempotent_appender
    from solace_apache_beam_spark.streaming.stateful import funnel_progress

    base_us = 1_700_000_000_000_000

    def run_once(cp, sink, queue):
        stream = open_stream(
            spark, broker, [queue], max_records_per_batch=1
        ).select(
            F.split("payload", ":")[0].alias("user"),
            F.split("payload", ":")[1].alias("stage_name"),
            "event_time",
            "message_id",
            "destination",
        )
        q = (
            funnel_progress(
                stream,
                ("view", "click", "purchase"),
                key_col="user",
                dedupe_by=("destination", "message_id"),
            )
            .writeStream.foreachBatch(make_idempotent_appender(sink))
            .outputMode("update")
            .option("checkpointLocation", cp)
            .start()
        )
        for _ in range(8):
            q.processAllAvailable()
            time.sleep(0.05)
        q.stop()

    def rewind_acks(queue):
        with open(
            _os.path.join(fake_broker.queue_dir(broker, queue), "acked"), "w"
        ) as f:
            f.write("0")

    def stages(sink):
        rows = duckdb.connect().execute(
            f"""SELECT key, max(stage_reached)
                FROM read_parquet('{sink}/*/*.parquet', hive_partitioning=1)
                GROUP BY key"""
        ).fetchall()
        return {r[0]: r[1] for r in rows}

    # in-order complete funnel: replay is a no-op, stage stays 3
    fake_broker.publish(
        broker,
        "q1",
        ["u1:view", "u1:click", "u1:purchase"],
        sender_timestamp_us=[base_us, base_us + 1_000_000, base_us + 2_000_000],
    )
    cp, sink = str(tmp_path / "cp_dd_in"), str(tmp_path / "sink_dd_in")
    run_once(cp, sink, "q1")
    rewind_acks("q1")
    run_once(cp, sink, "q1")
    assert stages(sink)["u1"] == 3

    # the out-of-order corner: delivery view@t2, purchase@t9 (skipped),
    # click@t5 -> stage 2. The replayed purchase(id1)@t9 is <= hwm and
    # must be DROPPED: stage stays 2 (the raw machine advances to 3 —
    # the divergence the sibling test pins)
    fake_broker.create_queue(broker, "qd")
    cp, sink = str(tmp_path / "cp_dd_ooo"), str(tmp_path / "sink_dd_ooo")
    for payload, ts in (
        ("u2:view", base_us + 2_000_000),
        ("u2:purchase", base_us + 9_000_000),
        ("u2:click", base_us + 5_000_000),
    ):
        fake_broker.publish(broker, "qd", [payload], sender_timestamp_us=[ts])
        run_once(cp, sink, "qd")
    assert stages(sink)["u2"] == 2
    rewind_acks("qd")
    run_once(cp, sink, "qd")
    assert stages(sink)["u2"] == 2  # replay dropped by the hwm map


def test_sessionize_dedupe_timeout_close_and_tombstone_eviction(spark, broker, tmp_path):
    """The EventTimeTimeout close path in dedupe mode, with a SHORT
    retention so both tombstone transitions run:

    1. q2 traffic advances the global watermark past q1's end+gap; the
       timed-out close must emit q1's session once and leave the hwm
       tombstone. With retention=1s the tombstone's natural timeout
       (end+gap+retention) is ALREADY at-or-below the watermark at
       close time — Spark rejects such a timestamp, so this pins the
       watermark clamp in the hasTimedOut branch (unclamped: the close
       batch crashes the query).
    2. further q2 traffic fires the tombstone's own timeout (n=0):
       final eviction, no emission — exactly one q1 row ever lands."""
    base_us = 1_700_000_000_000_000
    fake_broker.publish(
        broker,
        "q1",
        ["a", "b", "c"],
        sender_timestamp_us=[base_us, base_us + 1_000_000, base_us + 2_000_000],
    )
    stream = open_stream(spark, broker, ["q1", "q2"])
    q = (
        sessionize(
            stream,
            gap_seconds=30,
            watermark="120 seconds",
            dedupe_by=("destination", "message_id"),
            dedupe_retention_seconds=1,
        )
        .writeStream.format("memory")
        .queryName("sess_tomb")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp_tomb"))
        .start()
    )
    q.processAllAvailable()
    assert spark.sql("SELECT * FROM sess_tomb").count() == 0  # open
    # wm -> (t0+155)-120 = t0+35 > q1 end+gap (t0+32); the next batch
    # evaluates q1's timeout: close + tombstone, clamp exercised
    # (t0+33 <= wm)
    fake_broker.publish(
        broker, "q2", ["w1"], sender_timestamp_us=[base_us + 155_000_000]
    )
    q.processAllAvailable()
    fake_broker.publish(
        broker, "q2", ["w2"], sender_timestamp_us=[base_us + 156_000_000]
    )
    q.processAllAvailable()
    assert q.exception() is None
    rows = spark.sql(
        "SELECT n_events FROM sess_tomb WHERE key = 'q1'"
    ).collect()
    assert [r.n_events for r in rows] == [3]
    # advance further: the tombstone's own timeout fires -> eviction,
    # nothing new emitted for q1
    fake_broker.publish(
        broker, "q2", ["w3"], sender_timestamp_us=[base_us + 400_000_000]
    )
    q.processAllAvailable()
    fake_broker.publish(
        broker, "q2", ["w4"], sender_timestamp_us=[base_us + 401_000_000]
    )
    q.processAllAvailable()
    assert q.exception() is None
    q.stop()
    assert (
        spark.sql("SELECT count(*) c FROM sess_tomb WHERE key = 'q1'").collect()[0].c
        == 1
    )


@full_tier
def test_funnel_dedupe_hwm_is_per_queue(spark, broker, tmp_path):
    """The hwm must be a PER-QUEUE map, not a single long (module
    header: message ids are monotone broker log positions PER QUEUE,
    so id ranges OVERLAP across queues). A user funnel spanning two
    queues pins both directions:

    - q2's id 0 arrives while q1's hwm is already 1: a single-long hwm
      would wrongly drop it as replay; the map counts it (stage 2).
    - q1's replayed out-of-order straggler (purchase id 1, above the
      eventual frontier — the event that advances the RAW machine to 3
      in the sibling replay-semantics test) is dropped by q1's OWN
      mark even though q2's mark is lower: the machine holds at 2."""
    import os as _os
    import time

    import duckdb

    from solace_apache_beam_spark.sinks.warehouse import make_idempotent_appender
    from solace_apache_beam_spark.streaming.stateful import funnel_progress

    base_us = 1_700_000_000_000_000
    cp = str(tmp_path / "cp_xq")
    sink = str(tmp_path / "sink_xq")

    def run_once():
        # cap 1: lets the ack rewind regress the planned offset below
        # the committed frontier (the replay anatomy — see
        # test_funnel_progress_replay_semantics)
        stream = open_stream(
            spark, broker, ["q1", "q2"], max_records_per_batch=1
        ).select(
            F.split("payload", ":")[0].alias("user"),
            F.split("payload", ":")[1].alias("stage_name"),
            "event_time",
            "message_id",
            "destination",
        )
        q = (
            funnel_progress(
                stream,
                ("view", "click", "purchase"),
                key_col="user",
                dedupe_by=("destination", "message_id"),
            )
            .writeStream.foreachBatch(make_idempotent_appender(sink))
            .outputMode("update")
            .option("checkpointLocation", cp)
            .start()
        )
        for _ in range(8):
            q.processAllAvailable()
            time.sleep(0.05)
        q.stop()

    def stage():
        return duckdb.connect().execute(
            f"""SELECT max(stage_reached)
                FROM read_parquet('{sink}/*/*.parquet', hive_partitioning=1)"""
        ).fetchone()[0]

    # q1: view@t2 (id 0) -> stage 1; purchase@t9 (id 1) skipped (click
    # expected); q1 hwm = 1
    fake_broker.publish(
        broker, "q1", ["u1:view"], sender_timestamp_us=[base_us + 2_000_000]
    )
    run_once()
    assert stage() == 1
    fake_broker.publish(
        broker, "q1", ["u1:purchase"], sender_timestamp_us=[base_us + 9_000_000]
    )
    run_once()
    assert stage() == 1
    # q2 id 0: the single-long-hwm trap — 0 <= q1's mark (1) but on a
    # DIFFERENT queue; the map must count it -> stage 2, frontier t5
    fake_broker.publish(
        broker, "q2", ["u1:click"], sender_timestamp_us=[base_us + 5_000_000]
    )
    run_once()
    assert stage() == 2
    # replay q1: the redelivered purchase(id 1)@t9 is now the expected
    # type above the frontier — the RAW machine advances to 3 (sibling
    # test); q1's own mark drops it and the machine holds
    with open(
        _os.path.join(fake_broker.queue_dir(broker, "q1"), "acked"), "w"
    ) as f:
        f.write("0")
    run_once()
    assert stage() == 2


def test_running_counts_null_dedupe_id_fails_loudly(spark, tmp_path):
    """ADVICE r9: in dedupe_by mode a NULL id would fail the `> hwm`
    comparison and be silently uncounted — a divergence from raw mode
    with no signal. The dedupe column is a broker log position, so a
    NULL means the stream is mis-wired: the updater must fail the query
    loudly, not drop the row."""
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", "4")
        .load()
        .select(
            F.lit("k").alias("destination"),
            F.lit("p").alias("payload"),
            F.lit(None).cast("long").alias("message_id"),
        )
    )
    q = (
        running_counts(stream, dedupe_by="message_id")
        .writeStream.format("memory")
        .queryName("null_dedupe_ids")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "cp_null_ids"))
        .start()
    )
    try:
        with pytest.raises(Exception, match="NULL id"):
            q.processAllAvailable()
            if q.exception() is not None:
                raise q.exception()
    finally:
        q.stop()


def test_funnel_progress_replay_semantics(spark, broker, tmp_path):
    """Broker replay (ack-lag rewind, same checkpoint) through the
    funnel stage machine — pins BOTH halves of the documented
    at-least-once story (streaming/stateful.py header):

    1. In-order history replay is a NO-OP: every replayed event is
       either at-or-below the stage frontier or of a non-expected
       type, so a completed funnel stays exactly where it was (the
       natural idempotence that makes the machine safe on the common
       path without an hwm).
    2. The out-of-order corner DIVERGES, by design of the monotone
       machine: an event that was skipped at stage k (its type wasn't
       yet expected) and whose (ts, id) sits above the eventual
       frontier re-arrives in the replayed suffix and now advances the
       machine. This pin documents the artifact of the DEFAULT raw
       machine; the opt-in fix is dedupe_by=(queue, id) — see
       test_funnel_progress_dedupe_by_stays_exact_on_replay, where the
       same scenario holds at 2."""
    import duckdb
    import os as _os
    import time

    from solace_apache_beam_spark.sinks.warehouse import make_idempotent_appender
    from solace_apache_beam_spark.streaming.stateful import funnel_progress

    base_us = 1_700_000_000_000_000

    def run_once(cp, sink, queue):
        # max_records_per_batch=1: broker replay is a SUFFIX below the
        # committed frontier starting at acked + batch cap (the 500k
        # soak's WAL anatomy) — the cap makes that suffix nontrivial
        # at this scale
        stream = open_stream(
            spark, broker, [queue], max_records_per_batch=1
        ).select(
            F.split("payload", ":")[0].alias("user"),
            F.split("payload", ":")[1].alias("stage_name"),
            "event_time",
            "message_id",
        )
        q = (
            funnel_progress(stream, ("view", "click", "purchase"), key_col="user")
            .writeStream.foreachBatch(make_idempotent_appender(sink))
            .outputMode("update")
            .option("checkpointLocation", cp)
            .start()
        )
        # the capped latestOffset can report no growth for one poll
        # (the run_soak drain gotcha) — processAllAvailable alone is
        # not a full drain at batch cap 1; spin a few rounds
        for _ in range(8):
            q.processAllAvailable()
            time.sleep(0.05)
        q.stop()

    def rewind_acks(queue):
        with open(
            _os.path.join(fake_broker.queue_dir(broker, queue), "acked"), "w"
        ) as f:
            f.write("0")

    def stages(sink):
        rows = duckdb.connect().execute(
            f"""SELECT key, max(stage_reached)
                FROM read_parquet('{sink}/*/*.parquet', hive_partitioning=1)
                GROUP BY key"""
        ).fetchall()
        return {r[0]: r[1] for r in rows}

    # 1: completed in-order funnel survives full-history replay
    fake_broker.publish(
        broker,
        "q1",
        ["u1:view", "u1:click", "u1:purchase"],
        sender_timestamp_us=[base_us, base_us + 1_000_000, base_us + 2_000_000],
    )
    cp, sink = str(tmp_path / "cp_inorder"), str(tmp_path / "sink_inorder")
    run_once(cp, sink, "q1")
    rewind_acks("q1")
    run_once(cp, sink, "q1")
    assert stages(sink)["u1"] == 3

    # 2: the out-of-order corner — delivery order view@t2 (stage 1),
    # purchase@t9 (skipped: click expected), click@t5 (stage 2,
    # frontier (t5, id2)). The no-replay machine holds at 2 forever —
    # purchase@t9 is gone. The replayed suffix [acked+cap, frontier)
    # re-delivers purchase(id1)@t9 at stage 2, where it is now the
    # expected type above the frontier: the machine advances to 3.
    fake_broker.create_queue(broker, "qo")
    cp, sink = str(tmp_path / "cp_ooo"), str(tmp_path / "sink_ooo")
    for payload, ts in (
        ("u2:view", base_us + 2_000_000),
        ("u2:purchase", base_us + 9_000_000),
        ("u2:click", base_us + 5_000_000),
    ):
        fake_broker.publish(broker, "qo", [payload], sender_timestamp_us=[ts])
        run_once(cp, sink, "qo")
    assert stages(sink)["u2"] == 2  # monotone machine: straggler gone
    rewind_acks("qo")
    run_once(cp, sink, "qo")
    assert stages(sink)["u2"] == 3  # the documented replay divergence


def test_sessionize_timeout_survives_null_ts_batch(spark, tmp_path):
    """Observable contract (round-10 review): a batch whose rows for a
    key all carry NULL timestamps must not prevent the key's open
    session from closing. Two layers deliver it, and this pins the
    outcome whichever fires: the engine's watermark filter drops
    null-ts rows before any WATERMARKED stateful operator (the
    lateness predicate is NULL — measured: this test passes with the
    updater's re-register branch disabled, i.e. the poison invocation
    never happens through sessionize's own plan), and the updater
    re-registers the timeout on any no-usable-timestamp invocation as
    defense-in-depth (GroupState's contract resets timeouts per
    invocation). Driven through a file stream — the broker source
    cannot produce null event times."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    schema = "destination string, event_time timestamp"
    src = str(tmp_path / "sess_nullts_src")

    def wave(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    wave([("k1", t0), ("k1", t0 + dt.timedelta(seconds=2))])
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        sessionize(stream, gap_seconds=30)
        .writeStream.format("memory")
        .queryName("sess_nullts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp_nullts"))
        .start()
    )
    q.processAllAvailable()
    # the poison batch: k1's only rows have NULL ts (the invocation
    # that used to clear its timeout); k2 advances the watermark
    wave([("k1", None), ("k2", t0 + dt.timedelta(seconds=3600))])
    q.processAllAvailable()
    # next batch evaluates k1's (re-registered) timeout vs the advanced
    # watermark
    wave([("k2", t0 + dt.timedelta(seconds=3601))])
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(
        "SELECT n_events FROM sess_nullts WHERE key = 'k1'"
    ).collect()
    assert [r.n_events for r in rows] == [2]
