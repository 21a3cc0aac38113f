"""Streaming soak: drain N messages across K queues through the
windowed word-count pipeline and report sustained throughput plus full
delivery accounting.

The committed throughput contract is the >=1,000 msg/s floor test
(tests/test_streaming_source.py::test_streaming_throughput_floor); this
script is the heavier, re-runnable version of the round-3 ad-hoc soak
recorded in BASELINE.md — 100k messages, 4 queues, one JVM, local[32].

    python scripts/run_soak.py [n_messages] [n_queues]

--kill-restart (VERDICT r5 Next #7) combines the soak with the
restart-from-checkpoint contract at full scale: the drain runs in a
child process group that is SIGKILL'd (unclean — JVM included) mid-
drain after a few committed epochs, then a second process resumes from
the same checkpoint and drains to completion. The sink is the
idempotent per-epoch appender, so replayed epochs REPLACE their
partition and broker-replayed unacked messages appear as new-epoch
duplicates that payload-level dedup removes. Asserted conservation law
(SolaceIOLifecycleDataflowIT.java:349-350 is the reference contract):

    distinct payloads at sink == published   (zero loss, zero
                                              dupes-after-dedup)
    remaining backlog        == 0
    acked                    == published

    python scripts/run_soak.py 100000 4 --kill-restart

--stateful / --sessionize / --funnel run the kill-restart scenario
through the stateful operators (running_counts / sessionize /
funnel_progress with dedupe_by replay marks) and assert per-entity
exactness against arithmetic ground truth. --skew R (sessionize /
funnel only, VERDICT r10 Next #3) concentrates the stream on one hot
key: sessionize gives the first queue R x every other queue's
messages (the key IS the queue); funnel gives one user per queue half
that queue's events (realized ratio per_q/16 : 1, asserted >= R).

    python scripts/run_soak.py 500000 4 --sessionize --skew 100
    python scripts/run_soak.py 500000 2 --funnel --skew 100

--incdedup (VERDICT r10 Next #7) runs the streaming composition of the
LLM-ingestion shape: build_corpus_index persisted as parquet tables,
every microbatch screened by incremental_dedup against the read-back
index inside foreachBatch, statuses into the idempotent sink; after a
mid-drain SIGKILL + restart, the DISTINCT per-doc rows must equal the
batch operator's output over the full replayed log.

    python scripts/run_soak.py 50000 2 --incdedup
"""
from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from solace_apache_beam_spark.sources import fake_broker


def _phase_seconds(default_s: float) -> float:
    """Per-phase wall budget for the kill-restart scenarios: the
    hard-coded per-scenario defaults, STRETCHED to 80 % of
    ``SPARK_GRAFT_SOAK_TIMEOUT`` when the caller raised it. The
    preflight raises that knob exactly because its 12-wide soak wave
    contends for the machine — but the pre-kill epoch wait and the
    restart-drain wait used to keep their solo-run constants, so a
    scenario starved by its siblings gave up INSIDE a budget the
    wrapper had already extended (observed: 900 s pre-kill deadline
    expired with 0 committed epochs while the wave needed ~980 s wall;
    the scenario then failed its epochs_at_kill >= 3 pin even though
    the restart drained fold-exact — a pure harness false-negative,
    reproduced green solo). 80 % leaves the wrapper headroom to report
    a real hang rather than being killed together with it."""
    try:
        cap = float(os.environ.get("SPARK_GRAFT_SOAK_TIMEOUT") or 0)
    except ValueError:
        # an empty/malformed knob must not crash every kill-restart
        # scenario before it starts (ADVICE r14) — fall back to the
        # per-scenario default
        cap = 0.0
    return max(default_s, 0.8 * cap)


def _publish(broker: str, queues: list[str], per_q: int) -> None:
    for q in queues:
        fake_broker.create_queue(broker, q)
        fake_broker.publish(
            broker, q, [f"tok{i % 97} {q} msg {i}" for i in range(per_q)]
        )


def classic_soak(n: int, k: int) -> None:
    from solace_apache_beam_spark.session import get_spark
    from solace_apache_beam_spark.streaming.pipelines import (
        open_stream,
        windowed_word_count,
    )

    queues = [f"q{i}" for i in range(1, k + 1)]
    per_q = n // k
    work = tempfile.mkdtemp(prefix="soak_")
    broker = os.path.join(work, "broker")
    _publish(broker, queues, per_q)

    spark = get_spark("soak")
    stream = open_stream(spark, broker, queues)
    query = (
        windowed_word_count(stream)
        .writeStream.format("memory")
        .queryName("soak")
        .outputMode("update")
        .option("checkpointLocation", os.path.join(work, "cp"))
        .start()
    )
    t0 = time.monotonic()
    query.processAllAvailable()
    elapsed = time.monotonic() - t0
    query.stop()

    consumed = sum(fake_broker.delivered_watermark(broker, q) for q in queues)
    leaked = len(spark.sparkContext._jsc.getPersistentRDDs())
    out = {
        "messages": per_q * k,
        "queues": k,
        "drain_s": round(elapsed, 2),
        "msg_per_s": round(per_q * k / elapsed),
        "consumed": consumed,
        "cached_rdds_at_shutdown": leaked,
    }
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


def drain_phase(work: str, k: int, max_per_batch: int) -> None:
    """Child process: drain the broker through the idempotent appender
    until every message is delivered, then write a DONE marker. May be
    SIGKILL'd at any point — the checkpoint + per-epoch sink carry the
    state.

    processAllAvailable alone is NOT a full drain here: after an
    unclean restart the acked watermark lags the checkpoint's committed
    offset, and the capped latestOffset can momentarily report no
    growth — so we loop until the delivered watermark reaches the
    published count. Acks for epoch N land only when epoch N+1 is
    planned (deferred client-ack), so after the data drain we publish
    one uniquely-tagged __flush__ sentinel per queue: planning that
    final epoch finalizes every real message's ack. The orchestrator
    excludes __flush__ payloads from the accounting."""
    import uuid

    from solace_apache_beam_spark.session import get_spark
    from solace_apache_beam_spark.sinks.warehouse import make_idempotent_appender
    from solace_apache_beam_spark.streaming.pipelines import open_stream

    queues = [f"q{i}" for i in range(1, k + 1)]
    broker_dir = os.path.join(work, "broker")
    spark = get_spark("soak_phase")
    stream = open_stream(
        spark, broker_dir, queues, max_records_per_batch=max_per_batch
    )
    q = (
        stream.writeStream.foreachBatch(
            make_idempotent_appender(os.path.join(work, "sink"))
        )
        .option("checkpointLocation", os.path.join(work, "cp"))
        .start()
    )

    def _undelivered() -> int:
        return sum(
            fake_broker.message_count(broker_dir, qq)
            - fake_broker.delivered_watermark(broker_dir, qq)
            for qq in queues
        )

    t0 = time.monotonic()
    q.processAllAvailable()
    while _undelivered() > 0:
        time.sleep(0.1)
        q.processAllAvailable()
    tag = uuid.uuid4().hex[:8]
    for qq in queues:
        fake_broker.publish(broker_dir, qq, [f"__flush__ {qq} {tag}"])
    q.processAllAvailable()
    while _undelivered() > 0:
        time.sleep(0.1)
        q.processAllAvailable()
    elapsed = time.monotonic() - t0
    peak_state = _peak_state_rows(q)
    q.stop()
    with open(os.path.join(work, "DONE"), "w") as f:
        json.dump({"elapsed": round(elapsed, 2), "state_rows_peak": peak_state}, f)


def stateful_drain_phase(work: str, k: int, max_per_batch: int) -> None:
    """Child process for the STATEFUL soak (VERDICT r8 Next #6): the
    graph carries applyInPandasWithState (running_counts — lifetime
    per-key count+bytes) between the source and the idempotent
    appender, so the SIGKILL lands on live state-store versions, not
    just source offsets. Same drain/flush discipline as drain_phase."""
    import uuid

    from solace_apache_beam_spark.session import get_spark
    from solace_apache_beam_spark.sinks.warehouse import make_idempotent_appender
    from solace_apache_beam_spark.streaming.pipelines import open_stream
    from solace_apache_beam_spark.streaming.stateful import running_counts

    queues = [f"q{i}" for i in range(1, k + 1)]
    broker_dir = os.path.join(work, "broker")
    spark = get_spark("soak_stateful_phase")
    stream = open_stream(
        spark, broker_dir, queues, max_records_per_batch=max_per_batch
    )
    q = (
        # dedupe_by: the source is at-least-once across an
        # unclean restart (broker replays delivered-but-unacked
        # messages — S4/S6), so raw counting overcounts by exactly the
        # redelivered batch; the hwm state skips redeliveries (the
        # 500k soak found this — see running_counts' docstring)
        running_counts(stream, dedupe_by="message_id")
        .writeStream.outputMode("update")
        .foreachBatch(make_idempotent_appender(os.path.join(work, "sink")))
        .option("checkpointLocation", os.path.join(work, "cp"))
        .start()
    )

    def _undelivered() -> int:
        return sum(
            fake_broker.message_count(broker_dir, qq)
            - fake_broker.delivered_watermark(broker_dir, qq)
            for qq in queues
        )

    t0 = time.monotonic()
    q.processAllAvailable()
    while _undelivered() > 0:
        time.sleep(0.1)
        q.processAllAvailable()
    tag = uuid.uuid4().hex[:8]
    for qq in queues:
        fake_broker.publish(broker_dir, qq, [f"__flush__ {qq} {tag}"])
    q.processAllAvailable()
    while _undelivered() > 0:
        time.sleep(0.1)
        q.processAllAvailable()
    elapsed = time.monotonic() - t0
    peak_state = _peak_state_rows(q)
    q.stop()
    with open(os.path.join(work, "DONE"), "w") as f:
        json.dump({"elapsed": round(elapsed, 2), "state_rows_peak": peak_state}, f)


def stateful_kill_restart_soak(n: int, k: int) -> None:
    """Kill-restart soak THROUGH the stateful operator. The evidence is
    stronger than delivery conservation alone: the final per-key
    lifetime totals must EXACTLY equal the broker log's ground truth
    (message count and payload byte sum per queue) — an unclean kill
    that lost state would undercount, a replayed batch applied twice to
    restored state would overcount, and either breaks the equality."""
    queues = [f"q{i}" for i in range(1, k + 1)]
    per_q = n // k
    work = tempfile.mkdtemp(prefix="soak_st_")
    broker = os.path.join(work, "broker")
    _publish(broker, queues, per_q)
    sink = os.path.join(work, "sink")
    # ~10 epochs: enough staggering that the kill lands mid-drain with
    # >=3 committed (the contract's requirement) without paying 25
    # per-epoch commit overheads per phase (suite-runtime cap, r11)
    max_per_batch = max(1, per_q // 10)

    def _spawn() -> subprocess.Popen:
        return subprocess.Popen(
            [
                sys.executable,
                os.path.abspath(__file__),
                "--phase-stateful",
                work,
                str(k),
                str(max_per_batch),
            ],
            start_new_session=True,
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
        )

    def _epochs() -> int:
        try:
            return len(
                [d for d in os.listdir(sink) if d.startswith("_epoch_id=")]
            )
        except FileNotFoundError:
            return 0

    t_all = time.monotonic()
    p1 = _spawn()
    deadline = time.monotonic() + _phase_seconds(600)
    while time.monotonic() < deadline:
        if os.path.exists(os.path.join(work, "DONE")):
            raise SystemExit(
                "drain finished before the kill — lower max_per_batch"
            )
        if _epochs() >= 3:
            break
        time.sleep(0.2)
    epochs_at_kill = _epochs()
    os.killpg(os.getpgid(p1.pid), signal.SIGKILL)
    p1.wait()

    p2 = _spawn()
    rc = p2.wait(timeout=_phase_seconds(600))
    assert rc == 0, f"restart phase failed rc={rc}"
    assert os.path.exists(os.path.join(work, "DONE"))
    total_s = time.monotonic() - t_all

    # ground truth straight from the broker's message log (includes
    # whatever flush sentinels were actually published)
    expected: dict[str, tuple[int, int]] = {}
    for qq in queues:
        cnt = nbytes = 0
        with open(
            os.path.join(fake_broker.queue_dir(broker, qq), "messages.jsonl")
        ) as f:
            for line in f:
                p = json.loads(line)["payload"]
                cnt += 1
                nbytes += len((p or "").encode("utf-8"))
        expected[qq] = (cnt, nbytes)

    # the LATEST emitted row per key is the lifetime total (update-mode
    # emission; per-key rows are monotone in epoch)
    import duckdb

    rows = (
        duckdb.connect()
        .execute(
            f"""
        SELECT key, total_count, total_bytes FROM (
          SELECT *, row_number() OVER (
            PARTITION BY key ORDER BY _epoch_id DESC) AS rn
          FROM read_parquet('{sink}/*/*.parquet', hive_partitioning=1)
        ) WHERE rn = 1
        """
        )
        .fetchall()
    )
    got = {r[0]: (r[1], r[2]) for r in rows}
    acked = sum(fake_broker.acked_count(broker, q) for q in queues)
    out = {
        "mode": "stateful",
        "messages": per_q * k,
        "queues": k,
        "epochs_at_kill": epochs_at_kill,
        "per_key_totals_exact": got == expected,
        "acked": acked,
        "total_s": round(total_s, 2),
        "msg_per_s": round(per_q * k / total_s),
        "state_rows_peak": _done_state_rows(work),
    }
    assert got == expected, f"state diverged: got={got} expected={expected}"
    for q in queues:
        a = fake_broker.acked_count(broker, q)
        assert a >= per_q, f"{q}: only {a}/{per_q} real messages acked"
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


# sessionize soak constants — the session structure IS the ground
# truth, so both the publisher and the verifier derive from these
_SESS_BASE_US = 1_700_000_000_000_000
_SESS_G = 50  # events per session
_SESS_JUMP_S = 130  # inter-session jump (> gap 30 -> in-batch split)


def _sess_ts_us(i: int) -> int:
    """Event-time of the i-th message in a queue's session stream:
    1 s apart within a session, a 130 s jump between sessions."""
    return _SESS_BASE_US + (i + (i // _SESS_G) * _SESS_JUMP_S) * 1_000_000


def _publish_sessions(broker: str, queues: list[str], counts: list[int]) -> None:
    """Per-queue session streams; ``counts[i]`` messages into queue i
    (unequal counts are the hot-key skew case — sessionize keys on the
    queue, so a 100:1 count ratio IS a 100:1 key skew)."""
    for q, c in zip(queues, counts):
        fake_broker.create_queue(broker, q)
        fake_broker.publish(
            broker,
            q,
            [f"{q} msg {i}" for i in range(c)],
            sender_timestamp_us=[_sess_ts_us(i) for i in range(c)],
        )


def _peak_state_rows(q) -> int:
    """Max stateOperators numRowsTotal across the query's recent
    progress — the observable peak state footprint of a drain phase."""
    peak = 0
    for p in q.recentProgress:
        if not isinstance(p, dict):
            p = json.loads(p.json)
        for so in p.get("stateOperators") or []:
            peak = max(peak, int(so.get("numRowsTotal") or 0))
    return peak


def _done_state_rows(work: str):
    """state_rows_peak recorded by the (restarted) drain phase's DONE
    marker — the restart phase's peak, which includes the restored
    pre-kill state."""
    try:
        with open(os.path.join(work, "DONE")) as f:
            return json.load(f).get("state_rows_peak")
    except (OSError, ValueError):
        return None


def sessionize_drain_phase(work: str, k: int, max_per_batch: int) -> None:
    """Child process for the SESSIONIZE soak (round 10): the graph
    carries the EventTimeTimeout sessionizer with the per-(key,queue)
    hwm map, at the nonzero watermark delay where broker replay
    actually reaches live state (see sessionize's docstring). Closed
    sessions flow append-mode to the idempotent sink."""
    import uuid

    from solace_apache_beam_spark.session import get_spark
    from solace_apache_beam_spark.sinks.warehouse import make_idempotent_appender
    from solace_apache_beam_spark.streaming.pipelines import open_stream
    from solace_apache_beam_spark.streaming.stateful import sessionize

    queues = [f"q{i}" for i in range(1, k + 1)]
    broker_dir = os.path.join(work, "broker")
    spark = get_spark("soak_sessionize_phase")
    stream = open_stream(
        spark, broker_dir, queues, max_records_per_batch=max_per_batch
    )
    q = (
        sessionize(
            stream,
            gap_seconds=30,
            watermark="120 seconds",
            dedupe_by=("destination", "message_id"),
        )
        .writeStream.outputMode("append")
        .foreachBatch(make_idempotent_appender(os.path.join(work, "sink")))
        .option("checkpointLocation", os.path.join(work, "cp"))
        .start()
    )

    def _undelivered() -> int:
        return sum(
            fake_broker.message_count(broker_dir, qq)
            - fake_broker.delivered_watermark(broker_dir, qq)
            for qq in queues
        )

    t0 = time.monotonic()
    q.processAllAvailable()
    while _undelivered() > 0:
        time.sleep(0.1)
        q.processAllAvailable()
    # flush far beyond the last session: closes it via in-batch split
    # AND finalizes the last data epoch's deferred acks. Max over
    # queues: under skew the hot queue's stream runs far longer
    tag = uuid.uuid4().hex[:8]
    per_q_published = max(
        fake_broker.message_count(broker_dir, qq) for qq in queues
    )
    flush_us = _sess_ts_us(per_q_published) + 10_000 * 1_000_000
    for qq in queues:
        fake_broker.publish(
            broker_dir,
            qq,
            [f"__flush__ {qq} {tag}"],
            sender_timestamp_us=[flush_us],
        )
    q.processAllAvailable()
    while _undelivered() > 0:
        time.sleep(0.1)
        q.processAllAvailable()
    elapsed = time.monotonic() - t0
    peak_state = _peak_state_rows(q)
    q.stop()
    with open(os.path.join(work, "DONE"), "w") as f:
        json.dump({"elapsed": round(elapsed, 2), "state_rows_peak": peak_state}, f)


def sessionize_kill_restart_soak(n: int, k: int, skew: int = 1) -> None:
    """Kill-restart soak THROUGH the hwm sessionizer. The evidence is
    session-level exactness: every queue's closed sessions must EXACTLY
    match the arithmetic session partition of its published stream —
    same starts, same ends, same n_events, no duplicates, no misses.
    A replayed range applied to live state would inflate n_events or
    resurrect a closed session; lost state would drop or fragment one.
    Runs at watermark delay 120 s, where the engine's late-row filter
    does NOT absorb the replay (the realistic late-data setting).

    ``skew`` > 1 is the hot-key case (VERDICT r10 Next #3): sessionize
    keys on the queue, so giving the first queue ``skew``x the messages
    of every other queue makes one key receive skew:1 of the stream —
    the reference's own worst case is all load on one exclusive-queue
    binding (SolaceIOIT.java:148-184). The hot key's
    applyInPandasWithState group dominates every microbatch and its
    session count dwarfs the cold keys'; exactness must hold
    unchanged."""
    queues = [f"q{i}" for i in range(1, k + 1)]
    if skew > 1:
        per_q = max(_SESS_G, n // (skew + k - 1))
        counts = [per_q * skew] + [per_q] * (k - 1)
    else:
        per_q = n // k
        counts = [per_q] * k
    work = tempfile.mkdtemp(prefix="soak_sess_")
    broker = os.path.join(work, "broker")
    _publish_sessions(broker, queues, counts)
    sink = os.path.join(work, "sink")
    max_per_batch = max(1, max(counts) // 10)

    def _spawn() -> subprocess.Popen:
        return subprocess.Popen(
            [
                sys.executable,
                os.path.abspath(__file__),
                "--phase-sessionize",
                work,
                str(k),
                str(max_per_batch),
            ],
            start_new_session=True,
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
        )

    def _epochs() -> int:
        try:
            return len(
                [d for d in os.listdir(sink) if d.startswith("_epoch_id=")]
            )
        except FileNotFoundError:
            return 0

    t_all = time.monotonic()
    p1 = _spawn()
    deadline = time.monotonic() + _phase_seconds(600)
    while time.monotonic() < deadline:
        if os.path.exists(os.path.join(work, "DONE")):
            raise SystemExit(
                "drain finished before the kill — lower max_per_batch"
            )
        if _epochs() >= 3:
            break
        time.sleep(0.2)
    epochs_at_kill = _epochs()
    os.killpg(os.getpgid(p1.pid), signal.SIGKILL)
    p1.wait()

    p2 = _spawn()
    rc = p2.wait(timeout=_phase_seconds(600))
    assert rc == 0, f"restart phase failed rc={rc}"
    assert os.path.exists(os.path.join(work, "DONE"))
    total_s = time.monotonic() - t_all

    # expected closed sessions per queue, from the publishing arithmetic
    # (the flush closes the last real session; the flush's own
    # 1-event session stays open and must NOT appear at the sink)
    expected = set()
    for qq, c in zip(queues, counts):
        for s in range((c + _SESS_G - 1) // _SESS_G):
            lo, hi = s * _SESS_G, min((s + 1) * _SESS_G, c)
            expected.add(
                (qq, _sess_ts_us(lo), _sess_ts_us(hi - 1), hi - lo)
            )

    import duckdb

    rows = (
        duckdb.connect()
        .execute(
            f"""SELECT key, CAST(epoch_us(session_start) AS BIGINT),
                       CAST(epoch_us(session_end) AS BIGINT),
                       CAST(n_events AS BIGINT), count(*) AS emitted
                FROM read_parquet('{sink}/*/*.parquet', hive_partitioning=1)
                GROUP BY 1, 2, 3, 4"""
        )
        .fetchall()
    )
    got = {tuple(r[:4]) for r in rows}
    dupes = [r for r in rows if r[4] > 1]
    acked = sum(fake_broker.acked_count(broker, qq) for qq in queues)
    out = {
        "mode": "sessionize",
        "messages": sum(counts),
        "queues": k,
        "skew": skew,
        "hot_key_events": counts[0],
        "epochs_at_kill": epochs_at_kill,
        "sessions_expected": len(expected),
        "sessions_at_sink": len(got),
        "duplicate_rows": len(dupes),
        "sessions_exact": got == expected,
        "state_rows_peak": _done_state_rows(work),
        "acked": acked,
        "total_s": round(total_s, 2),
        "msg_per_s": round(sum(counts) / total_s),
    }
    assert not dupes, f"duplicate session emissions: {dupes[:3]}"
    assert got == expected, (
        f"sessions diverged: missing={list(expected - got)[:3]} "
        f"extra={list(got - expected)[:3]}"
    )
    for qq, c in zip(queues, counts):
        a = fake_broker.acked_count(broker, qq)
        assert a >= c, f"{qq}: only {a}/{c} real messages acked"
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


# funnel soak constants: every user's event-TYPE sequence is one of two
# fixed patterns cycled (user parity picks it), so the expected final
# stage is a pure function of the pattern — computable without
# replicating batching. Delivery is in (ts, id) order per user, where
# the online monotone machine EQUALS greedy earliest-match (the batch
# oracle), so the ground truth is batching-independent.
_FUNNEL_STAGES = ("view", "click", "purchase")
_PATTERN_ODD = ("view", "click", "noise", "purchase")  # completes: stage 3
_PATTERN_EVEN = ("click", "view", "noise", "view")  # stalls: stage 1


def _funnel_expected(pattern: tuple[str, ...]) -> int:
    stage = 0
    for t in pattern:
        if stage < len(_FUNNEL_STAGES) and t == _FUNNEL_STAGES[stage]:
            stage += 1
    return stage


def _publish_funnel(broker: str, queues: list[str], per_q: int, users: int) -> None:
    base_us = 1_700_000_000_000_000
    for q in queues:
        fake_broker.create_queue(broker, q)
        fake_broker.publish(
            broker,
            q,
            [
                f"{q}_u{i % users}:"
                f"{(_PATTERN_ODD if (i % users) % 2 else _PATTERN_EVEN)[(i // users) % 4]}"
                for i in range(per_q)
            ],
            sender_timestamp_us=[base_us + i * 1_000_000 for i in range(per_q)],
        )


def _publish_funnel_skew(
    broker: str, queues: list[str], cold_users: int, hot_mult: int
) -> None:
    """Hot-user funnel stream (VERDICT r10 Next #3): per queue,
    ``cold_users`` users each receive the 8-event parity pattern
    (exactly like _publish_funnel) while ONE hot user receives
    ``8 * hot_mult`` events — ``hot_mult``:1 key skew, half the
    queue's stream on a single funnel key when hot_mult == cold_users.
    The hot user runs the STALLING pattern cycled, so its expected
    final stage sits below the cap and a replay-overcount on the hot
    key itself is visible. Per-user delivery order still follows the
    pattern (timestamps increase with publish index), so greedy
    earliest-match ground truth holds."""
    base_us = 1_700_000_000_000_000
    for q in queues:
        msgs: list[str] = []
        pos_hot = 0
        for step in range(8):  # two 4-event pattern cycles for cold users
            for u in range(cold_users):
                pat = _PATTERN_ODD if u % 2 else _PATTERN_EVEN
                msgs.append(f"{q}_u{u}:{pat[step % 4]}")
            for _ in range(hot_mult):
                msgs.append(f"{q}_hot:{_PATTERN_EVEN[pos_hot % 4]}")
                pos_hot += 1
        fake_broker.create_queue(broker, q)
        fake_broker.publish(
            broker,
            q,
            msgs,
            sender_timestamp_us=[
                base_us + i * 1_000_000 for i in range(len(msgs))
            ],
        )


def funnel_drain_phase(work: str, k: int, max_per_batch: int) -> None:
    """Child process for the FUNNEL soak (round 10): the per-user stage
    machine with the per-(key,queue) hwm map sits between the source
    and the idempotent sink, so the SIGKILL lands on live funnel state
    across ~10k users."""
    import uuid

    from pyspark.sql import functions as F

    from solace_apache_beam_spark.session import get_spark
    from solace_apache_beam_spark.sinks.warehouse import make_idempotent_appender
    from solace_apache_beam_spark.streaming.pipelines import open_stream
    from solace_apache_beam_spark.streaming.stateful import funnel_progress

    queues = [f"q{i}" for i in range(1, k + 1)]
    broker_dir = os.path.join(work, "broker")
    spark = get_spark("soak_funnel_phase")
    stream = open_stream(
        spark, broker_dir, queues, max_records_per_batch=max_per_batch
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
            _FUNNEL_STAGES,
            key_col="user",
            dedupe_by=("destination", "message_id"),
        )
        .writeStream.outputMode("update")
        .foreachBatch(make_idempotent_appender(os.path.join(work, "sink")))
        .option("checkpointLocation", os.path.join(work, "cp"))
        .start()
    )

    def _undelivered() -> int:
        return sum(
            fake_broker.message_count(broker_dir, qq)
            - fake_broker.delivered_watermark(broker_dir, qq)
            for qq in queues
        )

    t0 = time.monotonic()
    q.processAllAvailable()
    while _undelivered() > 0:
        time.sleep(0.1)
        q.processAllAvailable()
    tag = uuid.uuid4().hex[:8]
    for qq in queues:
        fake_broker.publish(broker_dir, qq, [f"__flush__{qq}:{tag}"])
    q.processAllAvailable()
    while _undelivered() > 0:
        time.sleep(0.1)
        q.processAllAvailable()
    elapsed = time.monotonic() - t0
    peak_state = _peak_state_rows(q)
    q.stop()
    with open(os.path.join(work, "DONE"), "w") as f:
        json.dump({"elapsed": round(elapsed, 2), "state_rows_peak": peak_state}, f)


def funnel_kill_restart_soak(n: int, k: int, skew: int = 1) -> None:
    """Kill-restart soak THROUGH the funnel stage machine. Ground truth
    is per-user exact: user parity picks the event-type pattern, so
    every odd user must finish at stage 3 and every even user at stage
    1 — a lost state version undercounts a stage, a replay-advanced
    straggler or double-applied batch overcounts one, and with HALF the
    population pinned below the top stage an overcount is visible (an
    all-users-complete design would hide it at the cap).

    ``skew`` > 1 requests the hot-user variant: one user per queue
    receives HALF that queue's events (hot_mult = per_q // 16 events
    x8, so the realized key-skew ratio is per_q/16 : 1 — asserted
    >= ``skew``), dominating every microbatch's largest
    applyInPandasWithState group and its update-mode emission volume.
    The hot user runs the stalling pattern, so replay overcounts on
    the hot key itself are visible below the stage cap."""
    queues = [f"q{i}" for i in range(1, k + 1)]
    per_q = n // k
    work = tempfile.mkdtemp(prefix="soak_fun_")
    broker = os.path.join(work, "broker")
    if skew > 1:
        hot_mult = per_q // 16
        assert hot_mult >= skew, (
            f"need n >= {16 * skew * k} for a {skew}:1 hot user "
            f"(got hot_mult={hot_mult})"
        )
        cold_users = hot_mult  # hot user = half of each queue's stream
        per_q = 8 * (cold_users + hot_mult)
        users = cold_users
        _publish_funnel_skew(broker, queues, cold_users, hot_mult)
    else:
        hot_mult = 0
        users = max(2, per_q // 8)  # 8 events/user: two pattern cycles
        _publish_funnel(broker, queues, per_q, users)
    sink = os.path.join(work, "sink")
    # ~10 epochs: enough staggering that the kill lands mid-drain with
    # >=3 committed (the contract's requirement) without paying 25
    # per-epoch commit overheads per phase (suite-runtime cap, r11)
    max_per_batch = max(1, per_q // 10)

    def _spawn() -> subprocess.Popen:
        return subprocess.Popen(
            [
                sys.executable,
                os.path.abspath(__file__),
                "--phase-funnel",
                work,
                str(k),
                str(max_per_batch),
            ],
            start_new_session=True,
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
        )

    def _epochs() -> int:
        try:
            return len(
                [d for d in os.listdir(sink) if d.startswith("_epoch_id=")]
            )
        except FileNotFoundError:
            return 0

    t_all = time.monotonic()
    p1 = _spawn()
    deadline = time.monotonic() + _phase_seconds(600)
    while time.monotonic() < deadline:
        if os.path.exists(os.path.join(work, "DONE")):
            raise SystemExit(
                "drain finished before the kill — lower max_per_batch"
            )
        if _epochs() >= 3:
            break
        time.sleep(0.2)
    epochs_at_kill = _epochs()
    os.killpg(os.getpgid(p1.pid), signal.SIGKILL)
    p1.wait()

    p2 = _spawn()
    rc = p2.wait(timeout=_phase_seconds(600))
    assert rc == 0, f"restart phase failed rc={rc}"
    assert os.path.exists(os.path.join(work, "DONE"))
    total_s = time.monotonic() - t_all

    # a user's event-type sequence is the pattern CYCLED (8 events =
    # 2 cycles), and later cycles can legitimately advance the machine
    # (the even pattern's second-cycle "click" follows a first-cycle
    # "view" -> stage 2) — replay the FULL sequence, not one cycle
    cycles = 2 if skew > 1 else (per_q // users) // len(_PATTERN_ODD)
    exp_odd = _funnel_expected(_PATTERN_ODD * cycles)
    exp_even = _funnel_expected(_PATTERN_EVEN * cycles)
    assert exp_even < len(_FUNNEL_STAGES), (
        "ground-truth design: half the population must sit below the "
        "top stage or an overcount is invisible at the cap"
    )
    expected = {
        f"{q}_u{i}": (exp_odd if i % 2 else exp_even)
        for q in queues
        for i in range(users)
    }
    if skew > 1:
        # hot user: the stalling pattern cycled over its whole stream
        exp_hot = _funnel_expected(_PATTERN_EVEN * (2 * hot_mult))
        assert exp_hot < len(_FUNNEL_STAGES), (
            "the hot user must sit below the cap or its overcount hides"
        )
        for q in queues:
            expected[f"{q}_hot"] = exp_hot

    import duckdb

    rows = (
        duckdb.connect()
        .execute(
            f"""SELECT key, max(stage_reached)
                FROM read_parquet('{sink}/*/*.parquet', hive_partitioning=1)
                WHERE key NOT LIKE '__flush__%'
                GROUP BY key"""
        )
        .fetchall()
    )
    got = {r[0]: r[1] for r in rows}
    acked = sum(fake_broker.acked_count(broker, qq) for qq in queues)
    diverged = {
        u: (got.get(u), expected[u])
        for u in expected
        if got.get(u) != expected[u]
    }
    out = {
        "mode": "funnel",
        "messages": per_q * k,
        "queues": k,
        "users": len(expected),
        "skew_ratio": hot_mult if skew > 1 else 1,
        "hot_user_events": 8 * hot_mult,
        "epochs_at_kill": epochs_at_kill,
        "stages_exact": not diverged,
        "n_diverged": len(diverged),
        "state_rows_peak": _done_state_rows(work),
        "acked": acked,
        "total_s": round(total_s, 2),
        "msg_per_s": round(per_q * k / total_s),
    }
    assert not diverged, f"funnel diverged for {len(diverged)} users: " + str(
        dict(list(diverged.items())[:3])
    )
    for qq in queues:
        a = fake_broker.acked_count(broker, qq)
        assert a >= per_q, f"{qq}: only {a}/{per_q} real messages acked"
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


# incremental-dedup soak constants (VERDICT r10 Next #7): the streaming
# composition of build_corpus_index + incremental_dedup — source ->
# per-microbatch near-dup screen against the PERSISTED corpus index ->
# idempotent warehouse append. Per-doc status is a pure function of
# (doc, corpus index), so the ground truth is the batch operator run
# once over the full published log — batching-independent by
# construction, which is exactly what makes the streaming-vs-batch
# equality a real exactness contract through a kill-restart.
_INC_CORPUS = 400  # reference-corpus docs
_INC_WORDS = 24  # words per doc (3-shingles: 22/doc)
_INC_PARAMS = dict(shingle_n=3, n_perm=16, n_bands=4, threshold=0.5)


def _inc_word(v: int) -> str:
    """Deterministic all-LETTER word for value v — the shingle
    tokenizer splits on [^\\p{L}]+ (hashing.words_expr), so words must
    carry their identity in letters, not digits."""
    v %= 17576  # 26^3
    return "".join(
        "abcdefghijklmnopqrstuvwxyz"[(v // 26**p) % 26] for p in range(3)
    )


def _inc_corpus_text(c: int) -> str:
    # corpus word values stay < 997 — disjoint from the >=1000 range
    # unique docs and mutations draw from, so 'unique' is guaranteed
    return " ".join(
        _inc_word((c * 13 + j * 7) % 997) for j in range(_INC_WORDS)
    )


def _inc_doc_text(i: int) -> str:
    """Incoming doc i: 25% exact corpus dups, 25% one-word-mutated near
    dups (shingle jaccard ~0.76 — above threshold; LSH banding may
    still miss some, and the batch reference misses the SAME ones),
    50% unique (letter-words from the disjoint value range — zero
    shingle overlap with the corpus)."""
    kind = i % 4
    if kind == 0:
        return _inc_corpus_text((i * 7) % _INC_CORPUS)
    if kind == 1:
        words = _inc_corpus_text((i * 11) % _INC_CORPUS).split()
        words[i % _INC_WORDS] = _inc_word(1000 + i % 16000)
        return " ".join(words)
    return " ".join(
        _inc_word(1000 + (i * 29 + j) % 16000) for j in range(_INC_WORDS)
    )


def _publish_incdedup(broker: str, queues: list[str], per_q: int) -> None:
    """Payload = "<doc_id>|<text>"; doc ids globally unique across
    queues so the sink's per-doc rows key cleanly."""
    for qi, q in enumerate(queues):
        fake_broker.create_queue(broker, q)
        fake_broker.publish(
            broker,
            q,
            [
                f"{qi * per_q + j}|{_inc_doc_text(qi * per_q + j)}"
                for j in range(per_q)
            ],
        )


def _inc_index_paths(work: str) -> dict:
    return {
        name: os.path.join(work, "index", name)
        for name in ("hashes", "shingles", "bands")
    }


def _ensure_inc_index(work: str, spark) -> dict:
    """Build-and-persist the corpus index artifacts if this work dir
    doesn't have them yet (the killed first phase may have died
    mid-build: every artifact is written mode=overwrite and the marker
    lands only after all three, so a restart rebuilds cleanly).
    Returns the read-back frames — the production table shape."""
    from pyspark.sql import Row

    from solace_apache_beam_spark.llm.dedup import build_corpus_index

    paths = _inc_index_paths(work)
    marker = os.path.join(work, "index", "_BUILT")
    if not os.path.exists(marker):
        corpus = spark.createDataFrame(
            [
                Row(doc_id=c, text=_inc_corpus_text(c))
                for c in range(_INC_CORPUS)
            ]
        )
        idx = build_corpus_index(
            corpus,
            shingle_n=_INC_PARAMS["shingle_n"],
            n_perm=_INC_PARAMS["n_perm"],
            n_bands=_INC_PARAMS["n_bands"],
        )
        for name, path in paths.items():
            idx[name].write.mode("overwrite").parquet(path)
        idx.unpersist()
        with open(marker, "w") as f:
            f.write("ok")
    return {name: spark.read.parquet(path) for name, path in paths.items()}


def incdedup_drain_phase(
    work: str, k: int, max_per_batch: int, per_q: int
) -> None:
    """Child process for the incremental-dedup soak: every microbatch
    is screened against the persisted corpus index (exact md5 stage +
    LSH band-join + shingle-Jaccard verify — the full
    incremental_dedup graph) inside foreachBatch, statuses land in the
    idempotent per-epoch sink. After the drain the SAME process writes
    the batch reference: incremental_dedup over the entire published
    log as ONE batch, against the SAME read-back index."""
    import uuid

    from pyspark.sql import functions as F

    from solace_apache_beam_spark.llm.dedup import incremental_dedup
    from solace_apache_beam_spark.session import get_spark
    from solace_apache_beam_spark.sinks.warehouse import make_idempotent_appender
    from solace_apache_beam_spark.streaming.pipelines import open_stream

    queues = [f"q{i}" for i in range(1, k + 1)]
    broker_dir = os.path.join(work, "broker")
    spark = get_spark("soak_incdedup_phase")
    index = _ensure_inc_index(work, spark)
    appender = make_idempotent_appender(os.path.join(work, "sink"))

    def screen(batch_df, epoch_id: int) -> None:
        docs = (
            batch_df.filter(~F.col("payload").startswith("__flush__"))
            .select(
                F.split("payload", "\\|", 2).getItem(0).cast("long").alias("doc_id"),
                F.split("payload", "\\|", 2).getItem(1).alias("text"),
            )
        )
        out = incremental_dedup(docs, corpus_index=index, **_INC_PARAMS)
        appender(out, epoch_id)
        out.plan_caches.unpersist()

    stream = open_stream(
        spark, broker_dir, queues, max_records_per_batch=max_per_batch
    )
    q = (
        stream.writeStream.foreachBatch(screen)
        .option("checkpointLocation", os.path.join(work, "cp"))
        .start()
    )

    def _undelivered() -> int:
        return sum(
            fake_broker.message_count(broker_dir, qq)
            - fake_broker.delivered_watermark(broker_dir, qq)
            for qq in queues
        )

    t0 = time.monotonic()
    q.processAllAvailable()
    while _undelivered() > 0:
        time.sleep(0.1)
        q.processAllAvailable()
    tag = uuid.uuid4().hex[:8]
    for qq in queues:
        fake_broker.publish(broker_dir, qq, [f"__flush__ {qq} {tag}"])
    q.processAllAvailable()
    while _undelivered() > 0:
        time.sleep(0.1)
        q.processAllAvailable()
    elapsed = time.monotonic() - t0
    q.stop()

    # batch reference over the full log (only the surviving process
    # reaches this; deterministic, so WHO writes it doesn't matter)
    from pyspark.sql import Row

    all_docs = spark.createDataFrame(
        [
            Row(doc_id=i, text=_inc_doc_text(i))
            for i in range(per_q * k)
        ]
    )
    ref = incremental_dedup(all_docs, corpus_index=index, **_INC_PARAMS)
    ref.write.mode("overwrite").parquet(os.path.join(work, "expected"))
    ref.plan_caches.unpersist()
    with open(os.path.join(work, "DONE"), "w") as f:
        json.dump({"elapsed": round(elapsed, 2)}, f)


def incdedup_kill_restart_soak(n: int, k: int) -> None:
    """Kill-restart soak through the STREAMING incremental-dedup
    composition (VERDICT r10 Next #7 — the LLM-ingestion shape:
    SolaceRecordTest.java:133-147's dedup sample composed with the
    BigQuery ingest shape SolaceBigQuery.java:146-211). Exactness
    contract: DISTINCT per-doc screening rows at the sink equal the
    batch operator's output over the full replayed log — zero loss,
    zero invention, per-doc status/match/jaccard all equal — and every
    doc carries exactly ONE distinct row (replayed epochs may duplicate
    rows across epochs; the idempotent sink bounds them and they must
    collapse under DISTINCT with no contradiction)."""
    queues = [f"q{i}" for i in range(1, k + 1)]
    per_q = n // k
    work = tempfile.mkdtemp(prefix="soak_inc_")
    broker = os.path.join(work, "broker")
    _publish_incdedup(broker, queues, per_q)
    sink = os.path.join(work, "sink")
    max_per_batch = max(1, per_q // 8)

    def _spawn() -> subprocess.Popen:
        return subprocess.Popen(
            [
                sys.executable,
                os.path.abspath(__file__),
                "--phase-incdedup",
                work,
                str(k),
                str(max_per_batch),
                str(per_q),
            ],
            start_new_session=True,
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
        )

    def _epochs() -> int:
        try:
            return len(
                [d for d in os.listdir(sink) if d.startswith("_epoch_id=")]
            )
        except FileNotFoundError:
            return 0

    t_all = time.monotonic()
    p1 = _spawn()
    deadline = time.monotonic() + _phase_seconds(900)
    while time.monotonic() < deadline:
        if os.path.exists(os.path.join(work, "DONE")):
            raise SystemExit(
                "drain finished before the kill — lower max_per_batch"
            )
        if _epochs() >= 3:
            break
        time.sleep(0.2)
    epochs_at_kill = _epochs()
    os.killpg(os.getpgid(p1.pid), signal.SIGKILL)
    p1.wait()

    p2 = _spawn()
    rc = p2.wait(timeout=_phase_seconds(900))
    assert rc == 0, f"restart phase failed rc={rc}"
    assert os.path.exists(os.path.join(work, "DONE"))
    total_s = time.monotonic() - t_all

    import duckdb

    con = duckdb.connect()
    got_rows = con.execute(
        f"""SELECT doc_id, status, match_id, jaccard, count(*) AS copies
            FROM read_parquet('{sink}/*/*.parquet', hive_partitioning=1)
            GROUP BY 1, 2, 3, 4"""
    ).fetchall()
    exp_rows = con.execute(
        f"""SELECT doc_id, status, match_id, jaccard
            FROM read_parquet('{work}/expected/*.parquet')"""
    ).fetchall()
    got = {tuple(r[:4]) for r in got_rows}
    expected = set(map(tuple, exp_rows))
    replay_dupes = sum(r[4] - 1 for r in got_rows)
    by_status: dict[str, int] = {}
    for r in exp_rows:
        by_status[r[1]] = by_status.get(r[1], 0) + 1
    acked = sum(fake_broker.acked_count(broker, qq) for qq in queues)
    out = {
        "mode": "incremental_dedup",
        "messages": per_q * k,
        "queues": k,
        "corpus_docs": _INC_CORPUS,
        "epochs_at_kill": epochs_at_kill,
        "docs_screened": len(got),
        "screen_exact_vs_batch": got == expected,
        "status_mix": by_status,
        "replay_duplicate_rows": replay_dupes,
        "acked": acked,
        "total_s": round(total_s, 2),
        "msg_per_s": round(per_q * k / total_s),
    }
    assert got == expected, (
        f"streaming screen diverged from batch reference: "
        f"missing={list(expected - got)[:3]} extra={list(got - expected)[:3]}"
    )
    assert len({r[0] for r in got_rows}) == len(got_rows), (
        "a doc_id carries two contradictory screening rows"
    )
    # the generator guarantees a non-trivial mix — a vacuously-unique
    # stream would pass the equality without exercising the dup stages
    assert by_status.get("exact_dup", 0) > 0
    assert by_status.get("near_dup", 0) > 0
    assert by_status.get("unique", 0) > 0
    for qq in queues:
        a = fake_broker.acked_count(broker, qq)
        assert a >= per_q, f"{qq}: only {a}/{per_q} real messages acked"
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


# growing-corpus streaming ingestion (round 11 stretch): the FULL
# self-referential LLM-ingestion loop — each epoch's unique survivors
# JOIN the corpus index, so later batches dedup against everything
# ingested before them. Exactness contract: the committed per-epoch
# statuses must equal a sequential FOLD of the batch operator over the
# committed epochs (same per-epoch doc sets, index grown the same way)
# — this pins the plumbing the static-index soak cannot see: index
# growth visibility (epoch N sees exactly epochs < N), replay
# idempotence of BOTH sinks, and exactly-once delivery into the screen
# (per-queue committed-id high-water marks, the same replay-marks idiom
# as streaming/stateful.py, persisted per epoch beside the index).
_INC_GROW_ID_BASE = 1_000_000  # incoming ids disjoint from corpus 0..399


def _inc_grow_text(j: int, lag: int) -> str:
    """Incoming doc j of the growing-corpus stream: kinds 0-2 as in
    _inc_doc_text (exact-base dup / near-base dup / unique); kind 3 is
    an exact copy of the kind-2 doc ``lag`` positions earlier (lag is
    chosen ≡ 1 mod 4 so j-lag lands on a kind-2 doc) — with lag spanning
    multiple epochs, these MUST come back exact_dup against the GROWN
    index, proving the loop actually grows."""
    if j % 4 == 3 and j - lag >= 0:
        return _inc_doc_text(j - lag)
    return _inc_doc_text(j)


def _publish_incgrow(
    broker: str, queues: list[str], per_q: int, lag: int
) -> None:
    for qi, q in enumerate(queues):
        fake_broker.create_queue(broker, q)
        fake_broker.publish(
            broker,
            q,
            [
                f"{_INC_GROW_ID_BASE + qi * per_q + j}|"
                f"{_inc_grow_text(qi * per_q + j, lag)}"
                for j in range(per_q)
            ],
        )


def incgrow_drain_phase(
    work: str, k: int, max_per_batch: int, per_q: int, lag: int
) -> None:
    """Child process for the growing-corpus soak. Every microbatch:

    1. replay guard — drop rows at-or-below the per-queue id high-water
       mark committed by epochs < this one (broker replay after the
       SIGKILL would otherwise re-ingest screened docs and flip their
       status against the by-then-grown index);
    2. screen against base index UNION grown partitions with
       epoch < this one (a re-executed epoch must see exactly the index
       it saw the first time — its own torn partitions are excluded);
    3. statuses -> idempotent per-epoch status sink;
    4. unique survivors' index rows (hashes/shingles/bands) -> grown
       index partitions keyed by epoch (dynamic overwrite = replay
       idempotent); per-queue max ids -> the bookkeeping table, same
       discipline.

    After the drain, the surviving process writes the FOLD reference:
    the batch operator applied sequentially to the committed epochs'
    exact doc sets, growing a reference index the same way."""
    import uuid

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from solace_apache_beam_spark.llm.dedup import (
        build_corpus_index,
        incremental_dedup,
    )
    from solace_apache_beam_spark.session import get_spark
    from solace_apache_beam_spark.streaming.ingestion import (
        make_corpus_ingestion_screen,
    )
    from solace_apache_beam_spark.streaming.pipelines import open_stream

    queues = [f"q{i}" for i in range(1, k + 1)]
    broker_dir = os.path.join(work, "broker")
    spark = get_spark("soak_incgrow_phase")
    base = _ensure_inc_index(work, spark)
    grow_dir = os.path.join(work, "grown")
    book_dir = os.path.join(work, "book")
    sink_dir = os.path.join(work, "sink")
    bparams = {kk: _INC_PARAMS[kk] for kk in ("shingle_n", "n_perm", "n_bands")}

    screen = make_corpus_ingestion_screen(
        spark, base, sink_dir, grow_dir, book_dir, **_INC_PARAMS
    )

    stream = open_stream(
        spark, broker_dir, queues, max_records_per_batch=max_per_batch
    ).filter(~F.col("payload").startswith("__flush__")).select(
        "destination",
        "message_id",
        F.split("payload", "\\|", 2).getItem(0).cast("long").alias("doc_id"),
        F.split("payload", "\\|", 2).getItem(1).alias("text"),
    )
    q = (
        stream.writeStream.foreachBatch(screen)
        .option("checkpointLocation", os.path.join(work, "cp"))
        .start()
    )

    def _undelivered() -> int:
        return sum(
            fake_broker.message_count(broker_dir, qq)
            - fake_broker.delivered_watermark(broker_dir, qq)
            for qq in queues
        )

    t0 = time.monotonic()
    q.processAllAvailable()
    while _undelivered() > 0:
        time.sleep(0.1)
        q.processAllAvailable()
    tag = uuid.uuid4().hex[:8]
    for qq in queues:
        fake_broker.publish(broker_dir, qq, [f"__flush__ {qq} {tag}"])
    q.processAllAvailable()
    while _undelivered() > 0:
        time.sleep(0.1)
        q.processAllAvailable()
    elapsed = time.monotonic() - t0
    q.stop()

    # FOLD reference over the committed epochs (duckdb enumerates the
    # sink's epoch partitions; pyarrow would skip the _epoch_id dirs)
    import duckdb

    ep_docs = (
        duckdb.connect()
        .execute(
            f"""SELECT _epoch_id, list(doc_id ORDER BY doc_id)
                FROM read_parquet('{sink_dir}/*/*.parquet',
                                  hive_partitioning=1)
                GROUP BY _epoch_id ORDER BY _epoch_id"""
        )
        .fetchall()
    )
    ref_idx = dict(base)
    expected = []
    for ep, ids in ep_docs:
        if not ids:
            continue
        docs = spark.createDataFrame(
            [
                Row(doc_id=i, text=_inc_grow_text(i - _INC_GROW_ID_BASE, lag))
                for i in ids
            ]
        )
        ref = incremental_dedup(docs, corpus_index=ref_idx, **_INC_PARAMS)
        got = ref.collect()
        expected += [
            Row(
                doc_id=r.doc_id,
                status=r.status,
                match_id=r.match_id,
                jaccard=r.jaccard,
                epoch=int(ep),
            )
            for r in got
        ]
        uniq = docs.join(
            spark.createDataFrame(
                [Row(doc_id=r.doc_id) for r in got if r.status == "unique"],
                "doc_id long",
            ),
            "doc_id",
        )
        ref.plan_caches.unpersist()
        gidx = build_corpus_index(uniq, **bparams)
        for name in ("hashes", "shingles", "bands"):
            # localCheckpoint: the fold's index lineage otherwise grows
            # by one union + one Arrow kernel per epoch
            ref_idx[name] = (
                ref_idx[name].unionByName(gidx[name]).localCheckpoint()
            )
        gidx.unpersist()
    spark.createDataFrame(
        expected,
        "doc_id long, status string, match_id long, jaccard double, epoch long",
    ).write.mode("overwrite").parquet(os.path.join(work, "expected"))
    with open(os.path.join(work, "DONE"), "w") as f:
        json.dump({"elapsed": round(elapsed, 2)}, f)


def incgrow_kill_restart_soak(n: int, k: int) -> None:
    """Kill-restart soak through the GROWING-corpus ingestion loop.
    Asserts, per committed epoch, streaming statuses == the sequential
    batch fold; globally one row per doc (no status contradictions —
    the replay marks worked); and that the growth path really engaged:
    some exact_dups matched GROWN index entries (match_id >= the
    incoming-id base), which only happens if later epochs saw earlier
    epochs' survivors."""
    queues = [f"q{i}" for i in range(1, k + 1)]
    per_q = n // k
    work = tempfile.mkdtemp(prefix="soak_grow_")
    broker = os.path.join(work, "broker")
    # ~5 epochs, not ~10: each epoch here is a full dedup graph PLUS
    # the index-growth writes, and the fold reference re-pays it — the
    # growth/replay contract needs >=3 committed epochs and one
    # cross-epoch lag, not epoch count
    max_per_batch = max(1, per_q // 5)
    # cross-epoch dup lag: ~2 epochs back, ≡ 1 mod 4 so the source is a
    # kind-2 (unique) doc
    lag = max(5, (2 * max_per_batch) // 4 * 4 + 1)
    _publish_incgrow(broker, queues, per_q, lag)
    sink = os.path.join(work, "sink")

    def _spawn() -> subprocess.Popen:
        return subprocess.Popen(
            [
                sys.executable,
                os.path.abspath(__file__),
                "--phase-incgrow",
                work,
                str(k),
                str(max_per_batch),
                str(per_q),
                str(lag),
            ],
            start_new_session=True,
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
        )

    def _epochs() -> int:
        try:
            return len(
                [d for d in os.listdir(sink) if d.startswith("_epoch_id=")]
            )
        except FileNotFoundError:
            return 0

    t_all = time.monotonic()
    p1 = _spawn()
    deadline = time.monotonic() + _phase_seconds(900)
    while time.monotonic() < deadline:
        if os.path.exists(os.path.join(work, "DONE")):
            raise SystemExit(
                "drain finished before the kill — lower max_per_batch"
            )
        if _epochs() >= 3:
            break
        time.sleep(0.2)
    epochs_at_kill = _epochs()
    os.killpg(os.getpgid(p1.pid), signal.SIGKILL)
    p1.wait()

    p2 = _spawn()
    rc = p2.wait(timeout=_phase_seconds(900))
    assert rc == 0, f"restart phase failed rc={rc}"
    assert os.path.exists(os.path.join(work, "DONE"))
    total_s = time.monotonic() - t_all

    import duckdb

    con = duckdb.connect()
    got_rows = con.execute(
        f"""SELECT doc_id, status, match_id, jaccard,
                   CAST(_epoch_id AS BIGINT), count(*)
            FROM read_parquet('{sink}/*/*.parquet', hive_partitioning=1)
            GROUP BY 1, 2, 3, 4, 5"""
    ).fetchall()
    exp_rows = con.execute(
        f"""SELECT doc_id, status, match_id, jaccard, epoch
            FROM read_parquet('{work}/expected/*.parquet')"""
    ).fetchall()
    got = {tuple(r[:5]) for r in got_rows}
    expected = set(map(tuple, exp_rows))
    grown_hits = sum(
        1
        for r in got_rows
        if r[1] == "exact_dup" and r[2] is not None and r[2] >= _INC_GROW_ID_BASE
    )
    near_grown = sum(
        1
        for r in got_rows
        if r[1] == "near_dup" and r[2] is not None and r[2] >= _INC_GROW_ID_BASE
    )
    by_status: dict[str, int] = {}
    for r in got_rows:
        by_status[r[1]] = by_status.get(r[1], 0) + 1
    doc_ids = [r[0] for r in got_rows]
    out = {
        "mode": "incdedup_grow",
        "messages": per_q * k,
        "queues": k,
        "corpus_docs_base": _INC_CORPUS,
        "epochs_at_kill": epochs_at_kill,
        "epochs_committed": len({r[4] for r in got_rows}),
        "docs_screened": len(doc_ids),
        "fold_exact": got == expected,
        "status_mix": by_status,
        "grown_exact_hits": grown_hits,
        "grown_near_hits": near_grown,
        "total_s": round(total_s, 2),
        "msg_per_s": round(per_q * k / total_s),
    }
    assert got == expected, (
        f"streaming loop diverged from the sequential batch fold: "
        f"missing={list(expected - got)[:3]} extra={list(got - expected)[:3]}"
    )
    assert len(set(doc_ids)) == len(doc_ids), (
        "a doc was screened twice (replay marks failed)"
    )
    assert len(set(doc_ids)) == per_q * k, "lost docs"
    assert grown_hits > 0, (
        "no exact_dup ever matched a grown-index entry — the loop "
        "never actually grew"
    )
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))



def incgrow_throughput_soak(n: int, k: int, batch_per_q: int) -> None:
    """Production-batch THROUGHPUT point for the growing-corpus
    ingestion loop (VERDICT r11 Next #3): the kill-restart soaks prove
    fold-exactness but ran at fixed-per-epoch-overhead dominance
    (~617 msg/s at 50k docs in 10k-doc epochs); this mode runs the SAME
    screen — replay marks, epoch-consistent index union, all three
    epoch-partitioned sinks — in-process with production-sized epochs
    (``batch_per_q`` per queue, so epoch size = k * batch_per_q) and
    reports the per-epoch wall times plus a final-index read probe, so
    the msg/s number isolates the index-join-bound regime the 100 TB
    story rests on. No kill (exactness is the other soaks' job), no
    fold reference (it would double the runtime without adding a
    contract this mode is about).

    Output JSON: epoch times (the growth trend IS the signal — a
    superlinear rise would mean the index join degrades as the corpus
    grows), msg/s overall and for the steady tail (epochs after the
    first, which pays codegen/worker-pool warmup), final grown-index
    row counts, and the time to scan+count the final index union (the
    fixed per-epoch read the screen pays on top of the join).
    """
    import uuid

    from pyspark.sql import functions as F

    from solace_apache_beam_spark.session import get_spark
    from solace_apache_beam_spark.streaming.ingestion import (
        make_corpus_ingestion_screen,
    )
    from solace_apache_beam_spark.streaming.pipelines import open_stream

    queues = [f"q{i}" for i in range(1, k + 1)]
    per_q = n // k
    work = tempfile.mkdtemp(prefix="soak_growtp_")
    broker_dir = os.path.join(work, "broker")
    lag = max(5, (2 * batch_per_q) // 4 * 4 + 1)
    _publish_incgrow(broker_dir, queues, per_q, lag)

    spark = get_spark("soak_incgrow_throughput")
    base = _ensure_inc_index(work, spark)

    # steady-state methodology (round 14, same rationale as bench.py's
    # warmup): this mode measures the index-join-bound regime, so pay
    # the one-time process costs BEFORE the stream starts — spawn the
    # whole Python worker pool, then run ONE dry screen pass (no sink
    # writes, throwaway ids far outside every real range) so the dedup
    # DAG's codegen/Arrow serializers compile outside the timed epochs.
    # Without this, epochs 0-3 measured 8-16 s against a 4.4-5 s steady
    # tail on identical plans — the warmup cliff, not epoch work.
    def _warm(it):
        yield from it

    spark.range(0, 32, 1, 32).mapInPandas(_warm, "id long").write.format(
        "noop"
    ).mode("overwrite").save()
    from pyspark.sql import Row

    from solace_apache_beam_spark.llm.dedup import incremental_dedup

    dry = incremental_dedup(
        spark.createDataFrame(
            [
                Row(doc_id=-10_000_000 - i, text=_inc_grow_text(i, lag))
                for i in range(500)
            ]
        ),
        corpus_index=dict(base),
        **_INC_PARAMS,
    )
    dry.write.format("noop").mode("overwrite").save()
    dry.plan_caches.unpersist()

    grow_dir = os.path.join(work, "grown")
    screen = make_corpus_ingestion_screen(
        spark,
        base,
        os.path.join(work, "sink"),
        grow_dir,
        os.path.join(work, "book"),
        # production-tuned reducer count: the screen's frames are
        # epoch-bounded, so corpus-scale reducers (local default 32)
        # buy pure task-scheduling overhead — the knob this throughput
        # mode exists to measure (round 13); the kill-restart soaks
        # deliberately leave it at None so BOTH paths stay exercised
        shuffle_partitions=8,
        **_INC_PARAMS,
    )

    epoch_times: list[tuple[int, float, int]] = []

    def timed_screen(batch_df, epoch_id: int) -> None:
        rows = batch_df.count()
        t0 = time.monotonic()
        screen(batch_df, epoch_id)
        epoch_times.append((int(epoch_id), round(time.monotonic() - t0, 2), rows))

    stream = (
        open_stream(
            spark, broker_dir, queues, max_records_per_batch=batch_per_q
        )
        .filter(~F.col("payload").startswith("__flush__"))
        .select(
            "destination",
            "message_id",
            F.split("payload", "\\|", 2).getItem(0).cast("long").alias("doc_id"),
            F.split("payload", "\\|", 2).getItem(1).alias("text"),
        )
    )
    q = (
        stream.writeStream.foreachBatch(timed_screen)
        .option("checkpointLocation", os.path.join(work, "cp"))
        .start()
    )

    def _undelivered() -> int:
        return sum(
            fake_broker.message_count(broker_dir, qq)
            - fake_broker.delivered_watermark(broker_dir, qq)
            for qq in queues
        )

    t0 = time.monotonic()
    q.processAllAvailable()
    while _undelivered() > 0:
        time.sleep(0.1)
        q.processAllAvailable()
    tag = uuid.uuid4().hex[:8]
    for qq in queues:
        fake_broker.publish(broker_dir, qq, [f"__flush__ {qq} {tag}"])
    q.processAllAvailable()
    while _undelivered() > 0:
        time.sleep(0.1)
        q.processAllAvailable()
    elapsed = time.monotonic() - t0
    q.stop()

    # final-index probe: the fixed read+union every LATER epoch would
    # pay — scan cost of the grown partitions at end-of-run size
    index_rows = {}
    t_read0 = time.monotonic()
    for name in ("hashes", "shingles", "bands"):
        try:
            index_rows[name] = (
                spark.read.parquet(f"{grow_dir}/{name}").count()
            )
        except Exception:  # noqa: BLE001 — empty dir on tiny runs
            index_rows[name] = 0
    index_read_s = round(time.monotonic() - t_read0, 2)

    import duckdb

    by_status = dict(
        duckdb.connect()
        .execute(
            f"""SELECT status, count(*)
                FROM read_parquet('{work}/sink/*/*.parquet',
                                  hive_partitioning=1)
                GROUP BY status"""
        )
        .fetchall()
    )
    data_epochs = [e for e in epoch_times if e[2] > 0]
    tail = data_epochs[1:] or data_epochs
    tail_msgs = sum(r for _, _, r in tail)
    tail_s = sum(t for _, t, _ in tail)
    out = {
        "mode": "incdedup_grow_throughput",
        "shuffle_partitions": 8,
        "messages": per_q * k,
        "queues": k,
        "batch_per_q": batch_per_q,
        "epoch_size": batch_per_q * k,
        "epochs": len(data_epochs),
        "epoch_times_s": [(e, t) for e, t, _ in epoch_times],
        "status_mix": by_status,
        "grown_index_rows": index_rows,
        "final_index_read_s": index_read_s,
        "total_s": round(elapsed, 2),
        "msg_per_s": round(per_q * k / elapsed),
        "steady_msg_per_s": round(tail_msgs / tail_s) if tail_s else None,
    }
    assert sum(by_status.values()) == per_q * k, (
        f"screened {sum(by_status.values())} != published {per_q * k}"
    )
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


# --- growing-corpus SEMANTIC dedup soak (the embedding twin of the
# incgrow scenario): same kill-restart anatomy, same fold contract —
# committed statuses must equal a sequential fold of
# incremental_semantic_dedup over the committed epochs, growing a
# reference vector index the same way.
_SEM_DIM = 32
_SEM_CORPUS = 200
_SEM_ID_BASE = 1_000_000
_SEM_PARAMS = dict(threshold=0.6, n_planes=4, n_tables=2)


def _sem_rand_vec(tag: str) -> list:
    """Deterministic grid vector from md5(tag): components in
    {-4..4}/4 (exact binary fractions, so str() -> Spark double parse
    roundtrips bit-exactly). Pairwise cosines of distinct tags
    concentrate near 0 (sigma ~ 1/sqrt(dim)) — far below the 0.6
    threshold."""
    import hashlib

    out: list[float] = []
    i = 0
    while len(out) < _SEM_DIM:
        d = hashlib.md5(f"{tag}:{i}".encode()).digest()
        out.extend((b % 9 - 4) / 4.0 for b in d)
        i += 1
    return out[:_SEM_DIM]


def _sem_base_vec(c: int) -> list:
    return _sem_rand_vec(f"sembase:{c % _SEM_CORPUS}")


def _sem_vec(j: int, lag: int) -> list:
    """Incoming vector j: kind 0 = exact base copy, kind 1 = near-base
    (base + 0.25 * noise, cos ~0.97 — crosses the threshold via cosine,
    not equality), kind 2 = fresh unique, kind 3 = exact copy of the
    kind-2 vector ``lag`` positions earlier (lag ≡ 1 mod 4) — must come
    back semantic_dup against the GROWN index."""
    k = j % 4
    if k == 0:
        return _sem_base_vec((j * 7) % _SEM_CORPUS)
    if k == 1:
        b = _sem_base_vec((j * 11) % _SEM_CORPUS)
        n = _sem_rand_vec(f"semnoise:{j}")
        return [x + 0.25 * y for x, y in zip(b, n)]
    if k == 3 and j - lag >= 0:
        return _sem_vec(j - lag, lag)
    return _sem_rand_vec(f"semuniq:{j}")


def _publish_semgrow(
    broker: str, queues: list[str], per_q: int, lag: int
) -> None:
    for qi, q in enumerate(queues):
        fake_broker.create_queue(broker, q)
        fake_broker.publish(
            broker,
            q,
            [
                f"{_SEM_ID_BASE + qi * per_q + j}|"
                + ",".join(str(x) for x in _sem_vec(qi * per_q + j, lag))
                for j in range(per_q)
            ],
        )


def semgrow_drain_phase(
    work: str, k: int, max_per_batch: int, per_q: int, lag: int
) -> None:
    """Child process for the semantic growing-corpus soak — the same
    shape as incgrow_drain_phase with the vector screen."""
    import uuid

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from solace_apache_beam_spark.llm.similarity import (
        build_vector_index,
        incremental_semantic_dedup,
    )
    from solace_apache_beam_spark.session import get_spark
    from solace_apache_beam_spark.streaming.ingestion import (
        make_semantic_ingestion_screen,
    )
    from solace_apache_beam_spark.streaming.pipelines import open_stream

    queues = [f"q{i}" for i in range(1, k + 1)]
    broker_dir = os.path.join(work, "broker")
    spark = get_spark("soak_semgrow_phase")
    base_docs = spark.createDataFrame(
        [Row(doc_id=c, embedding=_sem_base_vec(c)) for c in range(_SEM_CORPUS)]
    )
    base = build_vector_index(
        base_docs,
        "embedding",
        "doc_id",
        n_planes=_SEM_PARAMS["n_planes"],
        n_tables=_SEM_PARAMS["n_tables"],
    )
    screen = make_semantic_ingestion_screen(
        spark,
        base,
        os.path.join(work, "sink"),
        os.path.join(work, "grown"),
        os.path.join(work, "book"),
        doc_col="doc_id",
        vec_col="embedding",
        **_SEM_PARAMS,
    )

    payload_body = F.split("payload", "\\|", 2).getItem(1)
    stream = (
        open_stream(spark, broker_dir, queues, max_records_per_batch=max_per_batch)
        .filter(~F.col("payload").startswith("__flush__"))
        .select(
            "destination",
            "message_id",
            F.split("payload", "\\|", 2).getItem(0).cast("long").alias("doc_id"),
            F.transform(
                F.split(payload_body, ","), lambda x: x.cast("double")
            ).alias("embedding"),
        )
    )
    q = (
        stream.writeStream.foreachBatch(screen)
        .option("checkpointLocation", os.path.join(work, "cp"))
        .start()
    )

    def _undelivered() -> int:
        return sum(
            fake_broker.message_count(broker_dir, qq)
            - fake_broker.delivered_watermark(broker_dir, qq)
            for qq in queues
        )

    t0 = time.monotonic()
    q.processAllAvailable()
    while _undelivered() > 0:
        time.sleep(0.1)
        q.processAllAvailable()
    tag = uuid.uuid4().hex[:8]
    for qq in queues:
        fake_broker.publish(broker_dir, qq, [f"__flush__ {qq} {tag}"])
    q.processAllAvailable()
    while _undelivered() > 0:
        time.sleep(0.1)
        q.processAllAvailable()
    elapsed = time.monotonic() - t0
    q.stop()

    import duckdb

    sink_dir = os.path.join(work, "sink")
    ep_docs = (
        duckdb.connect()
        .execute(
            f"""SELECT _epoch_id, list(doc_id ORDER BY doc_id)
                FROM read_parquet('{sink_dir}/*/*.parquet',
                                  hive_partitioning=1)
                GROUP BY _epoch_id ORDER BY _epoch_id"""
        )
        .fetchall()
    )
    ref_idx = base
    expected = []
    for ep, ids in ep_docs:
        if not ids:
            continue
        docs = spark.createDataFrame(
            [
                Row(doc_id=i, embedding=_sem_vec(i - _SEM_ID_BASE, lag))
                for i in ids
            ]
        )
        ref = incremental_semantic_dedup(
            docs, ref_idx, "embedding", "doc_id", **_SEM_PARAMS
        )
        got = ref.collect()
        expected += [
            Row(doc_id=r.doc_id, status=r.status, match_id=r.match_id,
                epoch=int(ep))
            for r in got
        ]
        uniq = docs.join(
            spark.createDataFrame(
                [Row(doc_id=r.doc_id) for r in got if r.status == "unique"],
                "doc_id long",
            ),
            "doc_id",
        )
        ref.plan_caches.unpersist()
        # localCheckpoint: the fold's index lineage otherwise grows by
        # one union + one bucketize kernel per epoch
        ref_idx = ref_idx.unionByName(
            build_vector_index(
                uniq,
                "embedding",
                "doc_id",
                n_planes=_SEM_PARAMS["n_planes"],
                n_tables=_SEM_PARAMS["n_tables"],
            )
        ).localCheckpoint()
    spark.createDataFrame(
        expected, "doc_id long, status string, match_id long, epoch long"
    ).write.mode("overwrite").parquet(os.path.join(work, "expected"))
    with open(os.path.join(work, "DONE"), "w") as f:
        json.dump({"elapsed": round(elapsed, 2)}, f)


def semgrow_kill_restart_soak(n: int, k: int) -> None:
    """Kill-restart soak through the SEMANTIC growing-corpus loop:
    per committed epoch, streaming statuses == the sequential batch
    fold; one row per doc globally (replay marks); and some
    semantic_dup matched a GROWN entry (match_id >= the incoming-id
    base) — the loop actually grew."""
    queues = [f"q{i}" for i in range(1, k + 1)]
    per_q = n // k
    work = tempfile.mkdtemp(prefix="soak_semgrow_")
    broker = os.path.join(work, "broker")
    max_per_batch = max(1, per_q // 5)
    lag = max(5, (2 * max_per_batch) // 4 * 4 + 1)
    _publish_semgrow(broker, queues, per_q, lag)
    sink = os.path.join(work, "sink")

    def _spawn() -> subprocess.Popen:
        return subprocess.Popen(
            [
                sys.executable,
                os.path.abspath(__file__),
                "--phase-semgrow",
                work,
                str(k),
                str(max_per_batch),
                str(per_q),
                str(lag),
            ],
            start_new_session=True,
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
        )

    def _epochs() -> int:
        try:
            return len(
                [d for d in os.listdir(sink) if d.startswith("_epoch_id=")]
            )
        except FileNotFoundError:
            return 0

    t_all = time.monotonic()
    p1 = _spawn()
    deadline = time.monotonic() + _phase_seconds(900)
    while time.monotonic() < deadline:
        if os.path.exists(os.path.join(work, "DONE")):
            raise SystemExit(
                "drain finished before the kill — lower max_per_batch"
            )
        if _epochs() >= 3:
            break
        time.sleep(0.2)
    epochs_at_kill = _epochs()
    os.killpg(os.getpgid(p1.pid), signal.SIGKILL)
    p1.wait()

    p2 = _spawn()
    rc = p2.wait(timeout=_phase_seconds(900))
    assert rc == 0, f"restart phase failed rc={rc}"
    assert os.path.exists(os.path.join(work, "DONE"))
    total_s = time.monotonic() - t_all

    import duckdb

    con = duckdb.connect()
    got_rows = con.execute(
        f"""SELECT doc_id, status, match_id, CAST(_epoch_id AS BIGINT),
                   count(*)
            FROM read_parquet('{sink}/*/*.parquet', hive_partitioning=1)
            GROUP BY 1, 2, 3, 4"""
    ).fetchall()
    exp_rows = con.execute(
        f"""SELECT doc_id, status, match_id, epoch
            FROM read_parquet('{work}/expected/*.parquet')"""
    ).fetchall()
    got = {tuple(r[:4]) for r in got_rows}
    expected = set(map(tuple, exp_rows))
    grown_hits = sum(
        1
        for r in got_rows
        if r[1] == "semantic_dup" and r[2] is not None
        and r[2] >= _SEM_ID_BASE
    )
    by_status: dict[str, int] = {}
    for r in got_rows:
        by_status[r[1]] = by_status.get(r[1], 0) + 1
    doc_ids = [r[0] for r in got_rows]
    out = {
        "mode": "semdedup_grow",
        "messages": per_q * k,
        "queues": k,
        "corpus_docs_base": _SEM_CORPUS,
        "epochs_at_kill": epochs_at_kill,
        "epochs_committed": len({r[3] for r in got_rows}),
        "docs_screened": len(doc_ids),
        "fold_exact": got == expected,
        "status_mix": by_status,
        "grown_hits": grown_hits,
        "total_s": round(total_s, 2),
        "msg_per_s": round(per_q * k / total_s),
    }
    assert got == expected, (
        f"semantic loop diverged from the sequential batch fold: "
        f"missing={list(expected - got)[:3]} extra={list(got - expected)[:3]}"
    )
    assert len(set(doc_ids)) == len(doc_ids), (
        "a doc was screened twice (replay marks failed)"
    )
    assert len(set(doc_ids)) == per_q * k, "lost docs"
    assert grown_hits > 0, (
        "no semantic_dup ever matched a grown-index entry — the loop "
        "never actually grew"
    )
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))

def kill_restart_soak(n: int, k: int) -> None:
    queues = [f"q{i}" for i in range(1, k + 1)]
    per_q = n // k
    work = tempfile.mkdtemp(prefix="soak_kr_")
    broker = os.path.join(work, "broker")
    _publish(broker, queues, per_q)
    sink = os.path.join(work, "sink")
    # ~25 epochs total: enough staggering that the kill lands mid-drain
    # ~10 epochs: enough staggering that the kill lands mid-drain with
    # >=3 committed (the contract's requirement) without paying 25
    # per-epoch commit overheads per phase (suite-runtime cap, r11)
    max_per_batch = max(1, per_q // 10)

    def _spawn() -> subprocess.Popen:
        return subprocess.Popen(
            [
                sys.executable,
                os.path.abspath(__file__),
                "--phase",
                work,
                str(k),
                str(max_per_batch),
            ],
            start_new_session=True,  # own process group: the SIGKILL
            # must take the JVM down with the Python driver (a clean
            # JVM shutdown would be a polite stop, not a crash)
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
        )

    def _epochs() -> int:
        try:
            return len(
                [d for d in os.listdir(sink) if d.startswith("_epoch_id=")]
            )
        except FileNotFoundError:
            return 0

    t_all = time.monotonic()
    p1 = _spawn()
    # kill once a few epochs are committed but the drain is not done
    deadline = time.monotonic() + _phase_seconds(600)
    while time.monotonic() < deadline:
        if os.path.exists(os.path.join(work, "DONE")):
            raise SystemExit(
                "drain finished before the kill — lower max_per_batch"
            )
        if _epochs() >= 3:
            break
        time.sleep(0.2)
    epochs_at_kill = _epochs()
    os.killpg(os.getpgid(p1.pid), signal.SIGKILL)
    p1.wait()

    p2 = _spawn()
    rc = p2.wait(timeout=_phase_seconds(600))
    assert rc == 0, f"restart phase failed rc={rc}"
    assert os.path.exists(os.path.join(work, "DONE"))
    total_s = time.monotonic() - t_all

    # conservation accounting — pure-Python broker state + duckdb sink
    # read, no Spark in the orchestrator (pyarrow dataset discovery
    # would skip the `_epoch_id=N` dirs: underscore prefix = metadata)
    import duckdb

    payloads = [
        r[0]
        for r in duckdb.connect()
        .execute(f"SELECT payload FROM read_parquet('{sink}/*/*.parquet')")
        .fetchall()
    ]
    real = [p for p in payloads if not p.startswith("__flush__")]
    published = {
        f"tok{i % 97} {q} msg {i}" for q in queues for i in range(per_q)
    }
    distinct = set(real)
    acked = sum(fake_broker.acked_count(broker, q) for q in queues)
    delivered = sum(
        fake_broker.delivered_watermark(broker, q) for q in queues
    )
    total_published = sum(
        fake_broker.message_count(broker, q) for q in queues
    )  # includes the k flush sentinels
    out = {
        "messages": per_q * k,
        "queues": k,
        "epochs_at_kill": epochs_at_kill,
        "rows_at_sink": len(real),
        "distinct_payloads": len(distinct),
        "replay_duplicates": len(real) - len(distinct),
        "acked": acked,
        "delivered": delivered,
        "total_s": round(total_s, 2),
    }
    # the conservation law (SolaceIOLifecycleDataflowIT.java:349-350):
    # zero loss, zero invention, zero dupes-after-dedup; every real
    # message delivered AND acked (only the final flush-sentinel epoch
    # may still await its deferred ack)
    assert distinct == published, (
        f"loss or invention: {len(distinct)} distinct vs "
        f"{len(published)} published"
    )
    assert delivered == total_published, (
        f"not drained: delivered {delivered} of {total_published}"
    )
    for q in queues:
        a = fake_broker.acked_count(broker, q)
        assert a >= per_q, f"{q}: only {a}/{per_q} real messages acked"
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


def semgrow_throughput_soak(n: int, k: int, batch_per_q: int) -> None:
    """Production-batch throughput point for the SEMANTIC ingestion
    loop — the embedding twin of :func:`incgrow_throughput_soak` (same
    posture: exactness is the kill-restart soak's contract, this mode
    measures the index-join-bound regime with production-sized epochs
    and reports per-epoch wall times + a final-index read probe)."""
    import uuid

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from solace_apache_beam_spark.llm.similarity import build_vector_index
    from solace_apache_beam_spark.session import get_spark
    from solace_apache_beam_spark.streaming.ingestion import (
        make_semantic_ingestion_screen,
    )
    from solace_apache_beam_spark.streaming.pipelines import open_stream

    queues = [f"q{i}" for i in range(1, k + 1)]
    per_q = n // k
    work = tempfile.mkdtemp(prefix="soak_semtp_")
    broker_dir = os.path.join(work, "broker")
    lag = max(5, (2 * batch_per_q) // 4 * 4 + 1)
    _publish_semgrow(broker_dir, queues, per_q, lag)

    spark = get_spark("soak_semgrow_throughput")
    base = build_vector_index(
        spark.createDataFrame(
            [Row(doc_id=c, embedding=_sem_base_vec(c)) for c in range(_SEM_CORPUS)]
        ),
        "embedding",
        "doc_id",
        n_planes=_SEM_PARAMS["n_planes"],
        n_tables=_SEM_PARAMS["n_tables"],
    )
    grow_dir = os.path.join(work, "grown")
    screen = make_semantic_ingestion_screen(
        spark,
        base,
        os.path.join(work, "sink"),
        grow_dir,
        os.path.join(work, "book"),
        doc_col="doc_id",
        vec_col="embedding",
        # deliberately NOT setting shuffle_partitions here: the
        # semantic screen's heavy stage is the post-shuffle bucket
        # matmul, which is REDUCER-bound at production vector epochs —
        # 8 reducers measured 1,564 msg/s at 60k-vector epochs vs
        # 3,205+ at the session default 32 (round 13). The knob helps
        # screens whose cost is map-side kernels + commit latency (the
        # MinHash twin), not reducer-parallel compute.
        **_SEM_PARAMS,
    )

    epoch_times: list[tuple[int, float, int]] = []

    def timed_screen(batch_df, epoch_id: int) -> None:
        rows = batch_df.count()
        t0 = time.monotonic()
        screen(batch_df, epoch_id)
        epoch_times.append((int(epoch_id), round(time.monotonic() - t0, 2), rows))

    payload_body = F.split("payload", "\\|", 2).getItem(1)
    stream = (
        open_stream(
            spark, broker_dir, queues, max_records_per_batch=batch_per_q
        )
        .filter(~F.col("payload").startswith("__flush__"))
        .select(
            "destination",
            "message_id",
            F.split("payload", "\\|", 2).getItem(0).cast("long").alias("doc_id"),
            F.transform(
                F.split(payload_body, ","), lambda x: x.cast("double")
            ).alias("embedding"),
        )
    )
    q = (
        stream.writeStream.foreachBatch(timed_screen)
        .option("checkpointLocation", os.path.join(work, "cp"))
        .start()
    )

    def _undelivered() -> int:
        return sum(
            fake_broker.message_count(broker_dir, qq)
            - fake_broker.delivered_watermark(broker_dir, qq)
            for qq in queues
        )

    t0 = time.monotonic()
    q.processAllAvailable()
    while _undelivered() > 0:
        time.sleep(0.1)
        q.processAllAvailable()
    tag = uuid.uuid4().hex[:8]
    for qq in queues:
        fake_broker.publish(broker_dir, qq, [f"__flush__ {qq} {tag}"])
    q.processAllAvailable()
    while _undelivered() > 0:
        time.sleep(0.1)
        q.processAllAvailable()
    elapsed = time.monotonic() - t0
    q.stop()

    t_read0 = time.monotonic()
    try:
        index_rows = spark.read.parquet(grow_dir).count()
    except Exception:  # noqa: BLE001 — no uniques on degenerate runs
        index_rows = 0
    index_read_s = round(time.monotonic() - t_read0, 2)

    import duckdb

    by_status = dict(
        duckdb.connect()
        .execute(
            f"""SELECT status, count(*)
                FROM read_parquet('{work}/sink/*/*.parquet',
                                  hive_partitioning=1)
                GROUP BY status"""
        )
        .fetchall()
    )
    data_epochs = [e for e in epoch_times if e[2] > 0]
    tail = data_epochs[1:] or data_epochs
    tail_msgs = sum(r for _, _, r in tail)
    tail_s = sum(t for _, t, _ in tail)
    out = {
        "mode": "semdedup_grow_throughput",
        "shuffle_partitions": None,
        "messages": per_q * k,
        "queues": k,
        "batch_per_q": batch_per_q,
        "epoch_size": batch_per_q * k,
        "epochs": len(data_epochs),
        "epoch_times_s": [(e, t) for e, t, _ in epoch_times],
        "status_mix": by_status,
        "grown_index_rows": index_rows,
        "final_index_read_s": index_read_s,
        "total_s": round(elapsed, 2),
        "msg_per_s": round(per_q * k / elapsed),
        "steady_msg_per_s": round(tail_msgs / tail_s) if tail_s else None,
    }
    assert sum(by_status.values()) == per_q * k, (
        f"screened {sum(by_status.values())} != published {per_q * k}"
    )
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


def main() -> None:
    if "--phase" in sys.argv:
        i = sys.argv.index("--phase")
        drain_phase(sys.argv[i + 1], int(sys.argv[i + 2]), int(sys.argv[i + 3]))
        return
    if "--phase-stateful" in sys.argv:
        i = sys.argv.index("--phase-stateful")
        stateful_drain_phase(
            sys.argv[i + 1], int(sys.argv[i + 2]), int(sys.argv[i + 3])
        )
        return
    if "--phase-sessionize" in sys.argv:
        i = sys.argv.index("--phase-sessionize")
        sessionize_drain_phase(
            sys.argv[i + 1], int(sys.argv[i + 2]), int(sys.argv[i + 3])
        )
        return
    if "--phase-funnel" in sys.argv:
        i = sys.argv.index("--phase-funnel")
        funnel_drain_phase(
            sys.argv[i + 1], int(sys.argv[i + 2]), int(sys.argv[i + 3])
        )
        return
    if "--phase-incdedup" in sys.argv:
        i = sys.argv.index("--phase-incdedup")
        incdedup_drain_phase(
            sys.argv[i + 1],
            int(sys.argv[i + 2]),
            int(sys.argv[i + 3]),
            int(sys.argv[i + 4]),
        )
        return
    if "--phase-semgrow" in sys.argv:
        i = sys.argv.index("--phase-semgrow")
        semgrow_drain_phase(
            sys.argv[i + 1],
            int(sys.argv[i + 2]),
            int(sys.argv[i + 3]),
            int(sys.argv[i + 4]),
            int(sys.argv[i + 5]),
        )
        return
    if "--phase-incgrow" in sys.argv:
        i = sys.argv.index("--phase-incgrow")
        incgrow_drain_phase(
            sys.argv[i + 1],
            int(sys.argv[i + 2]),
            int(sys.argv[i + 3]),
            int(sys.argv[i + 4]),
            int(sys.argv[i + 5]),
        )
        return
    argv = list(sys.argv[1:])
    skew = 1
    if "--skew" in argv:
        i = argv.index("--skew")
        skew = int(argv[i + 1])
        del argv[i : i + 2]
    batch_per_q = 25_000
    if "--batch" in argv:
        i = argv.index("--batch")
        batch_per_q = int(argv[i + 1])
        del argv[i : i + 2]
    args = [a for a in argv if not a.startswith("--")]
    n = int(args[0]) if args else 100_000
    k = int(args[1]) if len(args) > 1 else 4
    if "--incdedup-throughput" in sys.argv:
        incgrow_throughput_soak(n, k, batch_per_q)
        return
    if "--semdedup-throughput" in sys.argv:
        semgrow_throughput_soak(n, k, batch_per_q)
        return
    if "--stateful" in sys.argv:
        stateful_kill_restart_soak(n, k)
    elif "--sessionize" in sys.argv:
        sessionize_kill_restart_soak(n, k, skew)
    elif "--funnel" in sys.argv:
        funnel_kill_restart_soak(n, k, skew)
    elif "--incdedup-grow" in sys.argv:
        incgrow_kill_restart_soak(n, k)
    elif "--semdedup-grow" in sys.argv:
        semgrow_kill_restart_soak(n, k)
    elif "--incdedup" in sys.argv:
        incdedup_kill_restart_soak(n, k)
    elif "--kill-restart" in sys.argv:
        kill_restart_soak(n, k)
    else:
        classic_soak(n, k)


if __name__ == "__main__":
    main()
