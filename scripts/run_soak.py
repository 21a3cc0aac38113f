"""Soaks: the delivery contract under an unclean SIGKILL, plus timed
drains. A scenario is one row of ``SCENARIOS``.

A kill-restart row publishes a ground-truth stream to the file broker
and drains it in a child process group through its graph into an
idempotent per-epoch sink. Once >= 3 epochs are committed the whole
group is SIGKILL'd (JVM included: a clean JVM shutdown would be a
polite stop, not a crash); a second child resumes from the same
checkpoint and drains to completion; the orchestrator then checks the
sink against arithmetic ground truth or a batch/fold reference.
Replayed epochs REPLACE their partition, and broker-replayed unacked
messages appear as new-epoch duplicates that payload-level dedup (or
the operators' replay marks) removes. The model is Structured
Streaming's — a replayable source, epoch-keyed idempotent sinks and
checkpointed state — and the conservation law is the reference's
(SolaceIOLifecycleDataflowIT.java:349-350):

    distinct payloads at sink == published   (zero loss, zero
                                              dupes-after-dedup)
    remaining backlog        == 0
    acked                    == published

    python scripts/run_soak.py [n_messages] [n_queues] [--<scenario>]
    python scripts/run_soak.py 100000 4 --kill-restart
    python scripts/run_soak.py 500000 4 --sessionize --skew 100
    python scripts/run_soak.py 200000 2 --incdedup-throughput --batch 5000

| scenario | flag | contract asserted |
|---|---|---|
| conservation | `--kill-restart` | distinct payloads == published; all delivered; every real message acked |
| stateful | `--stateful` | running_counts' per-key lifetime (count, bytes) == the broker log |
| sessionize | `--sessionize [--skew R]` | closed-session set == publishing arithmetic; no duplicate emission |
| funnel | `--funnel [--skew R]` | per-user final stage == greedy earliest match of its event pattern |
| incdedup | `--incdedup` | distinct per-doc screening rows == batch incremental_dedup over the full log |
| incdedup_grow | `--incdedup-grow` | per-epoch statuses == sequential MinHash fold; one row per doc; grown-index hits |
| semdedup_grow | `--semdedup-grow` | the same through the semantic (vector) screen |
| lost_commit | `--lost-commit` | conservation, with the newest `cp/commits/<N>` deleted before the restart |
| lost_batch | `--lost-batch` | conservation, with the newest `cp/offsets/<N>` and its commit deleted |
| classic | (none) | no kill: windowed word count drained in-process; msg/s, messages consumed |
| incdedup_throughput | `--incdedup-throughput [--batch B]` | no kill: every published doc screened; per-epoch walls |
| semdedup_throughput | `--semdedup-throughput [--batch B]` | the same through the semantic screen |

``--skew R`` (sessionize / funnel) concentrates the stream on one hot
key: sessionize gives the first queue R x every other queue's messages
(the key IS the queue); funnel gives one user per queue half that
queue's events (realized ratio per_q/16 : 1, asserted >= R). ``--batch
B`` is the throughput rows' records per queue per epoch (default
25,000).

Both phases of a kill-restart row share one deadline: 80 % of
``SPARK_GRAFT_SOAK_TIMEOUT`` when set, else the row's budget. Phase
output goes to ``<work>/phase{1,2}.log``; a phase that dies fails the
run at once with that log's tail.
"""
from __future__ import annotations

import collections
import dataclasses
import functools
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from typing import Callable

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from solace_apache_beam_spark.sources import fake_broker


@dataclasses.dataclass
class Run:
    """One scenario run's parameters. The orchestrator writes them to
    ``<work>/run.json``; each phase child reads them back."""

    name: str
    work: str
    k: int
    n: int
    skew: int = 1
    divisor: int | None = 10
    batch: int = 0  # records per queue per micro-batch
    counts: list = dataclasses.field(default_factory=list)  # real msgs per queue
    lag: int = 0
    hot_mult: int = 0
    users: int = 0
    epochs_at_kill: int = 0
    total_s: float = 0.0
    lost: list = dataclasses.field(default_factory=list)
    epoch_times: list = dataclasses.field(default_factory=list)

    @property
    def queues(self) -> list[str]:
        return [f"q{i}" for i in range(1, self.k + 1)]

    @property
    def broker(self) -> str:
        return os.path.join(self.work, "broker")

    @property
    def sink(self) -> str:
        return os.path.join(self.work, "sink")

    @property
    def per_q(self) -> int:
        return self.counts[-1]

    @property
    def messages(self) -> int:
        return sum(self.counts)

    def size(self, counts: list[int]) -> None:
        """Record the real messages per queue and derive the batch cap
        from the largest queue (a row with no divisor takes --batch)."""
        self.counts = counts
        if self.divisor:
            self.batch = max(1, max(counts) // self.divisor)

    def publish(self, payloads, ts=None) -> None:
        """Create every queue and publish ``payloads(qi, q)`` into it,
        with ``ts(i)`` as the i-th message's sender timestamp if given."""
        for qi, q in enumerate(self.queues):
            msgs = payloads(qi, q)
            fake_broker.create_queue(self.broker, q)
            fake_broker.publish(
                self.broker,
                q,
                msgs,
                sender_timestamp_us=ts and [ts(i) for i in range(len(msgs))],
            )

    def save(self) -> None:
        with open(os.path.join(self.work, "run.json"), "w") as f:
            json.dump(dataclasses.asdict(self), f)

    @classmethod
    def load(cls, work: str) -> "Run":
        with open(os.path.join(work, "run.json")) as f:
            return cls(**json.load(f))


def _sql(query: str) -> list:
    # no Spark in the orchestrator: duckdb reads the sinks (pyarrow
    # dataset discovery would skip the `_epoch_id=N` dirs: underscore
    # prefix = metadata)
    import duckdb

    return duckdb.connect().execute(query).fetchall()


def _sink_sql(run: Run) -> str:
    return f"read_parquet('{run.sink}/*/*.parquet', hive_partitioning=1)"


def _total(run: Run, count) -> int:
    """``count(broker, queue)`` summed over the run's queues."""
    return sum(count(run.broker, q) for q in run.queues)


def _acked(run: Run) -> int:
    return _total(run, fake_broker.acked_count)


def _assert_acked(run: Run) -> None:
    for q, c in zip(run.queues, run.counts):
        a = fake_broker.acked_count(run.broker, q)
        assert a >= c, f"{q}: only {a}/{c} real messages acked"


def _to_sink(df, run: Run, mode: str = "append"):
    from solace_apache_beam_spark.sinks.warehouse import make_idempotent_appender

    return df.writeStream.outputMode(mode).foreachBatch(
        make_idempotent_appender(run.sink)
    )


def _flush(run: Run, tag: str, fmt: str = "__flush__ {q} {tag}") -> None:
    for q in run.queues:
        fake_broker.publish(run.broker, q, [fmt.format(q=q, tag=tag)])


# --- the child: one drain loop for every row ----------------------------------


def _drain(q, run: Run, flush) -> float:
    """Drain the broker through the started query ``q``; returns the
    drain wall.

    processAllAvailable alone is NOT a full drain here: after an
    unclean restart the acked watermark lags the checkpoint's committed
    offset, and the capped latestOffset can momentarily report no
    growth — so we loop until the delivered watermark reaches the
    published count. Acks for epoch N land only when epoch N+1 is
    planned (deferred client-ack), so after the data drain ``flush``
    publishes one uniquely-tagged __flush__ sentinel per queue: planning
    that final epoch finalizes every real message's ack. The verifiers
    exclude __flush__ payloads from the accounting."""
    import uuid

    def settle() -> None:
        q.processAllAvailable()
        while _total(run, fake_broker.message_count) > _total(
            run, fake_broker.delivered_watermark
        ):
            time.sleep(0.1)
            q.processAllAvailable()

    t0 = time.monotonic()
    settle()
    if flush is not None:
        flush(run, uuid.uuid4().hex[:8])
        settle()
    return time.monotonic() - t0


def _start(row: "Scenario", run: Run, spark):
    from solace_apache_beam_spark.streaming.pipelines import open_stream

    stream = open_stream(
        spark, run.broker, run.queues, max_records_per_batch=run.batch
    )
    return (
        row.graph(run, spark, stream)
        .option("checkpointLocation", os.path.join(run.work, "cp"))
        .start()
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


def phase(name: str, work: str) -> None:
    """Child process: drain the row's graph until every message is
    delivered, build the row's reference if it has one, then write the
    DONE marker. May be SIGKILL'd at any point — the checkpoint and the
    per-epoch sinks carry the state. Only the surviving process reaches
    the reference; it is deterministic, so WHO writes it doesn't
    matter."""
    from solace_apache_beam_spark.session import get_spark

    row, run = SCENARIOS[name], Run.load(work)
    spark = get_spark(f"soak_{name}_phase")
    q = _start(row, run, spark)
    elapsed = _drain(q, run, row.flush)
    peak_state = _peak_state_rows(q)
    q.stop()
    if row.reference is not None:
        row.reference(run, spark)
    with open(os.path.join(work, "DONE"), "w") as f:
        json.dump({"elapsed": round(elapsed, 2), "state_rows_peak": peak_state}, f)


def _done_state_rows(run: Run):
    """state_rows_peak recorded by the (restarted) drain phase's DONE
    marker — the restart phase's peak, which includes the restored
    pre-kill state."""
    try:
        with open(os.path.join(run.work, "DONE")) as f:
            return json.load(f).get("state_rows_peak")
    except (OSError, ValueError):
        return None


# --- the orchestrator: one kill-restart for every row -------------------------


def _deadline_s(budget_s: float) -> float:
    """Wall budget shared by BOTH phases of a kill-restart row. When
    the caller set ``SPARK_GRAFT_SOAK_TIMEOUT`` (its own timeout on this
    process) the budget is 80 % of it, whatever the row's default: the
    preflight raises that knob exactly because its soak wave contends
    for the machine, so a starved scenario must get the extended budget
    rather than give up inside it (observed: a 900 s pre-kill deadline
    expired with 0 committed epochs while the wave needed ~980 s — a
    harness false-negative, green solo). And it must end before the
    wrapper does: 80 % leaves the wrapper headroom to report a real hang
    instead of killing this process first and orphaning a phase group
    with its own session and JVM."""
    try:
        cap = float(os.environ.get("SPARK_GRAFT_SOAK_TIMEOUT") or 0)
    except ValueError:
        # an empty/malformed knob must not crash every kill-restart
        # scenario before it starts — fall back to the row's budget
        cap = 0.0
    return 0.8 * cap if cap > 0 else budget_s


def _epochs(work: str) -> int:
    try:
        return sum(
            d.startswith("_epoch_id=") for d in os.listdir(os.path.join(work, "sink"))
        )
    except FileNotFoundError:
        return 0


def _killpg(p: subprocess.Popen) -> None:
    # the phase leads its own session, so its group id is its pid; the
    # group (the JVM included) can outlive a leader that already exited
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except (ProcessLookupError, PermissionError):
        pass
    p.wait()


def orchestrate(work: str, argv: list[str], deadline_s: float, between=None) -> int:
    """Run one kill-restart of the child command ``argv`` in ``work``.

    Phase 1 runs in its own process group; once >= 3 ``_epoch_id=``
    partitions are in ``<work>/sink`` the group is SIGKILL'd. Then
    ``between()`` (failure injection) runs, ``argv`` is respawned as
    phase 2, and it must exit 0 having written ``<work>/DONE``. Both
    phases share one deadline. A phase that exits non-zero fails the run
    at once with its log's tail, and every exit path — success,
    timeout, assertion, exception, SystemExit — kills any phase group
    still alive. Returns the committed epochs at the kill."""
    end = time.monotonic() + deadline_s
    done = os.path.join(work, "DONE")
    procs: list[subprocess.Popen] = []

    def spawn() -> subprocess.Popen:
        with open(os.path.join(work, f"phase{len(procs) + 1}.log"), "wb") as log:
            procs.append(
                subprocess.Popen(
                    argv, start_new_session=True, stdout=log, stderr=subprocess.STDOUT
                )
            )
        return procs[-1]

    def fail(exc, why: str) -> Exception:
        with open(os.path.join(work, f"phase{len(procs)}.log"), errors="replace") as f:
            tail = "".join(f.readlines()[-40:])
        return exc(f"{why}; phase{len(procs)}.log tail:\n{tail}")

    try:
        p1 = spawn()
        # kill once a few epochs are committed but the drain is not done
        while True:
            if os.path.exists(done):
                raise SystemExit(
                    "drain finished before the kill — lower max_per_batch"
                )
            if _epochs(work) >= 3:
                break
            if p1.poll() is not None:
                raise fail(RuntimeError, f"phase 1 exited rc={p1.returncode}")
            if time.monotonic() > end:
                raise fail(TimeoutError, f"{_epochs(work)} epochs in {deadline_s:.0f} s")
            time.sleep(0.2)
        epochs_at_kill = _epochs(work)
        _killpg(p1)
        if between is not None:
            between()
        p2 = spawn()
        while p2.poll() is None:
            if time.monotonic() > end:
                raise fail(TimeoutError, f"restart still running at {deadline_s:.0f} s")
            time.sleep(0.2)
        if p2.returncode != 0 or not os.path.exists(done):
            raise fail(RuntimeError, f"restart phase failed rc={p2.returncode}")
        return epochs_at_kill
    finally:
        for p in procs:
            _killpg(p)


def kill_restart(row: "Scenario", run: Run) -> dict:
    t_all = time.monotonic()
    run.epochs_at_kill = orchestrate(
        run.work,
        [sys.executable, os.path.abspath(__file__), "--phase", row.name, run.work],
        _deadline_s(row.budget_s),
        row.between and functools.partial(row.between, run),
    )
    run.total_s = time.monotonic() - t_all
    return row.verify(run)


def timed(row: "Scenario", run: Run) -> dict:
    """No kill: drain the row's graph in this process and time it."""
    from solace_apache_beam_spark.session import get_spark

    spark = get_spark(f"soak_{row.name}")
    q = _start(row, run, spark)
    elapsed = _drain(q, run, row.flush)
    q.stop()
    return row.verify(run, spark, elapsed)


# --- conservation: plain payloads, idempotent appender -------------------------


def _plain_payloads(q: str, per_q: int) -> list[str]:
    return [f"tok{i % 97} {q} msg {i}" for i in range(per_q)]


def _publish_plain(run: Run) -> None:
    run.size([run.n // run.k] * run.k)
    run.publish(lambda qi, q: _plain_payloads(q, run.per_q))


def _append_graph(run: Run, spark, stream):
    return _to_sink(stream, run)


def _verify_conservation(run: Run) -> dict:
    rows = _sql(f"SELECT payload FROM read_parquet('{run.sink}/*/*.parquet')")
    real = [r[0] for r in rows if not r[0].startswith("__flush__")]
    published = {p for q in run.queues for p in _plain_payloads(q, run.per_q)}
    distinct = set(real)
    delivered = _total(run, fake_broker.delivered_watermark)
    # includes the k flush sentinels
    total_published = _total(run, fake_broker.message_count)
    out = {
        "messages": run.messages,
        "queues": run.k,
        "epochs_at_kill": run.epochs_at_kill,
        "rows_at_sink": len(real),
        "distinct_payloads": len(distinct),
        "replay_duplicates": len(real) - len(distinct),
        "acked": _acked(run),
        "delivered": delivered,
        "total_s": round(run.total_s, 2),
    }
    if run.lost:
        out = {"mode": run.name, **out, "lost": run.lost}
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
    _assert_acked(run)
    return out


def _lose(run: Run, log: str, n: int | None = None) -> int:
    """Delete checkpoint-log entry ``cp/<log>/<n>`` (default: the
    newest) with its ``.crc`` sidecar, when a checksummed filesystem
    wrote one — the entry a crash between its write and its fsync
    would lose. Returns ``n``."""
    d = os.path.join(run.work, "cp", log)
    if n is None:
        n = max(int(f) for f in os.listdir(d) if f.isdigit())
    for f in (str(n), f".{n}.crc"):
        if os.path.exists(os.path.join(d, f)):
            os.remove(os.path.join(d, f))
            run.lost.append(f"{log}/{f}")
    return n


def _lose_commit(run: Run) -> None:
    """The newest commit-log entry is lost: the restart must re-run an
    epoch whose sink partition is already written."""
    _lose(run, "commits")


def _lose_batch(run: Run) -> None:
    """The newest offset-log entry is lost, with its commit if written:
    the restart must re-plan that batch from the source."""
    _lose(run, "commits", _lose(run, "offsets"))


# --- stateful: running_counts --------------------------------------------------


def _stateful_graph(run: Run, spark, stream):
    from solace_apache_beam_spark.streaming.stateful import running_counts

    # dedupe_by: the source is at-least-once across an unclean restart
    # (broker replays delivered-but-unacked messages — S4/S6), so raw
    # counting overcounts by exactly the redelivered batch; the hwm
    # state skips redeliveries (the 500k soak found this — see
    # running_counts' docstring)
    return _to_sink(running_counts(stream, dedupe_by="message_id"), run, "update")


def _verify_stateful(run: Run) -> dict:
    """The graph carries applyInPandasWithState (running_counts —
    lifetime per-key count+bytes), so the SIGKILL lands on live
    state-store versions, not just source offsets. The final per-key
    lifetime totals must EXACTLY equal the broker log's ground truth
    (message count and payload byte sum per queue) — an unclean kill
    that lost state would undercount, a replayed batch applied twice to
    restored state would overcount, and either breaks the equality."""
    # ground truth straight from the broker's message log (includes
    # whatever flush sentinels were actually published)
    expected: dict[str, tuple[int, int]] = {}
    for qq in run.queues:
        cnt = nbytes = 0
        with open(
            os.path.join(fake_broker.queue_dir(run.broker, qq), "messages.jsonl")
        ) as f:
            for line in f:
                p = json.loads(line)["payload"]
                cnt += 1
                nbytes += len((p or "").encode("utf-8"))
        expected[qq] = (cnt, nbytes)
    # the LATEST emitted row per key is the lifetime total (update-mode
    # emission; per-key rows are monotone in epoch)
    rows = _sql(
        f"""SELECT key, total_count, total_bytes FROM (
              SELECT *, row_number() OVER (
                PARTITION BY key ORDER BY _epoch_id DESC) AS rn
              FROM {_sink_sql(run)}
            ) WHERE rn = 1"""
    )
    got = {r[0]: (r[1], r[2]) for r in rows}
    out = {
        "mode": "stateful",
        "messages": run.messages,
        "queues": run.k,
        "epochs_at_kill": run.epochs_at_kill,
        "per_key_totals_exact": got == expected,
        "acked": _acked(run),
        "total_s": round(run.total_s, 2),
        "msg_per_s": round(run.messages / run.total_s),
        "state_rows_peak": _done_state_rows(run),
    }
    assert got == expected, f"state diverged: got={got} expected={expected}"
    _assert_acked(run)
    return out


# --- sessionize: the EventTimeTimeout sessionizer ------------------------------

# sessionize soak constants — the session structure IS the ground
# truth, so both the publisher and the verifier derive from these
_SESS_BASE_US = 1_700_000_000_000_000
_SESS_G = 50  # events per session
_SESS_JUMP_S = 130  # inter-session jump (> gap 30 -> in-batch split)


def _sess_ts_us(i: int) -> int:
    """Event-time of the i-th message in a queue's session stream:
    1 s apart within a session, a 130 s jump between sessions."""
    return _SESS_BASE_US + (i + (i // _SESS_G) * _SESS_JUMP_S) * 1_000_000


def _publish_sessions(run: Run) -> None:
    """Per-queue session streams. ``skew`` > 1 is the hot-key case:
    sessionize keys on the queue, so giving the first queue ``skew``x
    the messages of every other queue makes one key receive skew:1 of
    the stream — the reference's own worst case is all load on one
    exclusive-queue binding (SolaceIOIT.java:148-184)."""
    if run.skew > 1:
        per_q = max(_SESS_G, run.n // (run.skew + run.k - 1))
        run.size([per_q * run.skew] + [per_q] * (run.k - 1))
    else:
        run.size([run.n // run.k] * run.k)
    run.publish(
        lambda qi, q: [f"{q} msg {i}" for i in range(run.counts[qi])], _sess_ts_us
    )


def _flush_sessions(run: Run, tag: str) -> None:
    # flush far beyond the last session: closes it via in-batch split
    # AND finalizes the last data epoch's deferred acks. Max over
    # queues: under skew the hot queue's stream runs far longer
    per_q_published = max(
        fake_broker.message_count(run.broker, qq) for qq in run.queues
    )
    flush_us = _sess_ts_us(per_q_published) + 10_000 * 1_000_000
    for qq in run.queues:
        fake_broker.publish(
            run.broker, qq, [f"__flush__ {qq} {tag}"], sender_timestamp_us=[flush_us]
        )


def _sessionize_graph(run: Run, spark, stream):
    """The EventTimeTimeout sessionizer with the per-(key,queue) hwm
    map, at the nonzero watermark delay where broker replay actually
    reaches live state (see sessionize's docstring). Closed sessions
    flow append-mode to the idempotent sink."""
    from solace_apache_beam_spark.streaming.stateful import sessionize

    sessions = sessionize(
        stream,
        gap_seconds=30,
        watermark="120 seconds",
        dedupe_by=("destination", "message_id"),
    )
    return _to_sink(sessions, run)


def _verify_sessions(run: Run) -> dict:
    """Session-level exactness: every queue's closed sessions must
    EXACTLY match the arithmetic session partition of its published
    stream — same starts, same ends, same n_events, no duplicates, no
    misses. A replayed range applied to live state would inflate
    n_events or resurrect a closed session; lost state would drop or
    fragment one. Under skew the hot key's applyInPandasWithState group
    dominates every microbatch and its session count dwarfs the cold
    keys'; exactness must hold unchanged."""
    # expected closed sessions per queue, from the publishing arithmetic
    # (the flush closes the last real session; the flush's own
    # 1-event session stays open and must NOT appear at the sink)
    expected = set()
    for qq, c in zip(run.queues, run.counts):
        for s in range((c + _SESS_G - 1) // _SESS_G):
            lo, hi = s * _SESS_G, min((s + 1) * _SESS_G, c)
            expected.add((qq, _sess_ts_us(lo), _sess_ts_us(hi - 1), hi - lo))
    rows = _sql(
        f"""SELECT key, CAST(epoch_us(session_start) AS BIGINT),
                   CAST(epoch_us(session_end) AS BIGINT),
                   CAST(n_events AS BIGINT), count(*) AS emitted
            FROM {_sink_sql(run)}
            GROUP BY 1, 2, 3, 4"""
    )
    got = {tuple(r[:4]) for r in rows}
    dupes = [r for r in rows if r[4] > 1]
    out = {
        "mode": "sessionize",
        "messages": run.messages,
        "queues": run.k,
        "skew": run.skew,
        "hot_key_events": run.counts[0],
        "epochs_at_kill": run.epochs_at_kill,
        "sessions_expected": len(expected),
        "sessions_at_sink": len(got),
        "duplicate_rows": len(dupes),
        "sessions_exact": got == expected,
        "state_rows_peak": _done_state_rows(run),
        "acked": _acked(run),
        "total_s": round(run.total_s, 2),
        "msg_per_s": round(run.messages / run.total_s),
    }
    assert not dupes, f"duplicate session emissions: {dupes[:3]}"
    assert got == expected, (
        f"sessions diverged: missing={list(expected - got)[:3]} "
        f"extra={list(got - expected)[:3]}"
    )
    _assert_acked(run)
    return out


# --- funnel: the per-user stage machine ----------------------------------------

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


def _publish_funnel(run: Run) -> None:
    """Without skew, ``users`` users per queue each receive 8 events
    (two cycles of their parity's pattern). With ``skew`` > 1, ONE hot
    user per queue also receives ``8 * hot_mult`` events — half the
    queue's stream on a single funnel key, hot_mult = per_q // 16, so
    the realized key-skew ratio is per_q/16 : 1 (asserted >= skew). The
    hot user runs the STALLING pattern cycled, so its expected final
    stage sits below the cap and a replay-overcount on the hot key
    itself is visible. Per-user delivery order still follows the
    pattern (timestamps increase with publish index), so greedy
    earliest-match ground truth holds."""
    per_q = run.n // run.k
    if run.skew > 1:
        run.hot_mult = per_q // 16
        assert run.hot_mult >= run.skew, (
            f"need n >= {16 * run.skew * run.k} for a {run.skew}:1 hot user "
            f"(got hot_mult={run.hot_mult})"
        )
        run.users = run.hot_mult  # hot user = half of each queue's stream
        per_q = 8 * (run.users + run.hot_mult)
    else:
        run.users = max(2, per_q // 8)  # 8 events/user: two pattern cycles
    run.size([per_q] * run.k)

    def events(qi: int, q: str) -> list[str]:
        if run.skew == 1:
            return [
                f"{q}_u{i % run.users}:"
                f"{(_PATTERN_ODD if (i % run.users) % 2 else _PATTERN_EVEN)[(i // run.users) % 4]}"
                for i in range(per_q)
            ]
        msgs: list[str] = []
        pos_hot = 0
        for step in range(8):  # two 4-event pattern cycles for cold users
            for u in range(run.users):
                pat = _PATTERN_ODD if u % 2 else _PATTERN_EVEN
                msgs.append(f"{q}_u{u}:{pat[step % 4]}")
            for _ in range(run.hot_mult):
                msgs.append(f"{q}_hot:{_PATTERN_EVEN[pos_hot % 4]}")
                pos_hot += 1
        return msgs

    run.publish(events, lambda i: 1_700_000_000_000_000 + i * 1_000_000)


def _funnel_graph(run: Run, spark, stream):
    """The per-user stage machine with the per-(key,queue) hwm map sits
    between the source and the idempotent sink, so the SIGKILL lands on
    live funnel state across ~10k users."""
    from pyspark.sql import functions as F

    from solace_apache_beam_spark.streaming.stateful import funnel_progress

    events = stream.select(
        F.split("payload", ":")[0].alias("user"),
        F.split("payload", ":")[1].alias("stage_name"),
        "event_time",
        "message_id",
        "destination",
    )
    progress = funnel_progress(
        events, _FUNNEL_STAGES, key_col="user", dedupe_by=("destination", "message_id")
    )
    return _to_sink(progress, run, "update")


def _verify_funnel(run: Run) -> dict:
    """Per-user exactness: user parity picks the event-type pattern, so
    every odd user must finish at stage 3 and every even user at stage
    1 — a lost state version undercounts a stage, a replay-advanced
    straggler or double-applied batch overcounts one, and with HALF the
    population pinned below the top stage an overcount is visible (an
    all-users-complete design would hide it at the cap)."""
    skewed = run.skew > 1
    # a user's event-type sequence is the pattern CYCLED (8 events =
    # 2 cycles), and later cycles can legitimately advance the machine
    # (the even pattern's second-cycle "click" follows a first-cycle
    # "view" -> stage 2) — replay the FULL sequence, not one cycle
    cycles = 2 if skewed else (run.per_q // run.users) // len(_PATTERN_ODD)
    exp_odd = _funnel_expected(_PATTERN_ODD * cycles)
    exp_even = _funnel_expected(_PATTERN_EVEN * cycles)
    assert exp_even < len(_FUNNEL_STAGES), (
        "ground-truth design: half the population must sit below the "
        "top stage or an overcount is invisible at the cap"
    )
    expected = {
        f"{q}_u{i}": (exp_odd if i % 2 else exp_even)
        for q in run.queues
        for i in range(run.users)
    }
    if skewed:
        # hot user: the stalling pattern cycled over its whole stream
        exp_hot = _funnel_expected(_PATTERN_EVEN * (2 * run.hot_mult))
        assert exp_hot < len(_FUNNEL_STAGES), (
            "the hot user must sit below the cap or its overcount hides"
        )
        for q in run.queues:
            expected[f"{q}_hot"] = exp_hot
    rows = _sql(
        f"""SELECT key, max(stage_reached) FROM {_sink_sql(run)}
            WHERE key NOT LIKE '__flush__%' GROUP BY key"""
    )
    got = {r[0]: r[1] for r in rows}
    diverged = {
        u: (got.get(u), expected[u]) for u in expected if got.get(u) != expected[u]
    }
    out = {
        "mode": "funnel",
        "messages": run.messages,
        "queues": run.k,
        "users": len(expected),
        "skew_ratio": run.hot_mult if skewed else 1,
        "hot_user_events": 8 * run.hot_mult,
        "epochs_at_kill": run.epochs_at_kill,
        "stages_exact": not diverged,
        "n_diverged": len(diverged),
        "state_rows_peak": _done_state_rows(run),
        "acked": _acked(run),
        "total_s": round(run.total_s, 2),
        "msg_per_s": round(run.messages / run.total_s),
    }
    assert not diverged, f"funnel diverged for {len(diverged)} users: " + str(
        dict(list(diverged.items())[:3])
    )
    _assert_acked(run)
    return out


# --- incdedup: per-microbatch screen against the persisted corpus index --------

# incremental-dedup soak constants: the streaming composition of
# build_corpus_index + incremental_dedup — source -> per-microbatch
# near-dup screen against the PERSISTED corpus index -> idempotent
# warehouse append (the LLM-ingestion shape: SolaceRecordTest.java:
# 133-147's dedup sample composed with the BigQuery ingest shape
# SolaceBigQuery.java:146-211). Per-doc status is a pure function of
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
    return "".join("abcdefghijklmnopqrstuvwxyz"[(v // 26**p) % 26] for p in range(3))


def _inc_corpus_text(c: int) -> str:
    # corpus word values stay < 997 — disjoint from the >=1000 range
    # unique docs and mutations draw from, so 'unique' is guaranteed
    return " ".join(_inc_word((c * 13 + j * 7) % 997) for j in range(_INC_WORDS))


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
    return " ".join(_inc_word(1000 + (i * 29 + j) % 16000) for j in range(_INC_WORDS))


def _publish_incdedup(run: Run) -> None:
    """Payload = "<doc_id>|<text>"; doc ids globally unique across
    queues so the sink's per-doc rows key cleanly."""
    run.size([run.n // run.k] * run.k)
    per_q = run.per_q
    run.publish(
        lambda qi, q: [
            f"{i}|{_inc_doc_text(i)}" for i in range(qi * per_q, (qi + 1) * per_q)
        ]
    )


def _ensure_inc_index(work: str, spark) -> dict:
    """Build-and-persist the corpus index artifacts if this work dir
    doesn't have them yet (the killed first phase may have died
    mid-build: every artifact is written mode=overwrite and the marker
    lands only after all three, so a restart rebuilds cleanly).
    Returns the read-back frames — the production table shape."""
    from pyspark.sql import Row

    from solace_apache_beam_spark.llm.dedup import build_corpus_index

    paths = {
        name: os.path.join(work, "index", name)
        for name in ("hashes", "shingles", "bands")
    }
    marker = os.path.join(work, "index", "_BUILT")
    if not os.path.exists(marker):
        corpus = spark.createDataFrame(
            [Row(doc_id=c, text=_inc_corpus_text(c)) for c in range(_INC_CORPUS)]
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


def _incdedup_graph(run: Run, spark, stream):
    """Every microbatch is screened against the persisted corpus index
    (exact md5 stage + LSH band-join + shingle-Jaccard verify — the full
    incremental_dedup graph) inside foreachBatch; statuses land in the
    idempotent per-epoch sink."""
    from solace_apache_beam_spark.llm.dedup import incremental_dedup
    from solace_apache_beam_spark.sinks.warehouse import make_idempotent_appender

    index = _ensure_inc_index(run.work, spark)
    appender = make_idempotent_appender(run.sink)

    def screen(batch_df, epoch_id: int) -> None:
        docs = batch_df.select("doc_id", "text")
        out = incremental_dedup(docs, corpus_index=index, **_INC_PARAMS)
        appender(out, epoch_id)
        out.plan_caches.unpersist()

    return _doc_stream(MINHASH, stream).writeStream.foreachBatch(screen)


def _incdedup_reference(run: Run, spark) -> None:
    """The batch reference: incremental_dedup over the entire published
    log as ONE batch, against the SAME read-back index."""
    from pyspark.sql import Row

    from solace_apache_beam_spark.llm.dedup import incremental_dedup

    all_docs = spark.createDataFrame(
        [Row(doc_id=i, text=_inc_doc_text(i)) for i in range(run.messages)]
    )
    index = _ensure_inc_index(run.work, spark)
    ref = incremental_dedup(all_docs, corpus_index=index, **_INC_PARAMS)
    ref.write.mode("overwrite").parquet(os.path.join(run.work, "expected"))
    ref.plan_caches.unpersist()


def _verify_incdedup(run: Run) -> dict:
    """DISTINCT per-doc screening rows at the sink equal the batch
    operator's output over the full replayed log — zero loss, zero
    invention, per-doc status/match/jaccard all equal — and every doc
    carries exactly ONE distinct row (replayed epochs may duplicate rows
    across epochs; the idempotent sink bounds them and they must
    collapse under DISTINCT with no contradiction)."""
    got_rows = _sql(
        f"""SELECT doc_id, status, match_id, jaccard, count(*) AS copies
            FROM {_sink_sql(run)} GROUP BY 1, 2, 3, 4"""
    )
    exp_rows = _sql(
        f"""SELECT doc_id, status, match_id, jaccard
            FROM read_parquet('{run.work}/expected/*.parquet')"""
    )
    got = {tuple(r[:4]) for r in got_rows}
    expected = set(map(tuple, exp_rows))
    by_status = dict(collections.Counter(r[1] for r in exp_rows))
    out = {
        "mode": "incremental_dedup",
        "messages": run.messages,
        "queues": run.k,
        "corpus_docs": _INC_CORPUS,
        "epochs_at_kill": run.epochs_at_kill,
        "docs_screened": len(got),
        "screen_exact_vs_batch": got == expected,
        "status_mix": by_status,
        "replay_duplicate_rows": sum(r[4] - 1 for r in got_rows),
        "acked": _acked(run),
        "total_s": round(run.total_s, 2),
        "msg_per_s": round(run.messages / run.total_s),
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
    _assert_acked(run)
    return out


# --- growing-corpus screens: MinHash and semantic -------------------------------

# growing-corpus streaming ingestion: the FULL self-referential
# LLM-ingestion loop — each epoch's unique survivors JOIN the corpus
# index, so later batches dedup against everything ingested before
# them. Exactness contract: the committed per-epoch statuses must equal
# a sequential FOLD of the batch operator over the committed epochs
# (same per-epoch doc sets, index grown the same way) — this pins the
# plumbing the static-index soak cannot see: index growth visibility
# (epoch N sees exactly epochs < N), replay idempotence of BOTH sinks,
# and exactly-once delivery into the screen (per-queue committed-id
# high-water marks, the same replay-marks idiom as
# streaming/stateful.py, persisted per epoch beside the index). Every
# microbatch:
#
# 1. replay guard — drop rows at-or-below the per-queue id high-water
#    mark committed by epochs < this one (broker replay after the
#    SIGKILL would otherwise re-ingest screened docs and flip their
#    status against the by-then-grown index);
# 2. screen against base index UNION grown partitions with epoch <
#    this one (a re-executed epoch must see exactly the index it saw
#    the first time — its own torn partitions are excluded);
# 3. statuses -> idempotent per-epoch status sink;
# 4. unique survivors' index rows -> grown index partitions keyed by
#    epoch (dynamic overwrite = replay idempotent); per-queue max ids ->
#    the bookkeeping table, same discipline.
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


# the semantic screen (the embedding twin of the MinHash loop: same
# anatomy, same fold contract over incremental_semantic_dedup and a
# reference vector index grown the same way)
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


class _MinHashCorpus:
    """The MinHash growing-corpus screen (make_corpus_ingestion_screen).
    A corpus class holds what the two growing-corpus screens differ in:
    payload, screen, dedup call, index growth and status columns."""

    mode, label = "incdedup_grow", "streaming loop"
    id_base, corpus_docs = _INC_GROW_ID_BASE, _INC_CORPUS
    names = ("doc_id", "status", "match_id", "jaccard")
    schema = "doc_id long, status string, match_id long, jaccard double"
    # accounting key -> status whose match into the GROWN index it counts
    hits = {"grown_exact_hits": "exact_dup", "grown_near_hits": "near_dup"}
    tables = ("hashes", "shingles", "bands")
    # production-tuned reducer count for the throughput row: the
    # screen's frames are epoch-bounded, so corpus-scale reducers (local
    # default 32) buy pure task-scheduling overhead — the knob that row
    # exists to measure; the kill-restart row deliberately leaves it at
    # None so BOTH paths stay exercised
    shuffle_partitions = 8

    def payload(self, j: int, lag: int) -> str:
        return _inc_grow_text(j, lag)

    def body(self, F):
        return F.split("payload", "\\|", 2).getItem(1).alias("text")

    def base(self, run: Run, spark):
        return _ensure_inc_index(run.work, spark)

    def screen(self, spark, base, run: Run, **kw):
        from solace_apache_beam_spark.streaming.ingestion import (
            make_corpus_ingestion_screen,
        )

        return make_corpus_ingestion_screen(
            spark, base, run.sink, *_grown_dirs(run), **_INC_PARAMS, **kw
        )

    def docs(self, spark, pairs, lag: int):
        return spark.createDataFrame(
            [(i, _inc_grow_text(j, lag)) for i, j in pairs], "doc_id long, text string"
        )

    def dedup(self, docs, idx):
        from solace_apache_beam_spark.llm.dedup import incremental_dedup

        return incremental_dedup(docs, corpus_index=idx, **_INC_PARAMS)

    def grow(self, idx, uniq):
        from solace_apache_beam_spark.llm.dedup import build_corpus_index

        gidx = build_corpus_index(
            uniq, **{kk: _INC_PARAMS[kk] for kk in ("shingle_n", "n_perm", "n_bands")}
        )
        # localCheckpoint: the fold's index lineage otherwise grows
        # by one union + one Arrow kernel per epoch
        out = {t: idx[t].unionByName(gidx[t]).localCheckpoint() for t in self.tables}
        gidx.unpersist()
        return out


class _SemanticCorpus:
    """The semantic growing-corpus screen (make_semantic_ingestion_screen)."""

    mode, label = "semdedup_grow", "semantic loop"
    id_base, corpus_docs = _SEM_ID_BASE, _SEM_CORPUS
    names = ("doc_id", "status", "match_id")
    schema = "doc_id long, status string, match_id long"
    hits = {"grown_hits": "semantic_dup"}
    tables = ()
    # deliberately NOT setting shuffle_partitions: the semantic screen's
    # heavy stage is the post-shuffle bucket matmul, which is
    # REDUCER-bound at production vector epochs — 8 reducers measured
    # 1,564 msg/s at 60k-vector epochs vs 3,205+ at the session default
    # 32. The knob helps screens whose cost is map-side kernels + commit
    # latency (the MinHash twin), not reducer-parallel compute.
    shuffle_partitions = None

    def payload(self, j: int, lag: int) -> str:
        return ",".join(str(x) for x in _sem_vec(j, lag))

    def body(self, F):
        return F.transform(
            F.split(F.split("payload", "\\|", 2).getItem(1), ","),
            lambda x: x.cast("double"),
        ).alias("embedding")

    def _index(self, docs):
        from solace_apache_beam_spark.llm.similarity import build_vector_index

        return build_vector_index(
            docs,
            "embedding",
            "doc_id",
            n_planes=_SEM_PARAMS["n_planes"],
            n_tables=_SEM_PARAMS["n_tables"],
        )

    def _frame(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, embedding array<double>")

    def base(self, run: Run, spark):
        return self._index(
            self._frame(spark, [(c, _sem_base_vec(c)) for c in range(_SEM_CORPUS)])
        )

    def screen(self, spark, base, run: Run, **kw):
        from solace_apache_beam_spark.streaming.ingestion import (
            make_semantic_ingestion_screen,
        )

        return make_semantic_ingestion_screen(
            spark,
            base,
            run.sink,
            *_grown_dirs(run),
            doc_col="doc_id",
            vec_col="embedding",
            **_SEM_PARAMS,
            **kw,
        )

    def docs(self, spark, pairs, lag: int):
        return self._frame(spark, [(i, _sem_vec(j, lag)) for i, j in pairs])

    def dedup(self, docs, idx):
        from solace_apache_beam_spark.llm.similarity import incremental_semantic_dedup

        return incremental_semantic_dedup(docs, idx, "embedding", "doc_id", **_SEM_PARAMS)

    def grow(self, idx, uniq):
        # localCheckpoint: the fold's index lineage otherwise grows by
        # one union + one bucketize kernel per epoch
        return idx.unionByName(self._index(uniq)).localCheckpoint()


MINHASH, SEMANTIC = _MinHashCorpus(), _SemanticCorpus()


def _grown_dirs(run: Run) -> tuple[str, str]:
    return os.path.join(run.work, "grown"), os.path.join(run.work, "book")


def _publish_grow(corpus, run: Run) -> None:
    run.size([run.n // run.k] * run.k)
    per_q = run.per_q
    # cross-epoch dup lag: ~2 epochs back, ≡ 1 mod 4 so the source is a
    # kind-2 (unique) doc
    run.lag = max(5, (2 * run.batch) // 4 * 4 + 1)
    run.publish(
        lambda qi, q: [
            f"{corpus.id_base + qi * per_q + j}|{corpus.payload(qi * per_q + j, run.lag)}"
            for j in range(per_q)
        ]
    )


def _doc_stream(corpus, stream):
    """Payload "<doc_id>|<body>" -> (destination, message_id, doc_id,
    body column); the __flush__ sentinels never reach a screen."""
    from pyspark.sql import functions as F

    return stream.filter(~F.col("payload").startswith("__flush__")).select(
        "destination",
        "message_id",
        F.split("payload", "\\|", 2).getItem(0).cast("long").alias("doc_id"),
        corpus.body(F),
    )


def _grow_graph(corpus, run: Run, spark, stream):
    screen = corpus.screen(spark, corpus.base(run, spark), run)
    return _doc_stream(corpus, stream).writeStream.foreachBatch(screen)


def _fold_reference(corpus, run: Run, spark) -> None:
    """The FOLD reference: the batch operator applied sequentially to
    the committed epochs' exact doc sets, growing a reference index the
    same way the screen grows its own."""
    ep_docs = _sql(
        f"""SELECT _epoch_id, list(doc_id ORDER BY doc_id) FROM {_sink_sql(run)}
            GROUP BY _epoch_id ORDER BY _epoch_id"""
    )
    idx = corpus.base(run, spark)
    expected = []
    for ep, ids in ep_docs:
        if not ids:
            continue
        docs = corpus.docs(spark, [(i, i - corpus.id_base) for i in ids], run.lag)
        ref = corpus.dedup(docs, idx)
        got = ref.collect()
        expected += [tuple(r[c] for c in corpus.names) + (int(ep),) for r in got]
        uniq = docs.join(
            spark.createDataFrame(
                [(r.doc_id,) for r in got if r.status == "unique"], "doc_id long"
            ),
            "doc_id",
        )
        ref.plan_caches.unpersist()
        idx = corpus.grow(idx, uniq)
    spark.createDataFrame(expected, corpus.schema + ", epoch long").write.mode(
        "overwrite"
    ).parquet(os.path.join(run.work, "expected"))


def _verify_fold(corpus, run: Run) -> dict:
    """Per committed epoch, streaming statuses == the sequential batch
    fold; globally one row per doc (no status contradictions — the
    replay marks worked); and the growth path really engaged: some dup
    matched a GROWN index entry (match_id >= the incoming-id base),
    which only happens if later epochs saw earlier epochs' survivors."""
    cols, width = ", ".join(corpus.names), len(corpus.names)
    got_rows = _sql(
        f"""SELECT {cols}, CAST(_epoch_id AS BIGINT), count(*)
            FROM {_sink_sql(run)} GROUP BY ALL"""
    )
    exp_rows = _sql(
        f"SELECT {cols}, epoch FROM read_parquet('{run.work}/expected/*.parquet')"
    )
    got = {tuple(r[: width + 1]) for r in got_rows}
    expected = set(map(tuple, exp_rows))
    hits = {
        key: sum(
            1
            for r in got_rows
            if r[1] == status and r[2] is not None and r[2] >= corpus.id_base
        )
        for key, status in corpus.hits.items()
    }
    by_status = dict(collections.Counter(r[1] for r in got_rows))
    doc_ids = [r[0] for r in got_rows]
    out = {
        "mode": corpus.mode,
        "messages": run.messages,
        "queues": run.k,
        "corpus_docs_base": corpus.corpus_docs,
        "epochs_at_kill": run.epochs_at_kill,
        "epochs_committed": len({r[width] for r in got_rows}),
        "docs_screened": len(doc_ids),
        "fold_exact": got == expected,
        "status_mix": by_status,
        **hits,
        "total_s": round(run.total_s, 2),
        "msg_per_s": round(run.messages / run.total_s),
    }
    assert got == expected, (
        f"{corpus.label} diverged from the sequential batch fold: "
        f"missing={list(expected - got)[:3]} extra={list(got - expected)[:3]}"
    )
    assert len(set(doc_ids)) == len(doc_ids), (
        "a doc was screened twice (replay marks failed)"
    )
    assert len(set(doc_ids)) == run.messages, "lost docs"
    key, status = next(iter(corpus.hits.items()))
    assert hits[key] > 0, (
        f"no {status} ever matched a grown-index entry — the loop "
        "never actually grew"
    )
    return out


# --- timed rows: no kill ---------------------------------------------------------


def _classic_graph(run: Run, spark, stream):
    from solace_apache_beam_spark.streaming.pipelines import windowed_word_count

    return (
        windowed_word_count(stream)
        .writeStream.format("memory")
        .queryName("soak")
        .outputMode("update")
    )


def _verify_classic(run: Run, spark, elapsed: float) -> dict:
    """The windowed word count drained in one JVM — the heavier,
    re-runnable version of the ad-hoc soak recorded in BASELINE.md
    (100k messages, 4 queues). The committed throughput contract is the
    >=1,000 msg/s floor test
    (tests/test_streaming_source.py::test_streaming_throughput_floor)."""
    return {
        "messages": run.messages,
        "queues": run.k,
        "drain_s": round(elapsed, 2),
        "msg_per_s": round(run.messages / elapsed),
        "consumed": _total(run, fake_broker.delivered_watermark),
        "cached_rdds_at_shutdown": len(spark.sparkContext._jsc.getPersistentRDDs()),
    }


def _throughput_graph(corpus, run: Run, spark, stream):
    """Production-batch THROUGHPUT point for a growing-corpus loop: the
    kill-restart rows prove fold-exactness but run at fixed-per-epoch-
    overhead dominance (~617 msg/s at 50k docs in 10k-doc epochs); this
    runs the SAME screen — replay marks, epoch-consistent index union,
    all three epoch-partitioned sinks — in-process with production-sized
    epochs (--batch per queue) and times every epoch, so the msg/s
    number isolates the index-join-bound regime the 100 TB story rests
    on. No kill (exactness is the other rows' job), no fold reference
    (it would double the runtime without adding a contract this row is
    about)."""
    base = corpus.base(run, spark)

    # steady-state methodology (same rationale as bench.py's warmup):
    # this row measures the index-join-bound regime, so pay the one-time
    # process costs BEFORE the stream starts — spawn the whole Python
    # worker pool, then run ONE dry screen pass (no sink writes,
    # throwaway ids far outside every real range) so the dedup DAG's
    # codegen/Arrow serializers compile outside the timed epochs.
    # Without this, epochs 0-3 measured 8-16 s against a 4.4-5 s steady
    # tail on identical plans — the warmup cliff, not epoch work.
    def _warm(it):
        yield from it

    spark.range(0, 32, 1, 32).mapInPandas(_warm, "id long").write.format(
        "noop"
    ).mode("overwrite").save()
    dry = corpus.dedup(
        corpus.docs(spark, [(-10_000_000 - i, i) for i in range(500)], run.lag), base
    )
    dry.write.format("noop").mode("overwrite").save()
    dry.plan_caches.unpersist()

    screen = corpus.screen(spark, base, run, shuffle_partitions=corpus.shuffle_partitions)

    def timed_screen(batch_df, epoch_id: int) -> None:
        rows = batch_df.count()
        t0 = time.monotonic()
        screen(batch_df, epoch_id)
        run.epoch_times.append((int(epoch_id), round(time.monotonic() - t0, 2), rows))

    return _doc_stream(corpus, stream).writeStream.foreachBatch(timed_screen)


def _verify_throughput(corpus, run: Run, spark, elapsed: float) -> dict:
    """Epoch times (the growth trend IS the signal — a superlinear rise
    would mean the index join degrades as the corpus grows), msg/s
    overall and for the steady tail (epochs after the first), final
    grown-index row counts, and the time to scan+count the final index
    (the fixed per-epoch read the screen pays on top of the join)."""
    grow_dir = _grown_dirs(run)[0]

    def rows(path: str) -> int:
        try:
            return spark.read.parquet(path).count()
        except Exception:  # noqa: BLE001 — empty dir on tiny runs
            return 0

    t_read0 = time.monotonic()
    if corpus.tables:
        index_rows = {t: rows(f"{grow_dir}/{t}") for t in corpus.tables}
    else:
        index_rows = rows(grow_dir)
    index_read_s = round(time.monotonic() - t_read0, 2)
    by_status = dict(
        _sql(f"SELECT status, count(*) FROM {_sink_sql(run)} GROUP BY status")
    )
    data_epochs = [e for e in run.epoch_times if e[2] > 0]
    tail = data_epochs[1:] or data_epochs
    tail_msgs = sum(r for _, _, r in tail)
    tail_s = sum(t for _, t, _ in tail)
    out = {
        "mode": f"{corpus.mode}_throughput",
        "shuffle_partitions": corpus.shuffle_partitions,
        "messages": run.messages,
        "queues": run.k,
        "batch_per_q": run.batch,
        "epoch_size": run.batch * run.k,
        "epochs": len(data_epochs),
        "epoch_times_s": [(e, t) for e, t, _ in run.epoch_times],
        "status_mix": by_status,
        "grown_index_rows": index_rows,
        "final_index_read_s": index_read_s,
        "total_s": round(elapsed, 2),
        "msg_per_s": round(run.messages / elapsed),
        "steady_msg_per_s": round(tail_msgs / tail_s) if tail_s else None,
    }
    assert sum(by_status.values()) == run.messages, (
        f"screened {sum(by_status.values())} != published {run.messages}"
    )
    return out


# --- the table -------------------------------------------------------------------


@dataclasses.dataclass(frozen=True)
class Scenario:
    """One row. ``publish(run)`` writes the ground-truth stream and sizes
    the run; ``graph(run, spark, stream)`` is the child's writer from
    source to sink; ``verify`` reads the work dir and returns the
    accounting dict, asserting the contract. ``divisor`` sets the
    records per queue per micro-batch (largest queue // divisor; None
    takes --batch); ``budget_s`` is the wall budget of both phases.
    ``flush`` publishes the sentinels, ``reference`` builds a batch or
    fold reference in the surviving child, ``between`` injects a failure
    between the kill and the restart. ``kill=False`` rows run
    in-process, timed."""

    name: str
    flag: str | None
    publish: Callable
    graph: Callable
    verify: Callable
    # ~10 epochs: enough staggering that the kill lands mid-drain with
    # >=3 committed (the contract's requirement) without paying 25
    # per-epoch commit overheads per phase (suite-runtime cap)
    divisor: int | None = 10
    budget_s: float = 1200
    flush: Callable | None = _flush
    reference: Callable | None = None
    between: Callable | None = None
    kill: bool = True


_p = functools.partial
SCENARIOS = {
    r.name: r
    for r in (
        Scenario("conservation", "--kill-restart", _publish_plain, _append_graph,
                 _verify_conservation),
        Scenario("stateful", "--stateful", _publish_plain, _stateful_graph,
                 _verify_stateful),
        Scenario("sessionize", "--sessionize", _publish_sessions, _sessionize_graph,
                 _verify_sessions, flush=_flush_sessions),
        Scenario("funnel", "--funnel", _publish_funnel, _funnel_graph,
                 _verify_funnel, flush=_p(_flush, fmt="__flush__{q}:{tag}")),
        # the screening rows' epochs are each a full dedup graph
        Scenario("incdedup", "--incdedup", _publish_incdedup, _incdedup_graph,
                 _verify_incdedup, divisor=8, budget_s=1800,
                 reference=_incdedup_reference),
        # ~5 epochs, not ~10: each epoch here is a full dedup graph PLUS
        # the index-growth writes, and the fold reference re-pays it —
        # the growth/replay contract needs >=3 committed epochs and one
        # cross-epoch lag, not epoch count
        Scenario("incdedup_grow", "--incdedup-grow", _p(_publish_grow, MINHASH),
                 _p(_grow_graph, MINHASH), _p(_verify_fold, MINHASH), divisor=5,
                 budget_s=1800, reference=_p(_fold_reference, MINHASH)),
        Scenario("semdedup_grow", "--semdedup-grow", _p(_publish_grow, SEMANTIC),
                 _p(_grow_graph, SEMANTIC), _p(_verify_fold, SEMANTIC), divisor=5,
                 budget_s=1800, reference=_p(_fold_reference, SEMANTIC)),
        Scenario("lost_commit", "--lost-commit", _publish_plain, _append_graph,
                 _verify_conservation, between=_lose_commit),
        Scenario("lost_batch", "--lost-batch", _publish_plain, _append_graph,
                 _verify_conservation, between=_lose_batch),
        # divisor 1: one micro-batch takes each queue whole, as uncapped
        Scenario("classic", None, _publish_plain, _classic_graph, _verify_classic,
                 divisor=1, flush=None, kill=False),
        Scenario("incdedup_throughput", "--incdedup-throughput",
                 _p(_publish_grow, MINHASH), _p(_throughput_graph, MINHASH),
                 _p(_verify_throughput, MINHASH), divisor=None, kill=False),
        Scenario("semdedup_throughput", "--semdedup-throughput",
                 _p(_publish_grow, SEMANTIC), _p(_throughput_graph, SEMANTIC),
                 _p(_verify_throughput, SEMANTIC), divisor=None, kill=False),
    )
}


def main() -> None:
    argv = sys.argv[1:]
    if "--phase" in argv:
        i = argv.index("--phase")
        phase(argv[i + 1], argv[i + 2])
        return
    skew, batch_per_q = 1, 25_000
    if "--skew" in argv:
        i = argv.index("--skew")
        skew = int(argv[i + 1])
        del argv[i : i + 2]
    if "--batch" in argv:
        i = argv.index("--batch")
        batch_per_q = int(argv[i + 1])
        del argv[i : i + 2]
    args = [a for a in argv if not a.startswith("--")]
    row = next((r for r in SCENARIOS.values() if r.flag in argv), SCENARIOS["classic"])
    run = Run(
        name=row.name,
        work=tempfile.mkdtemp(prefix=f"soak_{row.name}_"),
        k=int(args[1]) if len(args) > 1 else 4,
        n=int(args[0]) if args else 100_000,
        skew=skew,
        divisor=row.divisor,
        batch=0 if row.divisor else batch_per_q,
    )
    row.publish(run)
    run.save()
    out = (kill_restart if row.kill else timed)(row, run)
    shutil.rmtree(run.work, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
