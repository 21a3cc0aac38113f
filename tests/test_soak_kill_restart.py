"""Mid-drain SIGKILL + restart-from-checkpoint, continuously verified.

scripts/run_soak.py --kill-restart is the recorded 100k-message run
(PLANS.md round 6); these are the same scenarios at pytest scale so the
contracts — conservation, per-key state exactness, session-set
exactness, per-user funnel exactness (each also under >=100:1 hot-key
skew), and streaming-vs-batch incremental-dedup equality — cannot
silently rot between rounds. The script asserts each contract itself
(SolaceIOLifecycleDataflowIT.java:349-350 is the conservation
reference); the tests check the orchestrator exits green and the
accounting line says what it must.

Two failure-injection rows run the conservation contract with the
newest checkpoint commit (lost_commit) or offset-log entry plus its
commit (lost_batch) deleted between the kill and the restart.

Soak tier (VERDICT r8 Next #4): each scenario spawns 2 JVMs, so by
default they SKIP visibly; SPARK_GRAFT_SOAK=1 runs them (scripts/
preflight and the round-close verification set it). Runtime cap
(VERDICT r10 Next #4): the scenarios are independent work dirs and
process groups, so a module-scoped fixture launches all 11 through a
pool (4 wide by default, so 3 waves) — wall-clock is the sum of the
waves' slowest scenarios, not the 11-scenario sum — and each test stays
a separate, individually-reported contract."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

soak_tier = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SOAK") != "1",
    reason="soak tier: set SPARK_GRAFT_SOAK=1 (preflight/round-close do)",
)

# Suite-runtime levers (VERDICT r11 Next #6) — wall-clock here is
# (number of waves) x (slowest scenario), so the pool width is the
# dominant knob. Defaults keep the measured-safe 4 x 8-thread layout
# (= machine width); an idle 32-core VM takes SPARK_GRAFT_SOAK_POOL=11
# SPARK_GRAFT_SOAK_CPUS=4 to run all 11 scenarios in ONE wave (each
# scenario is its own work dir + process group; the kill trigger polls
# committed epochs, not wall time, so contention cannot change what
# the contracts observe — only how long they take).
_POOL_WIDTH = int(os.environ.get("SPARK_GRAFT_SOAK_POOL", "4"))
_SOAK_CPUS = os.environ.get("SPARK_GRAFT_SOAK_CPUS", "8")

_SCENARIOS: dict[str, list[str]] = {
    "conservation": ["4000", "2", "--kill-restart"],
    "stateful": ["4000", "2", "--stateful"],
    "sessionize": ["4000", "2", "--sessionize"],
    "funnel": ["4000", "2", "--funnel"],
    "sessionize_skew": ["6000", "2", "--sessionize", "--skew", "100"],
    "funnel_skew": ["6400", "2", "--funnel", "--skew", "100"],
    "incdedup": ["1600", "2", "--incdedup"],
    "incdedup_grow": ["800", "2", "--incdedup-grow"],
    "semdedup_grow": ["400", "2", "--semdedup-grow"],
    "lost_commit": ["4000", "2", "--lost-commit"],
    "lost_batch": ["4000", "2", "--lost-batch"],
}


# per-scenario wall ceiling: 540 s is ample on an idle machine (a
# one-wave run of every scenario finishes in ~200 s), but the round-13
# preflight runs this module CONCURRENTLY with the CPU-bound pytest
# group, and under that contention scenarios legitimately stretch past
# it (the kill triggers poll committed epochs, so slow != wrong) —
# preflight raises the ceiling via the env knob instead of narrowing
# coverage
_SCENARIO_TIMEOUT = int(os.environ.get("SPARK_GRAFT_SOAK_TIMEOUT", "540"))


def _run_scenario(args: list[str]):
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "run_soak.py"), *args],
        capture_output=True,
        text=True,
        timeout=_SCENARIO_TIMEOUT,
        # pytest-scale soaks don't need the 32-thread pool the at-scale
        # PLANS.md runs use; pool x threads ~= machine width (knob above).
        # The ceiling goes down too: the script gives both phases 80 %
        # of it, so it reports a hang and kills its phase groups before
        # this timeout would kill it and orphan them
        env={
            **os.environ,
            "SPARK_GRAFT_CPUS": _SOAK_CPUS,
            "SPARK_GRAFT_SOAK_TIMEOUT": str(_SCENARIO_TIMEOUT),
        },
    )
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    return r.returncode, json.loads(lines[-1]) if lines else None, r.stderr


@pytest.fixture(scope="module")
def soak():
    """All scenarios, _POOL_WIDTH concurrent (each is its own work dir
    + process group; the kill trigger polls committed epochs, not wall
    time, so contention cannot change what the contract observes)."""
    with ThreadPoolExecutor(max_workers=_POOL_WIDTH) as pool:
        futs = {
            name: pool.submit(_run_scenario, args)
            for name, args in _SCENARIOS.items()
        }
        return {name: f.result() for name, f in futs.items()}


def _out(soak, name: str) -> dict:
    rc, out, stderr = soak[name]
    assert rc == 0, f"{name}: {stderr[-800:]}"
    assert out is not None, f"{name}: no accounting line"
    return out


@soak_tier
def test_kill_restart_conservation(soak):
    out = _out(soak, "conservation")
    assert out["distinct_payloads"] == 4000
    assert out["rows_at_sink"] - out["distinct_payloads"] == out["replay_duplicates"]
    assert out["epochs_at_kill"] >= 3
    assert out["acked"] >= 4000


@soak_tier
def test_stateful_kill_restart_state_restored_exactly(soak):
    """The stateful sibling (VERDICT r8 Next #6): running_counts
    (applyInPandasWithState) sits between the source and the idempotent
    sink, so the SIGKILL lands on live state-store versions. The script
    asserts the per-key lifetime totals equal the broker log's ground
    truth EXACTLY — lost state undercounts, double-applied replay
    overcounts, either fails."""
    out = _out(soak, "stateful")
    assert out["per_key_totals_exact"] is True
    assert out["epochs_at_kill"] >= 3
    assert out["acked"] >= 4000


@soak_tier
def test_sessionize_kill_restart_sessions_exact(soak):
    """The sessionize sibling (round 10): the EventTimeTimeout
    sessionizer with the per-(key,queue) hwm map sits between the
    source and the idempotent sink at a nonzero watermark delay (the
    setting where broker replay actually reaches live state). The
    script recomputes every expected (key, start, end, n_events) from
    its publishing arithmetic — exact set equality, zero duplicate
    emissions, through a mid-drain process-group SIGKILL."""
    out = _out(soak, "sessionize")
    assert out["sessions_exact"] is True
    assert out["duplicate_rows"] == 0
    assert out["sessions_at_sink"] == out["sessions_expected"] == 80
    assert out["epochs_at_kill"] >= 3
    assert out["acked"] >= 4000


@soak_tier
def test_funnel_kill_restart_stages_exact(soak):
    """The funnel sibling (round 10): the per-user stage machine with
    the per-(key,queue) hwm map under a mid-drain SIGKILL. Ground truth
    is per-user exact from the publishing pattern (user parity picks a
    completing or stalling event sequence — half the population sits
    below the top stage, so overcounts are visible, not hidden at the
    cap)."""
    out = _out(soak, "funnel")
    assert out["stages_exact"] is True and out["n_diverged"] == 0
    assert out["epochs_at_kill"] >= 3
    assert out["acked"] >= 4000


@soak_tier
def test_sessionize_kill_restart_hot_key_skew(soak):
    """Hot-KEY variant (VERDICT r10 Next #3): sessionize keys on the
    queue, and the first queue receives 100x every other queue's
    messages — one applyInPandasWithState group dominates every
    microbatch through the SIGKILL. Same session-set exactness, plus
    the skew accounting must show the hot key really carried >=100:1."""
    out = _out(soak, "sessionize_skew")
    assert out["sessions_exact"] is True and out["duplicate_rows"] == 0
    assert out["hot_key_events"] >= 100 * (
        (out["messages"] - out["hot_key_events"]) / max(1, out["queues"] - 1)
    )
    assert out["epochs_at_kill"] >= 3


@soak_tier
def test_funnel_kill_restart_hot_user_skew(soak):
    """Hot-USER variant (VERDICT r10 Next #3): one funnel key per queue
    receives half that queue's events (realized ratio per_q/16:1,
    asserted >=100:1 by the script), running the stalling pattern so a
    replay-overcount on the hot key itself is visible below the stage
    cap. Per-user stage exactness must hold through the SIGKILL."""
    out = _out(soak, "funnel_skew")
    assert out["stages_exact"] is True and out["n_diverged"] == 0
    assert out["skew_ratio"] >= 100
    assert out["hot_user_events"] * out["queues"] * 2 == out["messages"]
    assert out["epochs_at_kill"] >= 3


@soak_tier
def test_incremental_dedup_streaming_matches_batch_through_kill(soak):
    """The streaming LLM-ingestion composition (VERDICT r10 Next #7):
    per-microbatch incremental_dedup screening against the persisted
    corpus index, through a mid-drain SIGKILL + restart. The script
    asserts DISTINCT per-doc screening rows equal the batch operator
    over the full replayed log, one row per doc, and that the stream
    exercised all three statuses (exact_dup / near_dup / unique)."""
    out = _out(soak, "incdedup")
    assert out["screen_exact_vs_batch"] is True
    assert out["docs_screened"] == 1600
    assert out["epochs_at_kill"] >= 3
    assert min(out["status_mix"].values()) > 0


@soak_tier
def test_incremental_dedup_growing_corpus_matches_sequential_fold(soak):
    """The GROWING-corpus loop (round 11): each epoch's unique
    survivors join the corpus index, so later batches dedup against
    everything ingested before them; per-queue committed-id high-water
    marks give exactly-once delivery into the screen. The script
    asserts every committed epoch's statuses equal the sequential batch
    fold, one row per doc globally, and that some exact_dups matched
    GROWN entries — the loop really grew through the SIGKILL."""
    out = _out(soak, "incdedup_grow")
    assert out["fold_exact"] is True
    assert out["docs_screened"] == 800
    assert out["epochs_at_kill"] >= 3
    assert out["grown_exact_hits"] > 0


@soak_tier
def test_semantic_dedup_growing_corpus_matches_sequential_fold(soak):
    """The SEMANTIC growing-corpus loop (round 11): the embedding twin
    of the incdedup_grow scenario — each epoch's unique vectors join
    the persisted LSH vector index, later batches semantically dedup
    against everything kept before them, and the replay marks give
    exactly-once delivery into the screen. The script asserts every
    committed epoch's statuses equal the sequential fold of
    incremental_semantic_dedup growing a reference index, one row per
    doc globally, and that some semantic_dups matched GROWN entries
    through the SIGKILL."""
    out = _out(soak, "semdedup_grow")
    assert out["fold_exact"] is True
    assert out["docs_screened"] == 400
    assert out["epochs_at_kill"] >= 3
    assert out["grown_hits"] > 0


def _assert_conserved(out: dict) -> None:
    assert out["distinct_payloads"] == 4000
    assert out["rows_at_sink"] - out["distinct_payloads"] == out["replay_duplicates"]
    assert out["epochs_at_kill"] >= 3
    assert out["acked"] >= 4000


@soak_tier
def test_kill_restart_lost_commit_conservation(soak):
    """The newest cp/commits/<N> is deleted between the kill and the
    restart, as if the crash beat the commit log's write: the restart
    re-runs an epoch whose sink partition already exists, and the
    idempotent appender must replace it — conservation holds as in
    test_kill_restart_conservation."""
    out = _out(soak, "lost_commit")
    assert any(f.startswith("commits/") for f in out["lost"])
    _assert_conserved(out)


@soak_tier
def test_kill_restart_lost_batch_conservation(soak):
    """The newest cp/offsets/<N> and its commit (if written) are deleted
    between the kill and the restart: the restart re-plans that batch
    from the broker, which replays from its last acked position, and
    the conservation law still holds."""
    out = _out(soak, "lost_batch")
    assert any(f.startswith("offsets/") for f in out["lost"])
    _assert_conserved(out)
