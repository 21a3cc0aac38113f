"""The kill-restart orchestrator of scripts/run_soak.py, driven with a
stub child instead of a Spark drain, so it runs in the quick tier.

The stub is what the orchestrator sees of a real drain phase: it leads
its own process group, starts a long-lived grandchild in that group
(the JVM's stand-in), writes one ``_epoch_id=N`` partition into
``<work>/sink`` every 0.1 s and then ``<work>/DONE``. These tests pin
that the kill lands after >= 3 epochs and the restart completes, that a
restart overrunning the scenario deadline raises with no process of
either phase left alive, and that a phase dying before the kill fails
at once with its output's tail.
"""

from __future__ import annotations

import importlib.util
import os
import sys
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_run_soak():
    spec = importlib.util.spec_from_file_location(
        "run_soak", os.path.join(REPO, "scripts", "run_soak.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["run_soak"] = mod
    spec.loader.exec_module(mod)
    return mod


run_soak = _load_run_soak()

STUB = r"""
import os, subprocess, sys, time
work, mode = sys.argv[1], sys.argv[2]
sink = os.path.join(work, "sink")
os.makedirs(sink, exist_ok=True)
restart = bool(os.listdir(sink))
jvm = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(300)"])
with open(os.path.join(work, "pgids"), "a") as f:
    f.write(f"{os.getpgid(0)}\n")
if mode == "crash":
    sys.stderr.write("boom: the stub phase crashed\n")
    sys.exit(3)
if mode == "hang" and restart:
    time.sleep(300)
for i in range(len(os.listdir(sink)), 12):
    os.makedirs(os.path.join(sink, f"_epoch_id={i}"))
    time.sleep(0.1)
open(os.path.join(work, "DONE"), "w").close()
jvm.kill()
"""


@pytest.fixture
def stub(tmp_path):
    path = tmp_path / "stub.py"
    path.write_text(STUB)
    work = tmp_path / "work"
    work.mkdir()
    return str(work), lambda mode: [sys.executable, str(path), str(work), mode]


def _pgids(work: str) -> list[int]:
    with open(os.path.join(work, "pgids")) as f:
        return [int(line) for line in f]


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    # killpg also reaches a killed grandchild that init has not reaped
    # yet (seconds, here): only a member that is not a zombie is alive
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                state, _ppid, pgrp = f.read().rsplit(")", 1)[1].split()[:3]
        except OSError:
            continue
        if int(pgrp) == pgid and state != "Z":
            return True
    return False


def _group_gone(pgid: int, within_s: float = 5.0) -> bool:
    """True once no live process of the group is left (SIGKILL lands
    asynchronously)."""
    end = time.monotonic() + within_s
    while _group_alive(pgid):
        if time.monotonic() > end:
            return False
        time.sleep(0.05)
    return True


def test_kill_lands_after_three_epochs_and_restart_completes(stub):
    work, argv = stub
    calls = []
    epochs = run_soak.orchestrate(
        work,
        argv("ok"),
        deadline_s=30,
        between=lambda: calls.append(len(os.listdir(os.path.join(work, "sink")))),
    )
    assert 3 <= epochs < 12
    assert calls and calls[0] >= epochs  # failure injection ran after the kill
    assert os.path.exists(os.path.join(work, "DONE"))
    assert len(os.listdir(os.path.join(work, "sink"))) == 12
    assert os.path.exists(os.path.join(work, "phase2.log"))
    pgids = _pgids(work)
    assert len(pgids) == 2
    assert all(_group_gone(g) for g in pgids)


def test_restart_over_deadline_raises_and_leaves_no_phase_alive(stub):
    work, argv = stub
    t0 = time.monotonic()
    with pytest.raises(TimeoutError, match="restart still running"):
        run_soak.orchestrate(work, argv("hang"), deadline_s=3)
    assert time.monotonic() - t0 < 10
    pgids = _pgids(work)
    assert len(pgids) == 2  # both phases ran
    for g in pgids:
        assert _group_gone(g), f"process group {g} survived the deadline"


def test_phase_dying_before_the_kill_fails_fast_with_its_log_tail(stub):
    work, argv = stub
    t0 = time.monotonic()
    with pytest.raises(RuntimeError, match="boom: the stub phase crashed"):
        run_soak.orchestrate(work, argv("crash"), deadline_s=120)
    assert time.monotonic() - t0 < 10
    (pgid,) = _pgids(work)
    assert _group_gone(pgid), "the crashed phase's grandchild survived"


def test_deadline_is_shared_and_derived_from_the_wrapper_timeout(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SOAK_TIMEOUT", "540")
    assert run_soak._deadline_s(1800) == pytest.approx(432)
    monkeypatch.setenv("SPARK_GRAFT_SOAK_TIMEOUT", "not-a-number")
    assert run_soak._deadline_s(1800) == 1800
    monkeypatch.delenv("SPARK_GRAFT_SOAK_TIMEOUT")
    assert run_soak._deadline_s(1200) == 1200


def test_lost_checkpoint_rows_delete_the_newest_log_entries(tmp_path):
    cp = tmp_path / "cp"
    for log, ids in (("offsets", (0, 1, 2)), ("commits", (0, 1))):
        (cp / log).mkdir(parents=True)
        for n in ids:
            (cp / log / str(n)).write_text("v1")
            (cp / log / f".{n}.crc").write_text("")
    run = run_soak.Run(name="lost_batch", work=str(tmp_path), k=1, n=1)
    run_soak._lose_batch(run)  # offsets/2 has no commit yet
    assert sorted(os.listdir(cp / "offsets")) == [".0.crc", ".1.crc", "0", "1"]
    assert sorted(os.listdir(cp / "commits")) == [".0.crc", ".1.crc", "0", "1"]
    assert run.lost == ["offsets/2", "offsets/.2.crc"]
    run_soak._lose_commit(run)
    assert sorted(os.listdir(cp / "commits")) == [".0.crc", "0"]


def test_every_scenario_flag_maps_to_one_row():
    flags = [r.flag for r in run_soak.SCENARIOS.values() if r.flag]
    assert len(flags) == len(set(flags))
    assert {
        "--kill-restart", "--stateful", "--sessionize", "--funnel", "--incdedup",
        "--incdedup-grow", "--semdedup-grow", "--lost-commit", "--lost-batch",
        "--incdedup-throughput", "--semdedup-throughput",
    } == set(flags)
