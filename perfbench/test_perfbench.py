"""Self-tests of the benchmark's helpers; no JVM needed.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import types
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import ingest_bulk  # noqa: E402
import run  # noqa: E402
import stream_paced  # noqa: E402

SPEC_PATH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(SPEC_PATH) as f:
        return json.load(f)


@pytest.mark.parametrize(
    "n, wanted, p",
    [(100, 90, 90), (99, 90, 85), (1000, 95, 95), (40, 90, 75), (20, 90, 50), (19, 90, None)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, wanted, p):
    assert harness.tail_percentile(n, wanted) == p
    if p is not None:
        assert n * (100 - p) / 100 >= harness.TAIL_SAMPLES


def test_percentile_interpolates():
    assert harness.percentile([4, 1, 3, 2], 50) == 2.5
    assert harness.percentile([1, 2, 3, 4, 5], 90) == pytest.approx(4.6)


def test_tail_epochs_drop_warmup_by_position_not_time():
    # a fast first epoch is still warm-up; a slow later one is kept
    assert harness.tail_epochs([1.0, 9.0, 30.0, 8.0], 1) == [1, 2, 3]
    assert harness.tail_epochs([9.0], 2) == []


def test_offsets_map_to_the_first_batch_past_them():
    batches = [(10.0, {"a": 5}), (12.0, {"a": 9, "b": 3}), (13.0, {"a": 9, "b": 4})]
    assert harness.batch_for_offsets(batches, "a", 0) == 10.0
    assert harness.batch_for_offsets(batches, "a", 4) == 10.0
    assert harness.batch_for_offsets(batches, "a", 5) == 12.0  # end offsets are exclusive
    assert harness.batch_for_offsets(batches, "b", 3) == 13.0
    assert harness.batch_for_offsets(batches, "a", 9) is None  # never consumed


def test_batch_completions_add_trigger_time_to_start():
    progress = [
        {
            "timestamp": "1970-01-01T00:00:10.250Z",
            "durationMs": {"triggerExecution": 1500},
            "sources": [{"endOffset": {"q": 7}}],
        }
    ]
    assert harness.batch_completions(progress) == [(11.75, {"q": 7})]


def test_value_hash_ignores_row_and_column_order():
    a = harness.value_hash(["x", "y"], [(1, "a"), (2, "b")])
    b = harness.value_hash(["y", "x"], [("b", 2), ("a", 1)])
    assert a == b
    assert a != harness.value_hash(["x", "y"], [(1, "a"), (2, "c")])


def test_metric_and_workload_names_are_well_formed(spec):
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    for name in names:
        assert NAME.fullmatch(name), name
    assert len(names) == len(set(names))
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m
    assert {m["name"] for m in spec["end_to_end"]} >= {"setup_s", "rss_p95_mb"}
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)


def _fake_checkout(tmp_path) -> str:
    root = tmp_path / "checkout"
    shutil.copytree(HERE, root / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(SPEC_PATH, root / "BENCHMARK.json")
    return str(root)


@pytest.mark.parametrize("trace", [0, 1])
def test_printed_metrics_equal_the_declared_set(tmp_path, monkeypatch, capsys, spec, trace):
    root = _fake_checkout(tmp_path)
    os.makedirs(os.path.join(root, "solace_apache_beam_spark"))

    def fake_run(ctx):
        if ctx.trace:
            os.makedirs(ctx.event_log)
        return {
            "spark": None,
            "setup_s": 1.5,
            "attempted": 4,
            "failed": 0,
            "errors": [],
            "throughput_per_s": 2.0,
            "latency_p50_s": 0.5,
            "summary": {"ingest_msgs_per_s": (2.0, "1/s")},
            "layers": {"batch.build_s": 0.1},
            "event_groups": {"batch": ("g", 1), "screen": ("h", 2)},
        }

    monkeypatch.setattr(run, "ROOT", root)
    monkeypatch.setattr(run.signal, "signal", lambda *_args: None)
    real_import = run.importlib.import_module
    monkeypatch.setattr(
        run.importlib,
        "import_module",
        lambda name, *a: types.SimpleNamespace(run=fake_run) if name == "ingest_bulk" else real_import(name, *a),
    )
    assert run.main(["--workload", "ingest_bulk", "--seed", "1", "--seconds", "1", "--trace", str(trace)]) == 0
    last = capsys.readouterr().out.strip().splitlines()[-1]
    out = json.loads(last)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    declared = spec["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]


def test_command_fails_without_the_package(tmp_path):
    root = _fake_checkout(tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_bulk", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=root, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_stop_processes_ends_every_child():
    # a child that ignores SIGTERM, as a wedged worker might
    children = [
        subprocess.Popen(["sleep", "60"]),
        subprocess.Popen([sys.executable, "-c", "import signal, time; "
                          "signal.signal(signal.SIGTERM, signal.SIG_IGN); time.sleep(60)"]),
    ]
    harness.stop_processes(timeout_s=0.2)
    for child in children:
        assert not os.path.exists(f"/proc/{child.pid}")


def test_ingest_corpus_is_seeded_and_mixes_statuses():
    a, b = ingest_bulk.Corpus(7, 12_000), ingest_bulk.Corpus(7, 12_000)
    assert a.docs == b.docs and a.corpus == b.corpus
    assert a.docs != ingest_bulk.Corpus(8, 12_000).docs
    rows = a.docs["q0"]
    statuses = Counter(r[2] for r in rows)
    assert statuses["near_dup"] == 3_000
    # copies of fresh docs an epoch back: exact_dup against the grown index,
    # already in the first epoch after warm-up
    grown = [r for r in rows if r[2] == "exact_dup" and r[3] >= ingest_bulk.ID_BASE]
    assert grown and all(r[3] < r[0] - ingest_bulk.EPOCH_PER_QUEUE for r in grown)
    first_timed = range(ingest_bulk.EPOCH_PER_QUEUE, 2 * ingest_bulk.EPOCH_PER_QUEUE)
    assert any(r[0] - ingest_bulk.ID_BASE in first_timed for r in grown)


def test_ingest_backlog_outlasts_the_timed_epochs():
    for seconds in (1, 12, 15, 60):
        n = ingest_bulk.backlog_epochs(seconds)
        # warm-up, the minimum timed epochs, one spare
        assert n >= ingest_bulk.WARMUP_EPOCHS + ingest_bulk.MIN_TIMED_EPOCHS + 1
        # and a screen twice as fast as today's still fills the window
        assert (n - ingest_bulk.WARMUP_EPOCHS - 1) * ingest_bulk.FAST_EPOCH_S >= seconds


def test_ingest_check_accepts_lsh_misses_and_rejects_wrong_statuses():
    expected = {1: ("exact_dup", 5), 2: ("near_dup", 6), 3: ("unique", None), 4: ("near_dup", 6)}
    origin = {2: 6, 4: 6}
    ok = [(1, "exact_dup", 5), (2, "unique", None), (3, "unique", None), (4, "near_dup", 2)]
    assert ingest_bulk.check_statuses(ok, expected, origin) == []
    bad = [(1, "unique", None), (2, "near_dup", 9), (3, "unique", None)]
    errors = ingest_bulk.check_statuses(bad, expected, origin)
    assert len(errors) == 3  # two wrong statuses, one doc missing


def test_sessions_split_at_gaps_longer_than_the_gap():
    events = [("u", 0), ("u", 2), ("u", 5), ("u", 6), ("v", 1)]
    assert stream_paced.expected_sessions(events, gap_us=2) == Counter(
        {("u", 0, 2, 2): 1, ("u", 5, 6, 2): 1, ("v", 1, 1, 1): 1}
    )


def test_stream_schedule_is_seeded_and_paced():
    a = stream_paced.schedule(3, 2.0, 100)
    assert a == stream_paced.schedule(3, 2.0, 100)
    assert len(a) == 200 and a[-1][0] == pytest.approx(1.99)
    # every user idles at least a period between active ones
    users = {p for _d, q, p in a if q in stream_paced.SESSION_QUEUES}
    assert users and all(p.startswith("user") for p in users)
