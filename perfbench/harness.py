"""Shared pieces of the benchmark: the Spark session it builds, the
load-shape record, process-tree memory, the statistics every workload
reports, and the traced-run tooling (spans, status-tracker counts,
event-log bytes).

Nothing here imports the package at module level, so the self-tests run
without a JVM.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import signal
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

# Samples needed beyond a percentile before it may be reported.
TAIL_SAMPLES = 10
DRIVER_MEMORY = "3g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# --- statistics -----------------------------------------------------------


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (``p`` in 0..100) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(n: int, wanted: float) -> float | None:
    """The highest percentile, at most ``wanted`` and on a 5-point grid,
    that leaves at least ``TAIL_SAMPLES`` of ``n`` samples beyond it;
    None when even the median does not."""
    p = wanted
    while p >= 50:
        if n * (100 - p) / 100.0 >= TAIL_SAMPLES:
            return p
        p -= 5
    return None


def tail_epochs(walls: list[float], warmup: int) -> list[int]:
    """Indices of the epochs measured after warm-up: the first ``warmup``
    data-carrying epochs are dropped by position, never by their time."""
    return list(range(warmup, len(walls)))


def batch_for_offsets(
    batches: list[tuple[float, dict[str, int]]], queue: str, offset: int
) -> float | None:
    """Completion time of the micro-batch that consumed message ``offset``
    of ``queue``. ``batches`` holds ``(completed_at, end_offsets)`` in
    batch order; end offsets are exclusive, as the source reports them.
    None when no batch has consumed it."""
    for done, end in batches:
        if end.get(queue, 0) > offset:
            return done
    return None


def letter_word(v: int) -> str:
    """Three-letter word for ``v`` mod 26**3: the package's tokenizers
    split on non-letters, so generated words carry no digits."""
    return "".join("abcdefghijklmnopqrstuvwxyz"[(v // 26**i) % 26] for i in range(3))


def value_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name, every
    value rendered with ``str``, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(str(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return f"{len(lines)}:{h.hexdigest()[:16]}"


# --- environment ----------------------------------------------------------


def _cpu_times() -> tuple[int, int, int]:
    """Total, iowait and steal jiffies of all cores."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals), vals[4], vals[7]


def cpu_probe_ms() -> float:
    """Wall of a fixed pure-Python loop: how fast one core runs right now."""
    t0 = time.perf_counter()
    sum(i * i for i in range(1_000_000))
    return (time.perf_counter() - t0) * 1000


class LoadShape:
    """nproc, 1-minute load average, iowait %, steal % (time the host
    ran others on this machine's cores) and a one-core speed probe over
    a measured span."""

    def __init__(self) -> None:
        self.start = _cpu_times()
        self.load_start = os.getloadavg()[0]
        self.probe_start = cpu_probe_ms()

    def finish(self) -> dict:
        total, iowait, steal = _cpu_times()
        dt = total - self.start[0]
        return {
            "nproc": nproc(),
            "loadavg1_start": round(self.load_start, 2),
            "loadavg1_end": round(os.getloadavg()[0], 2),
            "iowait_pct": round(100.0 * (iowait - self.start[1]) / dt, 2) if dt else 0.0,
            "steal_pct": round(100.0 * (steal - self.start[2]) / dt, 2) if dt else 0.0,
            "cpu_probe_ms_start": round(self.probe_start, 1),
            "cpu_probe_ms_end": round(cpu_probe_ms(), 1),
        }


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """Children of every process, and each process's resident kB."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            fields = stat[stat.rindex(")") + 2 :].split()
            pid = int(name)
            children.setdefault(int(fields[1]), []).append(pid)
            rss[pid] = int(fields[21]) * page_kb
        except (OSError, ValueError, IndexError):
            continue
    return children, rss


def _descendants(root: int) -> list[int]:
    children, _rss = _proc_table()
    out, stack = [], list(children.get(root, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def _tree_rss_kb(root: int) -> int:
    _children, rss = _proc_table()
    return sum(rss.get(pid, 0) for pid in [root, *_descendants(root)])


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; reaps it if it is this process's zombie."""
    try:
        if os.waitpid(pid, os.WNOHANG)[0] == pid:
            return False
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def stop_processes(timeout_s: float = 20.0) -> None:
    """Stop the Spark session if one is active, then the driver JVM that
    PySpark launched, and wait until every process this one started (the
    JVM, the Python worker daemon and its workers) has ended. The JVM
    exits when its stdin closes, which otherwise happens only as this
    process exits, and the JVM would outlive it by a second or two.
    Whatever still runs after ``timeout_s`` gets SIGTERM, then SIGKILL."""
    pids = set(_descendants(os.getpid()))
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception as exc:  # the JVM may already be gone
            print(f"spark stop failed: {exc!r}", file=sys.stderr)
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        if proc.stdin is not None and not proc.stdin.closed:
            proc.stdin.close()
        try:
            proc.wait(timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    pids |= set(_descendants(os.getpid()))
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + (timeout_s if sig is None else 5.0)
        while True:
            pids = {pid for pid in pids if _alive(pid)}
            if not pids or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        if not pids:
            return
    raise RuntimeError(f"processes still running after SIGKILL: {sorted(pids)}")


class PeakRss:
    """Samples the resident memory of this process and every descendant
    (the driver JVM and its Python workers) twice a second.

    The 95th percentile is the steady figure: the peak sample catches
    forks in flight (a child the JVM forks for a shell command counts
    the JVM's pages a second time until it execs), measured as 6.0 GB
    peaks against a 3.9 GB 95th percentile in the same run."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.samples_kb: list[int] = []
        self._stop = threading.Event()
        self._interval = interval_s
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            self.samples_kb.append(_tree_rss_kb(os.getpid()))
            self._stop.wait(self._interval)

    def stop(self) -> dict[str, float]:
        """Peak and 95th-percentile resident memory, in MB."""
        self._stop.set()
        self._thread.join()
        mb = [kb / 1024.0 for kb in self.samples_kb] or [0.0]
        return {"peak": max(mb), "p95": percentile(mb, 95)}


# --- session --------------------------------------------------------------


def start_spark(work: str, cpus: int, event_log_dir: str | None = None):
    """The package's session with ``cpus`` task threads, as many shuffle
    partitions, and every scratch path inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    conf = {
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file under /tmp: the run writes only in its checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # the package's 8g default let the driver heap grow to 2-8 GB
        # resident from run to run; a 3g heap holds both workloads and
        # keeps peak memory steady (and ingest ran no slower)
        "spark.driver.memory": DRIVER_MEMORY,
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = event_log_dir
        # one plain JSON-lines file per session
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    from solace_apache_beam_spark.session import get_spark

    return get_spark("perfbench", cpus=cpus, extra_conf=conf)


def warm_workers(spark, cpus: int) -> None:
    """Start one Python worker per task slot and load Arrow in each."""

    def _touch(it):
        yield from it

    spark.range(0, cpus, 1, cpus).mapInPandas(_touch, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


# --- tracing --------------------------------------------------------------


class Tracer:
    """In-memory spans around calls into the package's layers. Disabled,
    ``span`` costs one attribute test."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = getattr(self._local, "current", None)
        rec = {
            "name": name,
            "run_id": self.run_id,
            "id": len(self.spans),
            "parent": parent,
            "start": time.perf_counter(),
            **attrs,
        }
        self.spans.append(rec)
        self._local.current = rec["id"]
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._local.current = parent

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def progress_layers(progress: list[dict]) -> dict:
    """Trigger-loop and source metrics from a query's progress events:
    per data-carrying batch means, and idle time between batches."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]

    def mean(key) -> float:
        xs = [key(p["durationMs"]) for p in data]
        return sum(xs) / len(xs) if xs else 0.0

    idle = []
    for prev, cur in zip(data, data[1:]):
        gap = _iso_s(cur["timestamp"]) - _iso_s(prev["timestamp"])
        idle.append(max(0.0, gap * 1000 - prev["durationMs"].get("triggerExecution", 0)))
    return {
        "source.latest_offset_ms": mean(lambda d: d.get("latestOffset", 0)),
        "source.plan_ms": mean(lambda d: d.get("queryPlanning", 0) + d.get("getBatch", 0)),
        "stream.trigger_ms": mean(lambda d: d.get("triggerExecution", 0)),
        "stream.add_batch_ms": mean(lambda d: d.get("addBatch", 0)),
        "stream.wal_commit_ms": mean(lambda d: d.get("walCommit", 0) + d.get("commitOffsets", 0)),
        "stream.idle_ms": sum(idle) / len(idle) if idle else 0.0,
    }


def batch_completions(progress: list[dict]) -> list[tuple[float, dict[str, int]]]:
    """``(completed_at epoch s, end_offsets)`` per batch, from progress
    events (trigger start + trigger duration)."""
    out = []
    for p in progress:
        done = _iso_s(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1000.0
        out.append((done, p["sources"][0].get("endOffset") or {}))
    return out


def _iso_s(ts: str) -> float:
    from datetime import datetime, timezone

    return (
        datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()
    )


def observed_sum(progress: list[dict], key: str) -> int:
    """Sum of one observed metric over every batch of a query."""
    return sum(
        int(m.get(key) or 0) for p in progress for m in (p.get("observedMetrics") or {}).values()
    )


def dir_files(path: str) -> tuple[int, int]:
    """Data files and their bytes under ``path`` (hidden and ``_`` files
    excluded)."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def group_counts(spark, group: str) -> dict:
    """statusTracker job, stage and task counts of one job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numTasks
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}


_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def event_log_bytes(event_log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: shuffle read+write, spill (memory+disk) and Python
    UDF bytes, summed over the task-end events of the session's event
    log. Read after the session stopped, when the log is complete."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for name in os.listdir(event_log_dir):
        with open(os.path.join(event_log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"), "")
                    acc = out.setdefault(
                        group, {"shuffle_b": 0.0, "spill_b": 0.0, "python_b": 0.0}
                    )
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc["shuffle_b"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    ) + sw.get("Shuffle Bytes Written", 0)
                    acc["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if a.get("Name") in _PY_BYTES:
                            acc["python_b"] += float(a.get("Update") or 0)
    return out
