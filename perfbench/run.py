"""Benchmark command: one workload, one seed, one run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace {0,1}

Run it from anywhere inside a checkout of the repository; it imports the
package from the checkout. It builds its own Spark session on
``local[nproc]``, drives the package through its public functions, times
the calls from outside, checks the outputs after the timed region, and
prints as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones BENCHMARK.json declares; with
``--trace 1`` the per-layer ones, and the spans go to
``.perfbench_traces/<workload>-<run id>.json``. The lines before it name
each workload's own metrics with their units and the run's load shape.
Scratch files live under ``.perfbench_work/`` and are removed at exit,
after the driver JVM and every other process the run started have ended.

Workloads: ``ingest_bulk`` and ``stream_paced``. The batch layers are
measured in stream_paced's traced run (``batch_pass``).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_bulk", "stream_paced")


def declared_metrics(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


class Context:
    """What a workload gets: its seed, length, scratch dir and tracer."""

    def __init__(self, args, work: str) -> None:
        from harness import Tracer, nproc

        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cpus = nproc()
        self.work = work
        self.tracer = Tracer(self.trace, uuid.uuid4().hex[:12])
        self.event_log = os.path.join(work, "eventlog") if self.trace else None
        self.session_start_s = None

    def start_spark(self, cpus: int | None = None):
        from harness import start_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            spark = start_spark(self.work, cpus or self.cpus, self.event_log)
        if self.session_start_s is None:
            self.session_start_s = time.perf_counter() - t0
        return spark


def trace_layers(ctx: Context, result: dict) -> dict[str, float]:
    """Per-layer metrics of a traced run: the workload's own, plus
    shuffle, spill and Python-worker bytes per unit from the event log
    (read once the session has stopped)."""
    from harness import event_log_bytes

    layers = {"session.start_s": ctx.session_start_s, **result["layers"]}
    by_group = event_log_bytes(ctx.event_log)
    for layer, (prefix, units) in result["event_groups"].items():
        for key, name in (("shuffle_b", "shuffle_mb"), ("spill_b", "spill_mb"), ("python_b", "python_mb")):
            total = sum(v[key] for g, v in by_group.items() if g.startswith(prefix))
            layers[f"{layer}.{name}"] = total / 2**20 / units
    return layers


def _parse(argv):
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "solace_apache_beam_spark")):
        print("package solace_apache_beam_spark not found beside perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from harness import LoadShape, PeakRss, stop_processes

    # a SIGTERM unwinds through the cleanup below instead of ending the
    # process with its JVM still running
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))

    units = declared_metrics(bool(args.trace))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    rss = PeakRss()
    load = LoadShape()
    ctx = Context(args, work)
    try:
        result = importlib.import_module(args.workload).run(ctx)
        spark = result.pop("spark")
        if ctx.trace:
            if spark is not None:
                spark.stop()
            metrics = trace_layers(ctx, result)
            metrics["fail_ratio"] = result["failed"] / result["attempted"]
            traces = os.path.join(ROOT, ".perfbench_traces")
            os.makedirs(traces, exist_ok=True)
            path = os.path.join(traces, f"{args.workload}-{ctx.tracer.run_id}.json")
            ctx.tracer.dump(path)
            print(f"spans written to {os.path.relpath(path, ROOT)}")
            idle = sorted(set(units) - set(metrics))
            if idle:
                print(f"{args.workload} layers not measured here (reported as 0): {' '.join(idle)}")
        else:
            mem = rss.stop()
            result["summary"]["peak_rss_mb"] = (mem["peak"], "MB")
            metrics = {
                "setup_s": result["setup_s"],
                "rss_p95_mb": mem["p95"],
                "throughput_per_s": result["throughput_per_s"],
                "latency_p50_s": result["latency_p50_s"],
            }
        named = {k: (v, units[k]) for k, v in metrics.items() if not ctx.trace}
        for name, (value, unit) in {**named, **result["summary"]}.items():
            print(f"{args.workload} {name} = {value} {unit}")
        print(f"{args.workload} fail_ratio = {result['failed'] / result['attempted']} ratio")
        for err in result["errors"][:10]:
            print(f"{args.workload} error: {err}")
        print(f"load {json.dumps(load.finish())}")
        out = {
            "correct": not result["errors"],
            "attempted": result["attempted"],
            "failed": result["failed"],
            "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()},
        }
    finally:
        rss.stop()
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
