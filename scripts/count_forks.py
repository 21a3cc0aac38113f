"""Count the processes the driver JVM starts per streaming micro-batch.

    python scripts/count_forks.py [--batches N] [--msgs M] [--cpus C]

Runs the two ``stream_paced`` queries on a fake broker through
``session.get_spark``: ``windowed_word_count`` into
``make_window_file_writer`` and ``sessionize`` into
``make_idempotent_appender``, each with its own checkpoint. The driver
JVM runs under ``-XX:StartFlightRecording``, whose default settings record
every ``jdk.ProcessStart`` (Hadoop's local filesystem forks ``readlink``
and ``chmod`` when the native ``libhadoop`` is missing). Each of the N
rounds publishes M messages per query and drives both queries to them
(``processAllAvailable``), so a round is at least one batch per query.

After the rounds, the recording is dumped and read back with the JDK's
``jfr print --json --events jdk.ProcessStart``. The script prints the
process starts of session start-up and of the rounds, per batch by
command and by JVM thread, and one JSON line last. Run it from another
checkout's ``scripts/`` to count that checkout's package.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time
from collections import Counter
from datetime import datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RECORDING = "count_forks"
WORD_QUEUES = ["w0", "w1"]
SESSION_QUEUES = ["s0", "s1"]


def process_starts(jfr_file: str) -> list[tuple[float, str, str]]:
    """``(epoch seconds, command name, JVM thread)`` per recorded start."""
    out = subprocess.run(
        ["jfr", "print", "--json", "--events", "jdk.ProcessStart", jfr_file],
        check=True,
        capture_output=True,
        text=True,
    ).stdout
    starts = []
    for ev in json.loads(out)["recording"]["events"]:
        v = ev["values"]
        command = os.path.basename(v["command"].split()[0]) if v["command"] else "?"
        thread = (v.get("eventThread") or {}).get("javaName") or "?"
        # one row per thread pool and one for all stream execution threads
        thread = re.sub(r"\d+", "N", re.sub(r" for \[.*\]$", "", thread))
        starts.append((datetime.fromisoformat(v["startTime"]).timestamp(), command, thread))
    return starts


def per_batch(counts: Counter, batches: int) -> dict[str, float]:
    return {k: round(n / batches, 1) for k, n in counts.most_common()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--batches", type=int, default=6, help="publish/drain rounds")
    ap.add_argument("--msgs", type=int, default=2000, help="messages per query per round")
    ap.add_argument("--cpus", type=int, default=4, help="local[N] width")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from solace_apache_beam_spark.session import get_spark
    from solace_apache_beam_spark.sinks.warehouse import make_idempotent_appender
    from solace_apache_beam_spark.sinks.window_files import make_window_file_writer
    from solace_apache_beam_spark.sources import fake_broker
    from solace_apache_beam_spark.streaming.pipelines import open_stream, windowed_word_count
    from solace_apache_beam_spark.streaming.stateful import sessionize

    work = tempfile.mkdtemp(prefix="count_forks_")
    jfr_file = os.path.join(work, "forks.jfr")
    try:
        t_session = time.time()
        spark = get_spark(
            "count_forks",
            cpus=args.cpus,
            extra_conf={
                "spark.driver.extraJavaOptions": f"-XX:StartFlightRecording=name={RECORDING}",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            },
        )
        broker = os.path.join(work, "broker")
        for q in WORD_QUEUES + SESSION_QUEUES:
            fake_broker.create_queue(broker, q)
        words_q = (
            windowed_word_count(open_stream(spark, broker, WORD_QUEUES), "60 seconds", "1 second")
            .writeStream.foreachBatch(make_window_file_writer(os.path.join(work, "windows")))
            .outputMode("append")
            .option("checkpointLocation", os.path.join(work, "cp_words"))
            .start()
        )
        sessions_q = (
            sessionize(
                open_stream(spark, broker, SESSION_QUEUES).withColumn("user", F.col("payload")),
                key_col="user",
                gap_seconds=2,
                watermark="1 second",
                dedupe_by=("destination", "message_id"),
            )
            .writeStream.foreachBatch(make_idempotent_appender(os.path.join(work, "sessions")))
            .outputMode("append")
            .option("checkpointLocation", os.path.join(work, "cp_sessions"))
            .start()
        )
        queries = (words_q, sessions_q)
        t_rounds = time.time()
        n = args.msgs // len(WORD_QUEUES)
        for r in range(args.batches):
            base_us = int(time.time() * 1_000_000)
            ts = [base_us + i * 1000 for i in range(n)]
            lines = [f"w{i % 97} w{i % 13} w{r}" for i in range(n)]
            users = [f"user{i % 40}" for i in range(n)]
            for q in WORD_QUEUES:
                fake_broker.publish(broker, q, lines, sender_timestamp_us=ts)
            for q in SESSION_QUEUES:
                fake_broker.publish(broker, q, users, sender_timestamp_us=ts)
            for q in queries:
                q.processAllAvailable()
        t_end = time.time()
        # batch ids start at 0 on a fresh checkpoint
        batches = sum(q.lastProgress["batchId"] + 1 for q in queries)
        for q in queries:
            q.stop()
        for rec in spark._jvm.jdk.jfr.FlightRecorder.getFlightRecorder().getRecordings():
            if rec.getName() == RECORDING:
                rec.dump(spark._jvm.java.io.File(jfr_file).toPath())
        spark.stop()

        starts = process_starts(jfr_file)
        setup = Counter(c for t, c, _ in starts if t < t_rounds)
        rounds = [(c, th) for t, c, th in starts if t_rounds <= t <= t_end]
        by_command = Counter(c for c, _ in rounds)
        by_thread = Counter(th for _, th in rounds)
        print(f"session start + query start ({t_rounds - t_session:.1f} s): "
              f"{sum(setup.values())} process starts {dict(setup.most_common())}")
        print(f"{args.batches} rounds, {batches} batches over both queries, "
              f"{t_end - t_rounds:.1f} s: {len(rounds)} process starts")
        print("per batch, by command:")
        for k, v in per_batch(by_command, batches).items():
            print(f"  {v:8.1f}  {k}")
        print("per batch, by JVM thread:")
        for k, v in per_batch(by_thread, batches).items():
            print(f"  {v:8.1f}  {k}")
        print(json.dumps({
            "batches": batches,
            "rounds_s": round(t_end - t_rounds, 2),
            "setup_starts": sum(setup.values()),
            "batch_starts": len(rounds),
            "per_batch_by_command": per_batch(by_command, batches),
            "per_batch_by_thread": per_batch(by_thread, batches),
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
