"""ingest_bulk: closed-loop drain of a pre-published backlog through the
growing-corpus ingestion screen.

Four queues hold a backlog of documents ``"<doc_id>|<text>"``; the
stream reads ``EPOCH_PER_QUEUE`` from each queue per micro-batch, so an
epoch is 10,000 documents, and ``make_corpus_ingestion_screen`` screens
each one against the corpus index built in set-up plus every earlier
epoch's unique documents. The first ``WARMUP_EPOCHS`` epochs belong to
set-up: they carry the first-epoch cliff (codegen, the Python worker
pool, JIT), and they are dropped by position, never by their time. The
timed region then takes whole epochs until ``--seconds`` have passed and
at least ``MIN_TIMED_EPOCHS`` are done, so the median epoch rejects one
slow epoch; it ends early if the backlog runs dry. An epoch's time runs
from the end of the previous epoch's callback to the end of its own, so
it includes the trigger loop between them.

The text mix repeats by position ``p`` in its queue:
- ``p % 4 == 0`` an exact copy of a corpus document -> ``exact_dup``;
- ``p % 4 == 1`` a corpus document with one word replaced (shingle
  Jaccard 0.76) -> ``near_dup``, or ``unique`` when the LSH bands miss;
- ``p % 4 == 2`` fresh words -> ``unique``;
- ``p % 4 == 3`` a copy of the ``p % 4 == 2`` document ``LAG``
  positions earlier in the same queue, one epoch back, so it is an
  ``exact_dup`` of a document the index grew by, from the first timed
  epoch on; with no such document yet, fresh words -> ``unique``.

Traced, the timed epochs alternate: traced epochs give the per-layer
numbers, untraced ones the base of ``trace.overhead_ratio``. The traced
run then repeats the drain on a ``local[1]`` session as the
single-threaded reference.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time

import numpy as np

from harness import (
    dir_files,
    group_counts,
    letter_word,
    observed_sum,
    percentile,
    progress_layers,
    tail_epochs,
)

QUEUES = ["q0", "q1", "q2", "q3"]
EPOCH_PER_QUEUE = 2_500
WARMUP_EPOCHS = 1
MIN_TIMED_EPOCHS = 3
LAG = EPOCH_PER_QUEUE + 1  # = 1 (mod 4): lands on a p % 4 == 2 doc
CORPUS_DOCS = 400
DOC_WORDS = 24
DEDUP = dict(shingle_n=3, n_perm=16, n_bands=4)
THRESHOLD = 0.5
# incoming doc ids: queue qi, position p -> ID_BASE + qi * ID_STRIDE + p
ID_BASE = 1_000_000
ID_STRIDE = 1_000_000
# Corpus words take values below CORPUS_VOCAB, fresh words above it, so a
# fresh document can never be a near-copy of a corpus one.
CORPUS_VOCAB = 997
VOCAB = 17_576  # three-letter words
# An epoch takes 7-9 s on a 4-core host. The backlog holds the warm-up
# epochs, the timed epochs of a screen twice as fast, and one spare; a
# faster screen drains it and ends the timed region early.
FAST_EPOCH_S = 4
GROUP = "perfbench-screen"


class Corpus:
    """The seeded corpus and the incoming documents per queue, each as
    ``(doc_id, text, expected status, expected match_id)``."""

    def __init__(self, seed: int, per_queue: int) -> None:
        rng = np.random.default_rng(seed)
        words = [letter_word(v) for v in range(VOCAB)]
        self.corpus = [
            " ".join(words[v] for v in row)
            for row in rng.integers(0, CORPUS_VOCAB, (CORPUS_DOCS, DOC_WORDS))
        ]
        self.docs: dict[str, list[tuple[int, str, str, int | None]]] = {}
        self.origin: dict[int, int] = {}  # near-copy doc id -> its corpus doc
        for qi, q in enumerate(QUEUES):
            picks = rng.integers(0, CORPUS_DOCS, per_queue)
            slots = rng.integers(0, DOC_WORDS, per_queue)
            fresh = rng.integers(CORPUS_VOCAB + 3, VOCAB, (per_queue, DOC_WORDS))
            rows: list[tuple[int, str, str, int | None]] = []
            near_texts: set[str] = set()
            for p in range(per_queue):
                doc_id = ID_BASE + qi * ID_STRIDE + p
                c = int(picks[p])
                kind = p % 4
                if kind == 0:
                    rows.append((doc_id, self.corpus[c], "exact_dup", c))
                elif kind == 1:
                    near = self.corpus[c].split()
                    near[slots[p]] = words[fresh[p, 0]]
                    if " ".join(near) in near_texts:
                        # the same copy drawn twice would be an exact_dup
                        near[(slots[p] + 1) % DOC_WORDS] = words[fresh[p, 1]]
                    near_texts.add(" ".join(near))
                    rows.append((doc_id, " ".join(near), "near_dup", c))
                    self.origin[doc_id] = c
                elif kind == 3 and p >= LAG:
                    src = rows[p - LAG]
                    rows.append((doc_id, src[1], "exact_dup", src[0]))
                else:
                    rows.append((doc_id, " ".join(words[v] for v in fresh[p]), "unique", None))
            self.docs[q] = rows

    def expected(self, epoch_positions: list[int]) -> dict[int, tuple[str, int | None]]:
        """Expected ``(status, match_id)`` of every doc in the given
        data epochs (positions in drain order)."""
        out = {}
        for i in epoch_positions:
            lo = i * EPOCH_PER_QUEUE
            for q in QUEUES:
                for doc_id, _text, status, match in self.docs[q][lo : lo + EPOCH_PER_QUEUE]:
                    out[doc_id] = (status, match)
        return out


def check_statuses(
    status_rows: list[tuple], expected: dict[int, tuple], origin: dict[int, int]
) -> list[str]:
    """Compare the status sink's ``(doc_id, status, match_id)`` rows with
    the expected ``(status, match_id)``. A near-copy of corpus document
    ``c`` may come back ``unique`` (LSH recall), or ``near_dup`` of ``c``
    or of another near-copy of ``c`` that an earlier epoch added to the
    index as ``unique``; ``origin`` maps each near-copy to its ``c``."""
    errors: list[str] = []
    seen = set()
    for doc_id, status, match_id in status_rows:
        if doc_id in seen:
            errors.append(f"doc {doc_id} screened twice")
            continue
        seen.add(doc_id)
        want = expected.get(doc_id)
        if want is None:
            errors.append(f"doc {doc_id} was not published in these epochs")
            continue
        want_status, want_match = want
        if want_status == "near_dup" and (
            status == "unique"
            or (status == "near_dup" and origin.get(match_id, match_id) == want_match)
        ):
            continue
        if status != want_status or match_id != want_match:
            errors.append(f"doc {doc_id}: {status}/{match_id}, want {want_status}/{want_match}")
    missing = len(expected.keys() - seen)
    if missing:
        errors.append(f"{missing} published docs have no status")
    return errors


def backlog_epochs(seconds: float) -> int:
    """Epochs of documents to publish for a run of ``seconds``."""
    return WARMUP_EPOCHS + max(MIN_TIMED_EPOCHS, math.ceil(seconds / FAST_EPOCH_S)) + 1


def _drain(
    ctx, spark, corpus: Corpus, work: str, seconds: float, min_epochs: int, trace: bool
) -> dict:
    """Publish the backlog, build the index, start the stream, run the
    warm-up epochs, then whole epochs until ``seconds`` have passed and
    ``min_epochs`` are done, or the backlog is drained."""
    from pyspark.sql import functions as F

    from solace_apache_beam_spark.llm.dedup import build_corpus_index
    from solace_apache_beam_spark.sources import fake_broker
    from solace_apache_beam_spark.streaming.ingestion import make_corpus_ingestion_screen
    from solace_apache_beam_spark.streaming.pipelines import open_stream

    tracer = ctx.tracer
    broker = os.path.join(work, "broker")
    with tracer.span("source.publish"):
        for q in QUEUES:
            fake_broker.create_queue(broker, q)
            fake_broker.publish(broker, q, [f"{d}|{t}" for d, t, _, _ in corpus.docs[q]])

    t0 = time.perf_counter()
    with tracer.span("dedup.index_build"):
        built = build_corpus_index(
            spark.createDataFrame(list(enumerate(corpus.corpus)), "doc_id long, text string"),
            **DEDUP,
        )
        index = {}
        for name in ("hashes", "shingles", "bands"):
            path = os.path.join(work, "index", name)
            built[name].write.mode("overwrite").parquet(path)
            index[name] = spark.read.parquet(path)
        built.unpersist()
    index_build_s = time.perf_counter() - t0

    sink_dirs = {n: os.path.join(work, n) for n in ("status", "grown", "book")}
    screen = make_corpus_ingestion_screen(
        spark,
        index,
        sink_dirs["status"],
        sink_dirs["grown"],
        sink_dirs["book"],
        threshold=THRESHOLD,
        **DEDUP,
    )
    sc = spark.sparkContext
    epochs: list[dict] = []  # data-carrying epochs, in drain order
    backlog: list[int] = []
    state = {"deadline": None, "stop": False, "last_end": None}
    warm_done = threading.Event()
    measured_done = threading.Event()

    def timed_screen(batch_df, epoch_id: int) -> None:
        if state["stop"]:
            return  # past the timed region: let the stream idle
        rows = batch_df.count()
        if rows == 0:
            return
        measured = len(epochs) >= WARMUP_EPOCHS
        traced = trace and measured and (len(epochs) - WARMUP_EPOCHS) % 2 == 1
        tracer.enabled = traced
        group = f"{GROUP}-{epoch_id}"
        if traced:
            saved = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(group, "screen", False)
        t0 = time.perf_counter()
        try:
            with tracer.span("screen.callback", epoch=int(epoch_id)):
                screen(batch_df, epoch_id)
        finally:
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", saved)
        t1 = time.perf_counter()
        rec = {
            "epoch": int(epoch_id),
            "rows": rows,
            "callback_s": t1 - t0,
            "wall_s": t1 - (state["last_end"] or t0),
            "traced": traced,
        }
        if traced:
            rec.update(group_counts(spark, group))
        epochs.append(rec)
        state["last_end"] = t1
        left = sum(
            fake_broker.message_count(broker, q) - fake_broker.delivered_watermark(broker, q)
            for q in QUEUES
        )
        backlog.append(left)
        if len(epochs) == WARMUP_EPOCHS:
            warm_done.set()
        elif state["deadline"] is not None and (
            left == 0 or (t1 >= state["deadline"] and len(epochs) - WARMUP_EPOCHS >= min_epochs)
        ):
            state["stop"] = True
            measured_done.set()

    stream = (
        open_stream(spark, broker, QUEUES, max_records_per_batch=EPOCH_PER_QUEUE)
        .observe("src", F.sum(F.col("redelivered").cast("long")).alias("redelivered"))
        .select(
            "destination",
            "message_id",
            F.split("payload", "\\|", 2).getItem(0).cast("long").alias("doc_id"),
            F.split("payload", "\\|", 2).getItem(1).alias("text"),
        )
    )
    query = (
        stream.writeStream.foreachBatch(timed_screen)
        .option("checkpointLocation", os.path.join(work, "checkpoint"))
        .start()
    )
    try:
        if not warm_done.wait(150):
            raise RuntimeError("warm-up epochs did not finish")
        t_measure = time.perf_counter()
        state["deadline"] = t_measure + seconds
        if not measured_done.wait(seconds + 120):
            raise RuntimeError("timed epochs did not finish")
        progress = [json.loads(p.json) for p in query.recentProgress]
    finally:
        query.stop()
        # the screen releases each epoch's caches on a background thread:
        # let those finish before the session goes away
        for t in threading.enumerate():
            if t.name.endswith("(_release)"):
                t.join(30)
    tracer.enabled = ctx.trace
    return {
        "epochs": epochs,
        "t_measure": t_measure,
        "index_build_s": index_build_s,
        "progress": progress,
        "backlog": backlog,
        "sink_dirs": sink_dirs,
    }


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    # generating the documents is the benchmark's own work: not set-up
    corpus = Corpus(ctx.seed, EPOCH_PER_QUEUE * backlog_epochs(ctx.seconds))
    t_setup = time.perf_counter()
    spark = ctx.start_spark()
    d = _drain(ctx, spark, corpus, ctx.work, ctx.seconds, MIN_TIMED_EPOCHS, ctx.trace)
    epochs = d["epochs"]
    setup_s = d["t_measure"] - t_setup

    tail = [epochs[i] for i in tail_epochs([e["wall_s"] for e in epochs], WARMUP_EPOCHS)]
    timed = [e for e in tail if not e["traced"]]
    rates = [e["rows"] / e["wall_s"] for e in timed]
    walls = [e["wall_s"] for e in timed]

    # correctness, outside the timed region
    positions = list(range(WARMUP_EPOCHS, len(epochs)))
    ids = [epochs[i]["epoch"] for i in positions]
    got = [
        tuple(r)
        for r in spark.read.parquet(d["sink_dirs"]["status"])
        .filter(F.col("_epoch_id").isin(ids))
        .select("doc_id", "status", "match_id")
        .collect()
    ]
    errors = check_statuses(got, corpus.expected(positions), corpus.origin)
    mix = {s: 0 for s in ("exact_dup", "near_dup", "unique")}
    grown_hits = 0
    for _doc, status, match_id in got:
        mix[status] += 1
        grown_hits += status == "exact_dup" and match_id >= ID_BASE
    if grown_hits == 0:
        errors.append("no exact_dup matched a document the index grew by")
    redelivered = observed_sum(d["progress"], "redelivered")
    if redelivered:
        errors.append(f"{redelivered} messages redelivered")

    files, size = (sum(x) for x in zip(*(dir_files(p) for p in d["sink_dirs"].values())))
    layers = {
        "session.warmup_s": sum(e["wall_s"] for e in epochs[:WARMUP_EPOCHS]),
        "dedup.index_build_s": d["index_build_s"],
        "screen.exact_dup": mix["exact_dup"],
        "screen.near_dup": mix["near_dup"],
        "screen.unique": mix["unique"],
        "screen.epoch_growth": tail[-1]["callback_s"] / tail[0]["callback_s"],
        "source.backlog_msgs": sum(d["backlog"]) / len(d["backlog"]),
        "source.redelivered": redelivered,
        "sink.files": files / len(epochs),
        "sink.mb": size / 2**20 / len(epochs),
        **progress_layers(d["progress"]),
    }
    traced = [e for e in tail if e["traced"]]
    if traced:
        layers["screen.callback_s"] = sum(e["callback_s"] for e in traced) / len(traced)
        for key in ("jobs", "stages", "tasks"):
            layers[f"screen.{key}"] = sum(e[key] for e in traced) / len(traced)
        layers["trace.overhead_ratio"] = (sum(e["wall_s"] for e in traced) / len(traced)) / (
            sum(walls) / len(walls)
        )
        layers["reference.local1_msgs_per_s"] = _local1_reference(ctx, spark, corpus)
        spark = None
    return {
        "spark": spark,
        "setup_s": setup_s,
        "attempted": len(tail),
        "failed": len(tail) if errors else 0,
        "errors": errors,
        "throughput_per_s": percentile(rates, 50),
        "latency_p50_s": percentile(walls, 50),
        "summary": {
            "ingest_msgs_per_s": (percentile(rates, 50), "1/s"),
            "epoch_p50_s": (percentile(walls, 50), "s"),
            "epochs_timed": (len(walls), "count"),
            "epoch_s": ([round(w, 3) for w in walls], "s"),
        },
        "layers": layers,
        "event_groups": {"screen": (GROUP, max(1, len(traced)))},
    }


def _local1_reference(ctx, spark, corpus: Corpus) -> float:
    """Steady msg/s of the same drain on a ``local[1]`` session: the
    warm-up epoch, then one timed epoch. Stops ``spark`` first."""
    spark.stop()
    one = ctx.start_spark(cpus=1)
    try:
        d = _drain(ctx, one, corpus, os.path.join(ctx.work, "local1"), 0.0, 1, False)
        e = d["epochs"][WARMUP_EPOCHS]
        return e["rows"] / e["wall_s"]
    finally:
        one.stop()
