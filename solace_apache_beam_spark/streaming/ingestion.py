"""Growing-corpus dedup ingestion — the continuously-ingesting
training-pipeline composition (SolaceRecordTest.java:133-147's dedup
sample composed with the BigQuery ingest shape
SolaceBigQuery.java:146-211, taken to its production conclusion):

    source -> screen each microbatch against the PERSISTED corpus
    index -> statuses to the warehouse -> unique survivors JOIN the
    index, so later batches dedup against everything ingested before
    them.

:func:`make_corpus_ingestion_screen` returns a ``foreachBatch``
callable wiring :func:`~solace_apache_beam_spark.llm.dedup.
incremental_dedup` and :func:`~solace_apache_beam_spark.llm.dedup.
build_corpus_index` into that loop with three guarantees, each load-
bearing after an unclean restart of the at-least-once source:

1. **Exactly-once ingestion.** Per-queue committed-id high-water marks
   (the same replay-marks idiom as ``streaming/stateful.py``, persisted
   per epoch beside the index) drop broker-replayed rows before the
   screen — a replayed doc would otherwise re-screen against the
   by-then-grown index and flip its own status.
2. **Epoch-consistent index reads.** Every batch screens against the
   base index UNION grown partitions with ``epoch < this one``, so a
   re-executed epoch sees exactly the index it saw the first time —
   its own torn partitions are excluded, making re-execution
   bit-deterministic.
3. **Replay-idempotent writes.** All three sinks (statuses, grown
   index rows, bookkeeping marks) are epoch-partitioned: each epoch
   overwrites only its own ``epoch=N`` partition, so a replayed epoch
   REPLACES itself.

The loop's end-to-end contract — committed per-epoch statuses equal a
sequential fold of the batch operator over the committed epochs — is
kill-restart verified in ``scripts/run_soak.py --incdedup-grow`` and
pinned by the soak-tier wrapper.

At 100 TB: the base index is a bucketed table built once
(``build_corpus_index``); per-epoch cost touches the batch plus the
index's band partitions the batch joins (sort-merge, never a corpus
broadcast — incremental_dedup's boundedness contract) and one
map-side pass of the index's hash table through the batch's broadcast
hashes (never a shuffle of it); the grown partitions compact
downstream like any epoch-partitioned warehouse table. The MinHash
screen's plans are planned statically, so an epoch costs one Spark job
per sink write rather than one per adaptive query stage, and its
reducer count (``shuffle_partitions``) follows the epoch size, not the
corpus. State outside the store: the high-water-mark table is one row
per (queue, epoch) — scalars, not data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

try:  # Spark 4 canonical location, pyspark.sql.utils kept as alias
    from pyspark.errors import AnalysisException
except ImportError:  # pragma: no cover
    from pyspark.sql.utils import AnalysisException

_INDEX_PARTS = ("hashes", "shingles", "bands")


def _scoped_conf(batch_df: DataFrame, settings: dict[str, str], fn) -> None:
    """Run ``fn()`` with the SQL ``settings`` applied on the session
    that will actually EXECUTE the screen's plans, then restore each
    prior value — also when ``fn`` raises; a key that was unset is
    unset again. That session is ``batch_df.sparkSession`` — under a
    real stream, foreachBatch hands a frame bound to the stream
    execution's CLONED session, and a conf set on the outer/builder
    session is invisible to it (verified live on Spark 4.1.2; round-13
    review finding). Microbatches are driver-sequential, so the
    set/restore cannot race another batch of the same stream; a
    concurrent foreign query sharing the clone would see the override —
    dedicate a session to the loop (the production posture anyway) if
    that matters.

    The MinHash screen passes ``spark.sql.adaptive.enabled=false``:
    adaptive execution submits every query stage of the five concurrent
    sink writes as its own job and re-plans after each one (measured:
    43 jobs over 97 stages per 10k-doc epoch; 11 jobs over 26 stages
    planned statically). Static planning is safe
    there because every join whose side size matters is pinned — the
    corpus-derived sides merge, the batch-derived sides broadcast
    (``incremental_dedup``'s boundedness contract) — or has batch-sized
    data on both sides. What it gives up: post-shuffle partition
    coalescing (the screen's ``shuffle_partitions`` sizes the reducers
    instead) and skew-join splitting (band buckets are capped at
    ``max_bucket`` corpus rows, so no join key is unboundedly hot)."""
    sess = batch_df.sparkSession
    prev = {key: sess.conf.get(key, None) for key in settings}
    for key, value in settings.items():
        sess.conf.set(key, value)
    try:
        fn()
    finally:
        for key, value in prev.items():
            if value is None:
                sess.conf.unset(key)
            else:
                sess.conf.set(key, value)


def _commit_concurrently(sc, jobs) -> None:
    """Run per-epoch sink commits as concurrent Spark jobs with
    streaming-aware cancellation semantics (ADVICE r13):

    - each pool thread INHERITS the calling (foreachBatch) thread's
      Spark local properties — job group, description, tags — so a
      ``query.stop()`` cancelJobGroup interrupts in-flight commits
      instead of orphaning them (plain ThreadPoolExecutor threads carry
      EMPTY local properties; this is pyspark.InheritableThread's
      mechanism applied to a pool);
    - every commit additionally carries a unique job tag; when one
      commit fails, unstarted siblings are cancelled and in-flight ones
      are killed via ``cancelJobsWithTag`` before the first failure
      re-raises (futures otherwise all run to completion first). Safe
      under the replay contract: a re-executed epoch re-writes EVERY
      sink, so a killed sibling's torn partition is replaced.
    """
    import uuid
    from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

    tag = f"solace-graft-epoch-commit-{uuid.uuid4().hex}"
    snapshot = sc._jsc.sc().getLocalProperties().clone()

    def _run(fn):
        # per-thread clone: addJobTag MUTATES the Properties instance,
        # so sharing one clone across pool threads would race
        sc._jsc.sc().setLocalProperties(snapshot.clone())
        sc.addJobTag(tag)
        fn()

    with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
        futs = [pool.submit(_run, fn) for fn in jobs]
        done, _not_done = wait(futs, return_when=FIRST_EXCEPTION)
        err = next((f.exception() for f in done if f.exception()), None)
        if err is not None:
            for f in futs:
                f.cancel()
            try:
                sc.cancelJobsWithTag(tag)
            except Exception:  # noqa: BLE001 — cancellation is best-effort
                pass
            wait(futs)
            raise err
        for f in futs:
            f.result()


def _epoch_write(df: DataFrame, path: str, epoch_id: int) -> None:
    # Overwrite the epoch's own directory, never the table root: every
    # parquet write ends in CacheManager.recacheByPath(written path),
    # which drops the buffers of each cached plan scanning a root that
    # STARTS WITH that path. The screen's persisted frames scan these
    # roots, so a root-level write would make the first sibling commit
    # clear caches the others are still reading (recomputed from
    # lineage). A ``…/epoch=N`` path is a prefix of no root; keep it so.
    df.write.mode("overwrite").parquet(f"{path}/epoch={epoch_id}")


def _listing_signature(paths) -> "tuple | None":
    """Shallow listing signature of the sink directories a prefetched
    probe depends on (round 15): one sorted os.listdir per path —
    microseconds on a local FS. A prefetched probe bakes a file listing
    into its frames; any partition rewrite between epochs
    (compact_grown_index, external maintenance) leaves those plans
    pointing at deleted files, so consumption re-computes this
    signature and discards the prefetch on ANY difference. Returns
    None — which never validates, disabling prefetch — for paths that
    cannot be cheaply re-listed (remote schemes) or that fail listing
    with anything but plain absence; a missing directory is the
    legitimate "no epochs yet" state and signs as ("<absent>",)."""
    import os

    names: list = []
    for p in paths:
        if "://" in str(p):
            return None
        try:
            names.append(tuple(sorted(os.listdir(p))))
        except FileNotFoundError:
            names.append(("<absent>",))
        except OSError:
            return None
    return tuple(names)


def _read_before(spark: SparkSession, path: str, epoch_id: int):
    """Partitions committed by epochs strictly before ``epoch_id`` —
    None when the path doesn't exist yet (first epoch). An empty
    epoch's write leaves a schema-only file in its ``epoch=N``
    directory, so it reads back as zero rows, not as None."""
    try:
        return spark.read.parquet(path).filter(F.col("epoch") < epoch_id)
    except AnalysisException:
        return None


def make_corpus_ingestion_screen(
    spark: SparkSession,
    base_index: dict,
    status_dir: str,
    grown_dir: str,
    book_dir: str,
    queue_col: str = "destination",
    id_col: str = "message_id",
    doc_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    n_perm: int = 16,
    n_bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int = 1000,
    shuffle_partitions: int | None = None,
):
    """``foreachBatch(batch_df, epoch_id)`` callable for the growing-
    corpus loop (module docstring). ``batch_df`` must carry
    ``(queue_col, id_col, doc_col, text_col)`` — project/parse upstream
    of ``writeStream``. ``base_index`` is the ``build_corpus_index``
    mapping (read back from its persisted tables in production).
    Dedup parameters must match the ones the base index was built
    with.

    ``shuffle_partitions``: reducer count for the screen's plans,
    applied (and restored) around each batch. The screen's frames are
    bounded by the EPOCH size, not the corpus — a session-wide reducer
    count sized for corpus-scale queries buys pure task-scheduling
    overhead here (measured: 32 reducers on local[32] cost ~2 s/epoch
    over 8 at 10k-doc epochs; round-13 curve in PLANS.md). The screen
    runs with adaptive execution off (``_scoped_conf``), so no runtime
    coalescing trims that count: it is the exact reduce-task count of
    every shuffle the screen makes, and the file count of each
    post-shuffle sink per epoch. Size it to batch-bytes /
    target-partition-bytes in production; None keeps the session's
    count."""
    from pyspark.storagelevel import StorageLevel

    from solace_apache_beam_spark.llm.dedup import incremental_dedup
    from solace_apache_beam_spark.sinks.warehouse import make_idempotent_appender

    appender = make_idempotent_appender(status_dir)
    # next-epoch probe prefetch (round 15, VERDICT r14 Next #6): the
    # four driver-side listing+footer probes depend only on (path,
    # epoch_id), and the next batch id of a continuous stream is
    # epoch_id + 1 — so epoch N launches N+1's probes on a background
    # thread AFTER its own sinks commit (the listings must see N's
    # partitions) and N+1 starts with its index frames already built.
    # A mismatched id (restart from an older checkpoint, first epoch)
    # just misses and probes synchronously — prefetch is an overlap,
    # never a correctness input.
    #
    # STALENESS GUARD: a prefetched frame bakes in a file listing, and
    # `compact_grown_index` (or any external maintenance) may rewrite
    # the partitions between epochs — executing the stale plan then
    # fails mid-job with FileNotFound (observed live on the compaction
    # test). Each probe therefore records a listing signature taken
    # BEFORE its reads; consumption re-lists (one shallow local
    # listdir per sink — microseconds) and discards the prefetch on
    # any difference. Paths we cannot cheaply re-list (remote schemes)
    # return a None signature, which never validates — prefetch simply
    # stays off there rather than trusting an uncheckable listing.
    _prefetch: dict = {}

    def _sink_signature() -> "tuple | None":
        return _listing_signature(
            [book_dir] + [f"{grown_dir}/{n}" for n in _INDEX_PARTS]
        )

    def _probe(epoch_id: int, with_sig: bool = False) -> dict:
        from concurrent.futures import ThreadPoolExecutor

        sig = _sink_signature() if with_sig else None
        with ThreadPoolExecutor(max_workers=4) as pool:
            f_book = pool.submit(_read_before, spark, book_dir, epoch_id)
            f_grown = {
                name: pool.submit(
                    _read_before, spark, f"{grown_dir}/{name}", epoch_id
                )
                for name in _INDEX_PARTS
            }
            return {
                "book": f_book.result(),
                "grown": {n: f.result() for n, f in f_grown.items()},
                "sig": sig,
            }

    # statically planned (_scoped_conf's docstring says why that is safe)
    settings = {"spark.sql.adaptive.enabled": "false"}
    if shuffle_partitions is not None:
        settings["spark.sql.shuffle.partitions"] = str(shuffle_partitions)

    def screen(batch_df: DataFrame, epoch_id: int) -> None:
        _scoped_conf(batch_df, settings, lambda: _screen(batch_df, epoch_id))

    def _screen(batch_df: DataFrame, epoch_id: int) -> None:
        import os
        import time

        # SPARK_GRAFT_INGEST_TIMING=1: per-epoch section walls to
        # stderr — the observability the round-13/14 throughput
        # adjudications needed (which of probe/screen/commit a slow
        # epoch spent its time in, measured in the LIVE stream rather
        # than an offline replica of the plan)
        timing = os.environ.get("SPARK_GRAFT_INGEST_TIMING") == "1"
        t_all = time.perf_counter()
        _tmarks: list[str] = []

        def mark(label: str, t0: float) -> None:
            if timing:
                _tmarks.append(f"{label}={time.perf_counter() - t0:.2f}")

        t0 = time.perf_counter()
        rows = batch_df.select(queue_col, id_col, doc_col, text_col)
        pre = _prefetch.pop(int(epoch_id), None)
        probed = None
        if pre is not None:
            try:
                cand = pre.result() if hasattr(pre, "result") else pre
            except Exception:  # noqa: BLE001 — prefetch is best-effort
                cand = None
            # staleness guard: use the prefetch only when the sink
            # listings are unchanged since it was taken (see above)
            if (
                cand is not None
                and cand["sig"] is not None
                and cand["sig"] == _sink_signature()
            ):
                probed = cand
        if probed is None:
            probed = _probe(epoch_id)
        book = probed["book"]
        grown_parts = probed["grown"]
        mark("probe", t0)
        if book is not None:
            hwm = book.groupBy(queue_col).agg(F.max("max_id").alias("_hwm"))
            # the mark table is one row per queue — always broadcast
            rows = (
                rows.join(F.broadcast(hwm), queue_col, "left")
                .filter(F.col("_hwm").isNull() | (F.col(id_col) > F.col("_hwm")))
                .drop("_hwm")
            )
        rows = rows.persist(StorageLevel.MEMORY_AND_DISK)
        idx = dict(base_index)
        for name in _INDEX_PARTS:
            if grown_parts[name] is not None:
                idx[name] = idx[name].unionByName(
                    grown_parts[name].drop("epoch")
                )
        t0 = time.perf_counter()
        out = incremental_dedup(
            rows.select(doc_col, text_col),
            corpus_index=idx,
            id_col=doc_col,
            text_col=text_col,
            shingle_n=shingle_n,
            n_perm=n_perm,
            n_bands=n_bands,
            threshold=threshold,
            max_bucket=max_bucket,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        mark("build", t0)
        # NO separate materializing count() (round 15, VERDICT r14
        # Next #6): the five concurrent sink commits below are launched
        # immediately and drive the screen's computation themselves —
        # BlockManager per-block locks make racing consumers compute
        # each persisted block exactly once (the same coherence
        # argument as ivf_pq_topk's overlapped training chains; still
        # true statically planned: in a traced 10k-doc epoch two
        # overlapping stages over `rows` read the source once, and the
        # kernel ran in one of the five stages over its frame), so the
        # heavy screen compute OVERLAPS the commit fan-out instead of
        # strictly preceding it, and the marks/hashes sinks (which
        # depend only on `rows`) back-fill executors while the dedup
        # pipeline's stages run. Measured: the former count-then-commit
        # shape paid compute + ~0.6-1.1 s of commit latency per epoch;
        # the fused shape folds most of the commit wall into the
        # compute (numbers in OPTIMIZATION_r15.md). Replay semantics
        # unchanged: every sink still completes before this callback
        # returns, so the stream's commit log never records an epoch
        # whose writes are unfinished.
        # grown-index parts from the screen's OWN persisted batch-side
        # artifacts (out.batch_shingles / out.batch_bands): the unique
        # docs are a subset of the exact-stage survivors those frames
        # cover, and both kernels are deterministic per doc, so the
        # subsetted frames ARE build_corpus_index(unique_docs) —
        # without this the loop re-ran the tokenize/shingle/MinHash
        # Arrow kernels a second time every epoch (8-11 s of the 19 s
        # epoch at 10k-doc epochs; round-13 profiling). Equality with
        # the recompute path is pinned by tests/test_incremental_dedup.
        # broadcast the id filter: batch-derived, bounded by the epoch
        # size by design (the legitimate broadcast side per
        # incremental_dedup's boundedness contract) — a sort-merge here
        # would shuffle+sort the WIDE shingle arrays just to subset them
        uniq_ids = F.broadcast(
            out.filter(F.col("status") == "unique").select(doc_col)
        )
        uniq = rows.select(doc_col, text_col).join(uniq_ids, doc_col)
        gparts = {
            "hashes": uniq.select(
                F.col(doc_col).alias("corp_id"),
                F.md5(F.col(text_col)).alias("h"),
            ),
            "shingles": out.batch_shingles.join(uniq_ids, doc_col).select(
                F.col(doc_col).alias("corp_id"), "hs"
            ),
            "bands": out.batch_bands.withColumnRenamed("new_id", doc_col)
            .join(uniq_ids, doc_col)
            .select(F.col(doc_col).alias("corp_id"), "band", "band_hash"),
        }
        marks = rows.groupBy(queue_col).agg(F.max(id_col).alias("max_id"))
        # the five sinks are independent epoch-partition overwrites
        # (each replaces only its own epoch=N dir, and the replay
        # contract re-writes ALL of them on a re-executed epoch, so
        # completion order is immaterial to recovery) — submit them as
        # concurrent Spark jobs instead of five sequential commit
        # latencies; _commit_concurrently carries the stream's job
        # group into the pool threads and kills siblings on first
        # failure (ADVICE r13)
        jobs = [lambda: appender(out, epoch_id)]
        jobs += [
            lambda name=name: _epoch_write(
                gparts[name], f"{grown_dir}/{name}", epoch_id
            )
            for name in _INDEX_PARTS
        ]
        jobs.append(lambda: _epoch_write(marks, book_dir, epoch_id))
        t0 = time.perf_counter()
        _commit_concurrently(rows.sparkSession.sparkContext, jobs)
        mark("commit", t0)
        # prefetch the NEXT epoch's sink probes off the critical path —
        # launched after this epoch's commits so the listings see its
        # partitions; consumed (or harmlessly discarded) at the top of
        # the next callback
        from concurrent.futures import ThreadPoolExecutor as _TPE

        _pf_pool = _TPE(max_workers=1)
        _prefetch.clear()
        _prefetch[int(epoch_id) + 1] = _pf_pool.submit(
            _probe, int(epoch_id) + 1, True
        )
        _pf_pool.shutdown(wait=False)
        t0 = time.perf_counter()
        # release this epoch's caches OFF the epoch's critical path:
        # each DataFrame.unpersist pays a CacheManager plan-matching
        # walk on the driver (26-83 ms per 10k-doc epoch for the three
        # below, measured on perfbench ingest_bulk) and nothing
        # downstream reads these frames —
        # CacheManager is synchronized, so a racing registration from
        # the next epoch at worst waits on the lock, it cannot corrupt
        import threading

        caches = out.plan_caches

        def _release(o=out, r=rows, c=caches) -> None:
            c.unpersist()
            o.unpersist()
            r.unpersist()

        threading.Thread(target=_release, daemon=True).start()
        mark("unpersist", t0)
        if timing:
            import sys

            print(
                f"[ingest-timing] epoch={epoch_id} "
                f"total={time.perf_counter() - t_all:.2f} "
                + " ".join(_tmarks),
                file=sys.stderr,
                flush=True,
            )

    return screen


def compact_grown_index(
    spark: SparkSession,
    grown_dir: str,
    committed_through: int | None = None,
    semantic: bool = False,
) -> None:
    """Fold the grown index's accumulated ``epoch=N`` partitions into
    one ``epoch=-1`` partition — the periodic maintenance step the
    100 TB loop needs (partition count otherwise grows by one per
    index part per epoch, and small-file listing eventually dominates
    the per-epoch index read).

    Correctness under the loop's contracts:

    - **Epoch-consistent reads survive**: every screen reads
      partitions with ``epoch < current`` (:func:`_read_before`); the
      sentinel -1 is below every live epoch, so the compacted rows
      stay visible to every future (and re-executed) epoch.
    - **Replay safety is the caller's epoch bound**: a replayed epoch
      N re-WRITES partition ``epoch=N`` (overwrites that dir). Folding
      an epoch that can still replay would duplicate its rows, exactly
      the ``compact_epochs`` hazard — pass ``committed_through`` (the
      stream's last committed batch id from its checkpoint commit log);
      the single-stream default withholds the newest live epoch.

    ``semantic=True`` compacts the single-table vector index
    (:func:`make_semantic_ingestion_screen`'s ``grown_dir``); default
    compacts the three MinHash index parts. A crash mid-swap is rolled
    forward/back by the next call via the compaction breadcrumbs
    (``sinks.warehouse._recover_compaction``)."""
    import os

    from solace_apache_beam_spark.sinks.warehouse import compact_epochs

    parts = ("",) if semantic else _INDEX_PARTS
    for name in parts:
        path = os.path.join(grown_dir, name) if name else grown_dir
        # also proceed when only CRASH BREADCRUMBS exist: a compaction
        # killed between its renames leaves the published dir absent
        # with the data in <path>.bak — compact_epochs' entry recovery
        # is what restores it, so skipping here would strand the index
        breadcrumbs = os.path.exists(path.rstrip("/") + ".bak") or (
            os.path.exists(path.rstrip("/") + ".compact.json")
        )
        if os.path.exists(path) or breadcrumbs:
            compact_epochs(
                spark,
                path,
                committed_through=committed_through,
                epoch_col="epoch",
            )


def make_semantic_ingestion_screen(
    spark: SparkSession,
    base_index: DataFrame,
    status_dir: str,
    grown_dir: str,
    book_dir: str,
    queue_col: str = "destination",
    id_col: str = "message_id",
    doc_col: str = "doc_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_planes: int = 6,
    n_tables: int = 2,
    block_size: int = 4096,
    shuffle_partitions: int | None = None,
):
    """``foreachBatch`` callable for the growing-corpus SEMANTIC dedup
    loop — the embedding twin of :func:`make_corpus_ingestion_screen`
    with the same three restart guarantees (per-queue replay marks,
    epoch-consistent index reads, per-epoch partition overwrites on
    every sink):

        source -> screen each microbatch's vectors against the
        persisted semantic index (``incremental_semantic_dedup``) ->
        statuses to the warehouse -> unique survivors' bucketed rows
        JOIN the index, so later batches semantically dedup against
        everything kept before them.

    ``base_index`` is a :func:`~solace_apache_beam_spark.llm.
    similarity.build_vector_index` frame (read back from its persisted
    table in production; an EMPTY frame of the same schema starts from
    nothing). Plane/table parameters must match the base index's.

    At 100 TB: the grown store is one epoch-partitioned table of
    (doc, q, bucket) rows; per-epoch cost is the batch's map-side
    bucketing plus the bucket-keyed sort-merge join against the index
    slices the batch touches — never a full-index scan or broadcast.
    """
    from pyspark.storagelevel import StorageLevel

    from solace_apache_beam_spark.llm.similarity import (
        incremental_semantic_dedup,
    )
    from solace_apache_beam_spark.sinks.warehouse import make_idempotent_appender

    appender = make_idempotent_appender(status_dir)
    # next-epoch probe prefetch + staleness guard — same mechanism as
    # the MinHash twin above (two sink paths here)
    _prefetch: dict = {}

    def _sink_signature() -> "tuple | None":
        return _listing_signature((book_dir, grown_dir))

    def _probe(epoch_id: int, with_sig: bool = False) -> dict:
        from concurrent.futures import ThreadPoolExecutor

        sig = _sink_signature() if with_sig else None
        with ThreadPoolExecutor(max_workers=2) as pool:
            f_book = pool.submit(_read_before, spark, book_dir, epoch_id)
            f_grown = pool.submit(_read_before, spark, grown_dir, epoch_id)
            return {
                "book": f_book.result(),
                "grown": f_grown.result(),
                "sig": sig,
            }

    # scoped reducer-count override only (shared helper — applies to
    # the clone session executing the batch). Cost-model note vs the
    # MinHash twin: THIS screen's heavy stage is the post-shuffle
    # bucket matmul, which is REDUCER-bound at production vector epochs
    # (8 reducers measured 2x slower than 32 at 60k-vector epochs,
    # round 13) — lower it only for small-batch deployments where
    # commit latency dominates. It also stays ADAPTIVE, unlike the
    # twin: AQE's runtime coalescing and skew splitting act on exactly
    # that reducer-bound stage, and static planning is unmeasured here.
    settings = {}
    if shuffle_partitions is not None:
        settings["spark.sql.shuffle.partitions"] = str(shuffle_partitions)

    def screen(batch_df: DataFrame, epoch_id: int) -> None:
        _scoped_conf(batch_df, settings, lambda: _screen(batch_df, epoch_id))

    def _screen(batch_df: DataFrame, epoch_id: int) -> None:
        rows = batch_df.select(queue_col, id_col, doc_col, vec_col)
        pre = _prefetch.pop(int(epoch_id), None)
        probed = None
        if pre is not None:
            try:
                cand = pre.result() if hasattr(pre, "result") else pre
            except Exception:  # noqa: BLE001 — prefetch is best-effort
                cand = None
            if (
                cand is not None
                and cand["sig"] is not None
                and cand["sig"] == _sink_signature()
            ):
                probed = cand
        if probed is None:
            probed = _probe(epoch_id)
        book, grown = probed["book"], probed["grown"]
        if book is not None:
            hwm = book.groupBy(queue_col).agg(F.max("max_id").alias("_hwm"))
            rows = (
                rows.join(F.broadcast(hwm), queue_col, "left")
                .filter(F.col("_hwm").isNull() | (F.col(id_col) > F.col("_hwm")))
                .drop("_hwm")
            )
        rows = rows.persist(StorageLevel.MEMORY_AND_DISK)
        idx = base_index
        if grown is not None:
            idx = idx.unionByName(grown.drop("epoch"))
        out = incremental_semantic_dedup(
            rows.select(doc_col, vec_col),
            idx,
            vec_col=vec_col,
            id_col=doc_col,
            threshold=threshold,
            n_planes=n_planes,
            n_tables=n_tables,
            block_size=block_size,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        # NO separate materializing count() (round 15, same as the
        # MinHash twin): the three concurrent sink commits drive the
        # screen's computation themselves — per-block cache locks make
        # racing consumers compute each persisted block exactly once,
        # so the bucket-matmul compute overlaps the commit fan-out.
        # (Round 14 had already settled that concurrent commits are at
        # parity-or-better vs sequential; _commit_concurrently keeps
        # the stop()-interruptible, cancel-siblings-on-failure
        # semantics.)
        # grown-index rows from the screen's OWN persisted batch-side
        # bucketed frame (out.batch_index): deterministic per vector,
        # so the unique-id subset IS build_vector_index(unique_docs) —
        # no second run of the quantize/plane-projection kernel. The
        # id filter is batch-bounded: broadcast, never sort-merge.
        uniq_ids = F.broadcast(
            out.filter(F.col("status") == "unique").select(doc_col)
        )
        gidx = out.batch_index.join(uniq_ids, doc_col)
        marks = rows.groupBy(queue_col).agg(F.max(id_col).alias("max_id"))
        jobs = [
            lambda: appender(out, epoch_id),
            lambda: _epoch_write(gidx, grown_dir, epoch_id),
            lambda: _epoch_write(marks, book_dir, epoch_id),
        ]
        _commit_concurrently(rows.sparkSession.sparkContext, jobs)
        # prefetch the NEXT epoch's sink probes off the critical path
        # (launched after the commits so the listings see this epoch)
        from concurrent.futures import ThreadPoolExecutor as _TPE

        _pf_pool = _TPE(max_workers=1)
        _prefetch.clear()
        _prefetch[int(epoch_id) + 1] = _pf_pool.submit(
            _probe, int(epoch_id) + 1, True
        )
        _pf_pool.shutdown(wait=False)
        out.plan_caches.unpersist()
        out.unpersist()
        rows.unpersist()

    return screen
