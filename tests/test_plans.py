"""Physical-plan regression tests: the scale properties PLANS.md
documents (pushdown, pruning, broadcast, top-k, shuffle counts) are
asserted so a refactor can't silently lose them."""

from __future__ import annotations

import pytest

import __spark_entry__ as e


@pytest.fixture(scope="module")
def queries():
    return e.queries()


def _plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_q1_pushdown_and_pruning(spark, sf_dir, queries):
    plan = _plan(spark, queries["tpch_q1_pricing_summary"](spark, sf_dir))
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1].split("\n")[0]
    # column pruning: untouched wide columns never reach the scan
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_partkey" not in read_schema and "l_suppkey" not in read_schema


def test_q3_no_forced_broadcast_and_topk(spark, sf_dir, queries):
    """customer scales with SF, so no broadcast may be FORCED at
    analysis time (a static hint overrides AQE and OOMs at 100 TB);
    statistics/AQE-driven broadcast at small SF remains legitimate.
    The top-10 must stay a TakeOrderedAndProject, never a full sort."""
    df = queries["tpch_q3_shipping_priority"](spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed  # no forced join strategy
    plan = _plan(spark, df)
    assert "TakeOrderedAndProject" in plan  # top-10, never a full sort


def test_revenue_by_nation_broadcasts_only_constant_dims(spark, sf_dir, queries):
    """nation (25 rows) and region (5) are constant-cardinality at every
    SF — statically broadcast. customer scales with SF, so its join must
    stay hint-free (AQE promotes it at small SF). With the automatic
    broadcast threshold disabled, the ONLY BroadcastHashJoins left are
    the two hinted constant dims — a forced customer broadcast would
    show as a third."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # simple mode: each operator appears once (formatted lists every
        # node twice — tree line + detail section)
        plan = (
            queries["revenue_by_nation"](spark, sf_dir)
            ._jdf.queryExecution()
            .explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "simple"
                )
            )
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert plan.count("BroadcastHashJoin") == 2


def test_top_customers_no_forced_broadcast(spark, sf_dir, queries):
    """Same contract for the other customer join: hint-free at analysis
    time, AQE owns the strategy choice."""
    df = queries["top_customers_per_segment"](spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed


def test_wordcount_single_shuffle(spark, sf_dir, queries):
    plan = queries["windowed_wordcount"](spark, sf_dir)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    n_shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert n_shuffles == 1  # partial/final hash agg around one exchange


def test_minhash_lsh_no_self_join_recompute(spark, sf_dir, queries):
    """The pair generation must stay bucket-collect (one signature
    pipeline, pairs streamed out of the group row via chained
    generators) — not a self-join of two signature pipelines. The
    verification joins above it are pinned sort-merge (see the
    no-broadcast guard in test_scale_guards), so join operators are
    allowed in the plan; the bucket-collect shape is what this test
    protects. The chained posexplode+slice generator replaced the old
    flatten(transform(...)) per-row C(n,2) array (GC-killer at 100x)."""
    plan = _plan(spark, queries["dedup_minhash_lsh"](spark, sf_dir))
    assert "collect_list" in plan
    # in-group pair expansion: left element via posexplode, right
    # candidates via a per-row tail slice — no materialized pair array
    assert "posexplode" in plan
    assert "slice" in plan
    assert "flatten(transform" not in plan  # the GC-killer shape is gone


def test_salted_join_spreads_key(spark, sf_dir, queries):
    plan = _plan(spark, queries["salted_revenue_by_segment"](spark, sf_dir))
    assert "_salt" in plan  # the salt is part of the join key


def test_funnel_keyed_windows_single_user_exchange(spark, sf_dir, queries):
    """Funnel must advance a keyed frontier. Round 14 formulation: every
    stage is a conditional MIN window PARTITIONED BY the user column over
    ONE user-keyed exchange. Regressions this pins against: (a) an
    UNPARTITIONED window (whole events table through one task), (b) the
    pre-round-14 per-stage scan + sort-merge-join chain coming back,
    (c) a second user exchange sneaking in between the windows and the
    per-user aggregate."""
    import re

    plan = (
        queries["funnel_view_click_purchase"](spark, sf_dir)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
    )
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    assert specs, "funnel must use the keyed-window formulation"
    for s in specs:  # every window is user-keyed, never whole-table
        assert "user_id#" in s
    assert "SortMergeJoin" not in plan  # the per-stage join chain is gone
    # exactly one user-keyed shuffle feeds windows AND the per-user agg
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_percentiles_windows_share_one_group_exchange(spark, sf_dir, queries):
    """Exact percentiles, round-14 shape: the per-group count rides as a
    whole-partition COUNT window over the SAME group exchange the rank
    window needs — the former count-aggregate + join-back (second scan +
    second exchange) must not come back, and no broadcast may be FORCED
    (group cardinality is unbounded)."""
    df = queries["percentiles_event_value"](spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert plan.count("Window ") == 2  # count window + rank window
    # both windows ride ONE group exchange; no join-back exchange left
    assert plan.count("Exchange hashpartitioning(event_type") == 1
    assert "Join" not in plan  # the aggregate join-back shape is gone
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed


def _broadcast_hint_children(analyzed: str) -> list[str]:
    """The line directly under every broadcast ResolvedHint — in the
    analyzed tree string that is the hint's only child operator."""
    lines = analyzed.splitlines()
    return [
        lines[i + 1]
        for i, line in enumerate(lines)
        if "ResolvedHint (strategy=broadcast)" in line
    ]


def _assert_only_batch_side_broadcasts(analyzed: str) -> None:
    """incremental_dedup forces exactly two broadcasts, both of
    batch-bounded sides:

    - the touched-bucket prefilter (ADVICE r13): `touched` is <= n_bands
      rows per surviving batch doc, and pinning it guarantees the
      map-side corpus filter while removing the risk of the
      corpus-derived side winning a misestimated broadcast. Its analyzed
      shape is a Deduplicate over exactly (band, band_hash);
    - the batch's content hashes in the exact-hash join, so the corpus
      hash table is never shuffled when the plan is built statically.
      Its analyzed shape is the (new_id, md5) projection.

    Every OTHER broadcast stays forbidden: corpus-derived sides (band
    index, bucket filter, shingle sets) must remain spillable."""
    import re

    shapes = {
        "touched": r"Deduplicate \[band#\d+, band_hash#\d+L?\]",
        "batch hashes": r"Project \[\w+#\d+L? AS new_id#\d+L?, md5\(",
    }
    children = _broadcast_hint_children(analyzed)
    for name, shape in shapes.items():
        assert any(re.search(shape, c) for c in children), (
            f"the {name} broadcast pin is missing"
        )
    for child in children:
        assert any(
            re.search(shape, child) for shape in shapes.values()
        ), f"forced broadcast of a non-batch-bounded side: {child!r}"
    # belt and braces: the hint-shaped count matches the raw-string
    # count, so no broadcast slips through in another spelling
    assert analyzed.lower().count("strategy=broadcast") == len(children)


def test_incremental_dedup_no_forced_broadcast(spark, sf_dir, queries):
    """No broadcast may be FORCED except the batch-bounded
    touched-bucket prefilter and batch-hash sides, and the
    corpus-derived sides (band index, bucket filter, shingle sets) must
    be pinned spillable — the only other hints allowed are merge hints
    (round 3: the boundedness contract is enforced, not just
    documented). Statistics-driven broadcasts of BATCH-derived frames
    remain legitimate."""
    analyzed = (
        queries["incremental_dedup"](spark, sf_dir)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    _assert_only_batch_side_broadcasts(analyzed)
    assert "strategy=merge" in analyzed  # corpus sides pinned


def test_incremental_index_path_keeps_boundedness_contract(spark, sf_dir):
    """The materialized-corpus-index path (round 6) must honor the same
    boundedness contract as the recompute path: corpus-index-derived
    joins (band index, bucket filter, shingle sets) stay merge-pinned —
    an index read from parquet has accurate scan stats, but at
    production scale those frames are corpus-sized and must never be a
    broadcast build just because a TEST-sized index fits."""
    from pyspark.sql import functions as F

    from solace_apache_beam_spark.llm.dedup import (
        build_corpus_index,
        incremental_dedup,
    )
    from solace_apache_beam_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    idx = build_corpus_index(docs.filter(F.col("doc_id") % 4 != 0))
    out = incremental_dedup(
        docs.filter(F.col("doc_id") % 4 == 0), corpus_index=idx
    )
    analyzed = out._jdf.queryExecution().analyzed().toString()
    _assert_only_batch_side_broadcasts(analyzed)
    assert "strategy=merge" in analyzed


def test_ngram_jaccard_size_joins_never_static_broadcast(spark, sf_dir, queries):
    """No join in the prefix-filtered Jaccard plan may be a STATIC
    broadcast: the df-count join and the two full-set verification
    joins all have sides whose Catalyst estimate (aggregate over a
    generate over Arrow lineage) can come out tiny while the true size
    is corpus- or candidate-scale — a statically planned broadcast
    build then OOMs (observed at 10x sf0.1 with replicated near-dups).
    All three are merge-pinned (fully spillable both sides)."""
    df = queries["dedup_ngram_jaccard"](spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "BroadcastHashJoin" not in plan and "BroadcastExchange" not in plan
    assert "SortMergeJoin" in plan
    # the prefix selection runs as window functions over one (doc)
    # sort, not a join against a sizes table
    assert "Window" in plan


def test_kmeans_assignment_is_map_side(spark, sf_dir):
    """Nearest-centroid assignment must be pure map work: centroids in
    the task closure, zero exchanges in the assignment plan."""
    import numpy as np

    from solace_apache_beam_spark.llm.similarity import (
        _assign_cells,
        _quantized_vectors,
    )
    from solace_apache_beam_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qdf = _quantized_vectors(emb, "embedding", "vec_id")
    cids = np.arange(4, dtype=np.int64)
    cmat = np.ones((4, 64))
    plan = _plan(spark, _assign_cells(qdf, "vec_id", cids, cmat))
    assert "Exchange" not in plan


def test_vocab_distributed_topk(spark, sf_dir, queries):
    """Vocabulary must plan the top-k as TakeOrderedAndProject (a
    distributed partial top-k), not a global rank window over every
    distinct word."""
    plan = _plan(spark, queries["vocab_top_words"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_single_shuffle_manifest_queries(spark, sf_dir, queries):
    """sequence_packing and training_shuffle_manifest each move the
    corpus exactly once (one shard-keyed exchange)."""
    for name in ("sequence_packing", "training_shuffle_manifest"):
        plan = queries[name](spark, sf_dir)._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )
        n_shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
        assert n_shuffles == 1, f"{name}: {n_shuffles} shuffles"


def test_pair_bucket_collect_is_size_capped_before_aggregation(spark, sf_dir, queries):
    """Round-5 discipline: every pair family counts bucket sizes FIRST
    (constant-memory agg) and joins the retained keys back before any
    collect_list runs — so no aggregation buffer can exceed the cap.
    The plan signature is a count aggregate on the bucket key feeding a
    join that feeds the collect_list aggregate; the former
    collect-then-filter shape (unbounded buffers, the 100x OOM) put the
    size filter ABOVE the collect instead."""
    for name in ("dedup_minhash_lsh", "dedup_simhash_pairs", "dedup_ngram_jaccard"):
        plan = _plan(spark, queries[name](spark, sf_dir))
        c_collect = plan.find("collect_list")
        assert c_collect != -1, name
        # a count(1) aggregate over the same stream must exist...
        assert "count(1)" in plan, name
        # ...and the size filter must apply to the scalar count column,
        # never to the collected array
        assert "size(collect_list" not in plan.replace(" ", ""), name


def test_rescue_composition_joins_never_static_broadcast(spark, sf_dir):
    """The screen-then-rescue plan inherits every pin of its two
    minhash_lsh_pairs passes; the screen/rescue overlap is resolved by
    a (doc_a, doc_b) aggregation, NOT a pair-frame join — pair frames
    are unbounded at web scale with static estimates (distinct over
    generate over cached lineage) that can read tiny and misplan a
    broadcast build. Round 15 removed the one formerly-allowed
    broadcast (the partition-id semi-join over the corpus shingle
    cache): the rescue pass now shingles its partition DIRECTLY with
    the rescue geometry fused into the kernel, so the plan must have
    NO BroadcastHashJoin at all, and no standalone `bands(hs...)`
    re-banding kernel — rescue banding is a posexplode of the fused
    bands64x32 column (VERDICT r14 Next #3)."""
    from pyspark.sql import functions as F

    from solace_apache_beam_spark.llm.dedup import minhash_lsh_pairs_rescue
    from solace_apache_beam_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = minhash_lsh_pairs_rescue(docs, F.col("doc_id") % 2 == 0)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" in plan
    # the fused-kernel pin: _sig_bands_udf's kernel is named `bands` and
    # takes the hash arrays — its presence would mean a separate
    # ArrowEvalPython re-banding hop crept back in
    assert "bands(hs" not in plan


def test_neardup_lsh_bucket_join_is_sort_merge_never_broadcast(spark, sf_dir):
    """The LSH route's reason to exist vs the exact route is its JOIN
    SHAPE: candidates pair on the equi-key (bucket, blk<=blk), which
    must plan as a spillable sort-merge join — both sides are packed
    corpus matrices (rows carry ~block_size x dim doubles) whose
    static estimates are garbage, and a misplanned broadcast build of
    a packed side is exactly the OOM class the ngram 10x campaign hit.
    The exact route's non-equi pairing (blk_a <= blk_b alone) can ONLY
    be a nested loop with one side broadcast — acceptable there because
    the auto route caps it at 64 blocks. Pin both shapes."""
    from solace_apache_beam_spark.llm.similarity import (
        neardup_pairs,
        neardup_pairs_lsh,
    )
    from solace_apache_beam_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    lsh = neardup_pairs_lsh(emb, n_planes=3, n_tables=2)
    plan = _plan(spark, lsh)
    assert "SortMergeJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the packed-matrix frames must never be a broadcast build side
    assert "BroadcastHashJoin" not in plan
    lsh.plan_caches.unpersist()

    exact = neardup_pairs(emb)
    eplan = _plan(spark, exact)
    assert "BroadcastNestedLoopJoin" in eplan  # the documented exact shape
    exact.plan_caches.unpersist()


def test_pq_encode_is_map_side(spark, sf_dir):
    """PQ encoding must be pure map work: codebooks ride the task
    closure, zero exchanges in the encode plan (the compressed
    representation is produced without moving the corpus)."""
    import numpy as np

    from solace_apache_beam_spark.llm.similarity import pq_encode
    from solace_apache_beam_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    books = [
        (np.arange(2, dtype=np.int64), np.ones((2, 32))),
        (np.arange(2, dtype=np.int64), np.ones((2, 32))),
    ]
    plan = _plan(spark, pq_encode(emb, m=2, books=books))
    assert "Exchange" not in plan


def test_ivf_pq_bucket_join_is_sort_merge_never_broadcast(spark, sf_dir):
    """IVF-PQ's in-cell scoring joins two PACKED-matrix frames on the
    equi-key cell — like the LSH route, both sides carry ~block_size x
    dim doubles per row with garbage static estimates, so the join must
    stay a spillable sort-merge (a broadcast build of a packed side is
    the OOM class the ngram 10x campaign hit)."""
    from solace_apache_beam_spark.llm.similarity import ivf_pq_topk
    from solace_apache_beam_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = ivf_pq_topk(emb, m=2, k_codes=4)
    plan = _plan(spark, out)
    assert "SortMergeJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" not in plan
    out.plan_caches.unpersist()


def test_pq_train_aggregation_is_partial_with_bounded_shuffle(spark, sf_dir):
    """The one-pass trainer's per-iteration exchange must carry PARTIAL
    integer sums keyed (s, cell, spos) — a partial HashAggregate before
    the shuffle bounds the exchange by m*k*subdim = d*k rows per map
    task, independent of corpus size. Pin the shape on the exploded
    update frame the trainer builds."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from solace_apache_beam_spark.llm.similarity import (
        _quantized_vectors,
        _unpack,
    )
    from solace_apache_beam_spark.session import load_table

    # reproduce the trainer's update plan (kernel + posexplode + agg)
    emb = load_table(spark, sf_dir, "embeddings")
    qdf = _quantized_vectors(emb, "embedding", "vec_id")
    m = 2
    books = [np.ones((2, 32)), np.ones((2, 32))]

    def assign_multi(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qm = _unpack(pdf["qv"])
            n = len(qm)
            cells = np.zeros((n, m), dtype=np.int64)
            yield pd.DataFrame({"qv": pdf["qv"], "cells": list(cells)})

    exploded = (
        qdf.mapInPandas(assign_multi, "qv array<double>, cells array<long>")
        .select(
            F.size("qv").alias("d"),
            "cells",
            F.posexplode("qv").alias("pos", "v"),
        )
        .select(
            F.expr(f"CAST(((pos + 1) * {m} - 1) div d AS INT)").alias("s"),
            "d",
            "cells",
            "pos",
            "v",
        )
        .select(
            "s",
            F.expr("element_at(cells, s + 1)").alias("cell"),
            F.expr(f"pos - (d * s div {m})").alias("spos"),
            "v",
        )
    )
    agg = exploded.groupBy("s", "cell", "spos").agg(
        F.sum("v").alias("sm"), F.count(F.lit(1)).alias("cnt")
    )
    plan = _plan(spark, agg)
    assert "partial_sum" in plan  # map-side combine before the shuffle
    # simple mode: each operator appears once (formatted lists every
    # node twice — tree line + detail section)
    simple = agg._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert simple.count("Exchange") == 1
    # the partial HashAggregate sits below the exchange in the tree
    assert simple.index("Exchange") < simple.rindex("HashAggregate")


def test_curation_pipeline_no_forced_broadcast_no_nested_loop(spark, sf_dir, queries):
    """The capstone composition joins four screens over two scans —
    none may force a broadcast at analysis time (every side scales with
    the corpus except the split literals) and no stage may degrade to a
    broadcast nested loop; the span-stats and semantic-dup joins stay
    equi-key."""
    df = queries["curation_pipeline"](spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    # the only hinted join is the span-stats merge (explicitly
    # sort-merge, i.e. the anti-broadcast direction)
    assert "BROADCAST" not in analyzed.upper().replace("MERGE", "")
    plan = _plan(spark, df)
    assert "BroadcastNestedLoopJoin" not in plan
    df.plan_caches.unpersist()


def test_column_build_skips_call_site_capture(spark, monkeypatch):
    """The session builds with ``spark.python.sql.dataFrameDebugging.enabled``
    off, so a ``functions`` call does not pay PySpark's call-site capture
    (active-session lookup, origin class lookup, conf read, origin
    set/clear: 13 py4j round trips for one ``F.col`` with it on). Counted
    at the py4j socket, with PySpark's per-process cache of the setting
    re-read from this session."""
    import threading

    import py4j.clientserver
    import pyspark.errors.utils
    from pyspark.sql import functions as F

    monkeypatch.setattr(pyspark.errors.utils, "_enable_debugging_cache", None)
    F.col("warm")  # re-reads the setting once
    sent = []
    send = py4j.clientserver.ClientServerConnection.send_command
    this_thread = threading.current_thread()

    def counting(self, command, *args, **kwargs):
        if threading.current_thread() is this_thread:
            sent.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)
    F.col("x")
    assert len(sent) <= 3, sent
