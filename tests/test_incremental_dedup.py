"""incremental_dedup: batch-vs-corpus statuses on crafted docs (the
registered query's oracle covers the real-table path; this pins each
status branch explicitly, including exact_dup which real data may not
contain)."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def result(spark):
    from solace_apache_beam_spark.llm.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven eight"),
            (3, "totally unrelated corpus content here now"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            # byte-identical to corpus doc 1 -> exact_dup
            (10, "alpha beta gamma delta epsilon zeta"),
            # punctuation-only difference from corpus doc 2: different
            # bytes (not exact) but identical token stream -> identical
            # shingles and signature, so candidacy is GUARANTEED (a
            # jaccard-0.7 doc would only collide probabilistically)
            (11, "one, two three four five six seven eight!"),
            # nothing in common -> unique
            (12, "completely novel text with fresh words only"),
            # too short to shingle (< 3 words) -> unique
            (13, "hi"),
        ],
        "doc_id long, text string",
    )
    return {
        r.doc_id: r for r in incremental_dedup(new, corpus).collect()
    }


def test_statuses(result):
    assert len(result) == 4
    assert result[10].status == "exact_dup" and result[10].match_id == 1
    assert result[10].jaccard is None
    assert result[11].status == "near_dup" and result[11].match_id == 2
    assert result[11].jaccard == 1.0  # same token stream, different bytes
    assert result[12].status == "unique" and result[12].match_id is None
    assert result[13].status == "unique"


def test_materialized_corpus_index_matches_recompute(spark, tmp_path):
    """The production shape the docstring promises (VERDICT r5 Next #6):
    build_corpus_index -> write the three artifacts to parquet -> rerun
    incremental_dedup reading them back. Output must be IDENTICAL to the
    recompute path — the batch side is the only work left per run."""
    from solace_apache_beam_spark.llm.dedup import (
        build_corpus_index,
        incremental_dedup,
    )
    from solace_apache_beam_spark.session import load_table

    sf_dir = "/root/testdata/sf0.001"
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import functions as F

    new = docs.filter(F.col("doc_id") % 4 == 0)
    corpus = docs.filter(F.col("doc_id") % 4 != 0)

    baseline = sorted(
        map(tuple, incremental_dedup(new, corpus).collect())
    )

    idx = build_corpus_index(corpus)
    paths = {}
    for name, df in idx.items():
        paths[name] = str(tmp_path / f"idx_{name}.parquet")
        df.write.mode("overwrite").parquet(paths[name])
    # the build persisted the shingle frame; the returned handle must
    # actually release it once the artifacts are on disk (ADVICE r6)
    assert idx.is_cached
    idx.unpersist()
    assert not idx.is_cached
    stored = {name: spark.read.parquet(p) for name, p in paths.items()}

    got = sorted(
        map(tuple, incremental_dedup(new, corpus_index=stored).collect())
    )
    assert got == baseline
    assert any(r[1] == "near_dup" for r in got)  # non-trivial corpus hit


def _marker_depth(line: str) -> int:
    """Column of a tree-string line's ``+-``/``:-`` marker (-1: root)."""
    import re

    m = re.search(r"[+:]- ", line)
    return m.start() if m else -1


def _subtree(lines: list[str], i: int, prune: str | None = None) -> list[str]:
    """Line ``i`` of a plan tree string and every line below it; lines
    containing ``prune`` are kept but their children are skipped."""
    depth = _marker_depth(lines[i])
    out = [lines[i]]
    skip_below = None
    for line in lines[i + 1:]:
        d = _marker_depth(line)
        if d <= depth:
            break
        if skip_below is not None:
            if d > skip_below:
                continue
            skip_below = None
        out.append(line)
        if prune is not None and prune in line:
            skip_below = d
    return out


def test_exact_join_broadcasts_batch_side_when_planned_statically(
    spark, sf_dir, tmp_path
):
    """Without adaptive execution the exact-hash join is planned from
    scan sizes, and an index above the broadcast threshold would make it
    a sort-merge join that shuffles the index's whole hash table every
    run (the ingestion screen plans statically). The batch's hashes are
    pinned as the broadcast side instead — and no index-derived frame
    (hashes, bands, shingles: the scans carrying ``corp_id``) may ever
    sit under a BroadcastExchange. A broadcast of a cached batch-side
    frame (``touched`` reads the cached batch bands) is batch-bounded
    even though the cached plan's lineage joins the index, so each
    broadcast is checked down to the cached relations it reads; the
    broadcasts inside those cached plans are checked on their own."""
    from pyspark.sql import functions as F

    from solace_apache_beam_spark.llm.dedup import (
        build_corpus_index,
        incremental_dedup,
    )
    from solace_apache_beam_spark.session import load_table

    # a session of its own: the confs below never leak into other tests
    static = spark.newSession()
    static.conf.set("spark.sql.adaptive.enabled", "false")
    # below the smallest index part: nothing broadcasts on statistics
    static.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    docs = load_table(static, sf_dir, "documents")
    idx = build_corpus_index(docs.filter(F.col("doc_id") % 4 != 0))
    stored = {}
    for name, df in idx.items():
        path = str(tmp_path / f"static_{name}")
        df.write.mode("overwrite").parquet(path)
        stored[name] = static.read.parquet(path)
    idx.unpersist()

    new = docs.filter(F.col("doc_id") % 4 == 0)
    out = incremental_dedup(new, corpus_index=stored)
    assert out.count() == new.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    out.plan_caches.unpersist()

    lines = plan.splitlines()
    assert "AdaptiveSparkPlan" not in plan
    joins = [
        i for i, line in enumerate(lines)
        if "BroadcastHashJoin [h#" in line
    ]
    assert joins, f"exact-hash join is not a broadcast join:\n{plan}"
    for i in joins:
        sub = _subtree(lines, i)
        child_depth = min(_marker_depth(line) for line in sub[1:])
        builds = [
            j for j, line in enumerate(sub)
            if _marker_depth(line) == child_depth and "BroadcastExchange" in line
        ]
        assert len(builds) == 1
        build = "\n".join(_subtree(sub, builds[0]))
        assert "AS new_id" in build and "md5(" in build
        assert "corp_id" not in build
    # the index's hash table is scanned in place, never shuffled
    assert "Exchange hashpartitioning(h#" not in plan
    for i, line in enumerate(lines):
        if "BroadcastExchange" in line:
            sub = "\n".join(_subtree(lines, i, prune="InMemoryRelation"))
            assert "FileScan parquet [corp_id" not in sub, sub


def test_batch_side_frames_match_build_corpus_index(spark):
    """ADVICE r13: the riskiest equivalence in the round-13 index-reuse
    change, asserted DIRECTLY (the ingestion-loop tests only exercise it
    behaviorally) — subsetting the exposed batch-side frames
    (out.batch_shingles / out.batch_bands) by the unique ids must
    reproduce build_corpus_index(unique_docs) row-for-row, because
    streaming/ingestion.py grows the persisted corpus index from exactly
    that subset."""
    from pyspark.sql import functions as F

    from solace_apache_beam_spark.llm.dedup import (
        build_corpus_index,
        incremental_dedup,
    )
    from solace_apache_beam_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    new = docs.filter(F.col("doc_id") % 4 == 0)
    corpus = docs.filter(F.col("doc_id") % 4 != 0)

    out = incremental_dedup(new, corpus)
    uniq_ids = out.filter(F.col("status") == "unique").select("doc_id")
    got_sh = sorted(
        (r.doc_id, tuple(r.hs))
        for r in out.batch_shingles.join(uniq_ids, "doc_id").collect()
    )
    got_bands = sorted(
        map(
            tuple,
            out.batch_bands.withColumnRenamed("new_id", "doc_id")
            .join(uniq_ids, "doc_id")
            .collect(),
        )
    )

    idx = build_corpus_index(new.join(uniq_ids, "doc_id"))
    want_sh = sorted(
        (r.corp_id, tuple(r.hs)) for r in idx["shingles"].collect()
    )
    want_bands = sorted(map(tuple, idx["bands"].collect()))
    idx.unpersist()
    out.plan_caches.unpersist()

    assert len(got_sh) > 0 and len(got_bands) > 0
    assert got_sh == want_sh
    assert got_bands == want_bands


def test_batch_index_matches_build_vector_index(spark):
    """The semantic twin of the equivalence above (ADVICE r13):
    out.batch_index subsetted by the unique ids must reproduce
    build_vector_index(unique_vectors) — the frame the semantic
    ingestion screen appends to its grown index."""
    from pyspark.sql import functions as F

    from solace_apache_beam_spark.llm.similarity import (
        build_vector_index,
        incremental_semantic_dedup,
    )
    from solace_apache_beam_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    batch = emb.filter(F.col("vec_id") % 4 == 0)
    index = build_vector_index(emb.filter(F.col("vec_id") % 4 != 0))

    out = incremental_semantic_dedup(batch, index)
    uniq_ids = out.filter(F.col("status") == "unique").select("vec_id")
    got = sorted(
        (r.vec_id, tuple(r.q), r.bucket)
        for r in out.batch_index.join(uniq_ids, "vec_id").collect()
    )
    want = sorted(
        (r.vec_id, tuple(r.q), r.bucket)
        for r in build_vector_index(batch.join(uniq_ids, "vec_id")).collect()
    )
    out.plan_caches.unpersist()

    assert len(got) > 0
    assert got == want


def test_incremental_dedup_rejects_ambiguous_corpus(spark):
    import pytest as _pytest

    from solace_apache_beam_spark.llm.dedup import incremental_dedup

    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="exactly one"):
        incremental_dedup(df)
    with _pytest.raises(ValueError, match="exactly one"):
        incremental_dedup(df, df, corpus_index={})
