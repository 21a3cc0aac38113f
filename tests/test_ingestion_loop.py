"""Batch-driven contract tests for the growing-corpus ingestion screen
(streaming/ingestion.make_corpus_ingestion_screen) — the foreachBatch
callable exercised end-to-end (source, SIGKILL, restart) by
scripts/run_soak.py --incdedup-grow and its soak-tier wrapper. Here the
callable is driven directly with hand-built epochs so the loop's three
guarantees stay pinned on every default pytest run:

1. growth: a later epoch's exact copy of an earlier epoch's unique doc
   comes back exact_dup with match_id = the earlier doc;
2. epoch re-execution: replaying an epoch (same epoch_id, same rows)
   leaves every sink unchanged — each sink overwrites only its own
   epoch=N partition;
3. replay marks: broker-replayed rows (same queue, id at-or-below the
   committed mark) are dropped BEFORE the screen, so they can neither
   duplicate statuses nor flip their own status against the grown
   index.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import Row

from solace_apache_beam_spark.llm.dedup import build_corpus_index
from solace_apache_beam_spark.streaming.ingestion import (
    make_corpus_ingestion_screen,
)

_PARAMS = dict(shingle_n=3, n_perm=16, n_bands=4, threshold=0.5)


def _text(seed: int) -> str:
    # all-letter words: the shingle tokenizer splits on non-letters
    def w(v: int) -> str:
        v %= 17576
        return "".join(
            "abcdefghijklmnopqrstuvwxyz"[(v // 26**p) % 26] for p in range(3)
        )

    return " ".join(w(seed * 13 + j * 7) for j in range(12))


def _statuses(status_dir: str) -> dict:
    rows = duckdb.connect().execute(
        f"""SELECT doc_id, status, match_id, CAST(_epoch_id AS BIGINT),
                   count(*)
            FROM read_parquet('{status_dir}/*/*.parquet',
                              hive_partitioning=1)
            GROUP BY 1, 2, 3, 4"""
    ).fetchall()
    assert all(r[4] == 1 for r in rows), f"duplicated rows: {rows}"
    return {r[0]: (r[1], r[2], r[3]) for r in rows}


@pytest.fixture(scope="module")
def base_index(spark):
    corpus = spark.createDataFrame(
        [Row(doc_id=c, text=_text(c)) for c in range(20)]
    )
    base = build_corpus_index(corpus, **{k: _PARAMS[k] for k in
                                         ("shingle_n", "n_perm", "n_bands")})
    yield base
    base.unpersist()


@pytest.fixture()
def loop(spark, base_index, tmp_path):
    dirs = {n: str(tmp_path / n) for n in ("status", "grown", "book")}
    screen = make_corpus_ingestion_screen(
        spark, base_index, dirs["status"], dirs["grown"], dirs["book"],
        **_PARAMS,
    )
    yield spark, screen, dirs


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "destination string, message_id long, doc_id long, text string"
    )


def test_growth_reexecution_and_replay_marks(loop):
    spark, screen, dirs = loop

    # epoch 0: one exact dup of the base corpus, two unique docs
    e0 = [
        ("q1", 0, 100, _text(3)),
        ("q1", 1, 101, _text(900)),
        ("q2", 0, 102, _text(901)),
    ]
    screen(_batch(spark, e0), 0)
    got = _statuses(dirs["status"])
    assert got[100] == ("exact_dup", 3, 0)
    assert got[101][0] == got[102][0] == "unique"

    # epoch 1: an exact copy of epoch-0's unique doc 101 -> must match
    # the GROWN index, not come back unique; plus a fresh unique
    e1 = [
        ("q1", 2, 103, _text(900)),
        ("q2", 1, 104, _text(902)),
    ]
    screen(_batch(spark, e1), 1)
    got = _statuses(dirs["status"])
    assert got[103] == ("exact_dup", 101, 1), "the loop never grew"
    assert got[104][0] == "unique"

    # epoch-1 re-execution (unclean-restart anatomy: same epoch id,
    # same rows): every sink row must be REPLACED, not duplicated, and
    # the re-run must see the same pre-epoch index (103 stays matched
    # to 101, not to its own torn epoch-1 partitions)
    screen(_batch(spark, e1), 1)
    got2 = _statuses(dirs["status"])
    assert got2 == got

    # epoch 2: broker replay — q1 redelivers ids 1..2 (committed marks
    # say q1 is at 2) plus one genuinely new row. The replayed rows
    # must be dropped BEFORE the screen: doc 101's copy would otherwise
    # flip to exact_dup against the grown index and contradict epoch 0.
    e2 = [
        ("q1", 1, 101, _text(900)),
        ("q1", 2, 103, _text(900)),
        ("q1", 3, 105, _text(903)),
    ]
    screen(_batch(spark, e2), 2)
    got3 = _statuses(dirs["status"])
    assert got3[101] == ("unique", None, 0), "replayed row re-screened"
    assert got3[103] == ("exact_dup", 101, 1)
    assert got3[105][0] == "unique" and got3[105][2] == 2
    assert len(got3) == 6  # one row per doc, ever


def test_near_dup_against_grown_entry(loop):
    spark, screen, dirs = loop
    screen(_batch(spark, [("q1", 0, 200, _text(950))]), 0)
    # one word of 12 mutated: shingle jaccard ~0.7 >= 0.5
    words = _text(950).split()
    words[5] = "zzz"
    screen(_batch(spark, [("q1", 1, 201, " ".join(words))]), 1)
    got = _statuses(dirs["status"])
    assert got[200][0] == "unique"
    assert got[201] == ("near_dup", 200, 1)


def test_all_replay_epoch_then_normal_epoch(loop):
    """An epoch whose rows are all broker replays reaches the sinks as
    empty frames (the marks drop every row). Its writes leave
    schema-only files in each ``epoch=N`` dir, which later epochs read
    back as zero rows: the next normal epoch must still screen, grow and
    mark exactly as if the empty epoch had never happened."""
    spark, screen, dirs = loop
    e0 = [("q1", 0, 600, _text(980)), ("q2", 0, 601, _text(981))]
    screen(_batch(spark, e0), 0)
    screen(_batch(spark, e0), 1)  # every row at-or-below its mark
    assert len(_statuses(dirs["status"])) == 2

    screen(
        _batch(
            spark,
            [
                ("q1", 1, 602, _text(980)),  # copy of epoch-0's 600
                ("q2", 0, 601, _text(981)),  # replay, dropped
                ("q2", 1, 603, _text(982)),
            ],
        ),
        2,
    )
    got = _statuses(dirs["status"])
    assert got[600] == ("unique", None, 0) and got[601] == ("unique", None, 0)
    assert got[602] == ("exact_dup", 600, 2), "growth lost after empty epoch"
    assert got[603][0] == "unique" and got[603][2] == 2
    assert len(got) == 4

    book = spark.read.parquet(dirs["book"])
    assert book.filter("epoch = 1").count() == 0
    marks = {
        r[0]: r[1]
        for r in book.groupBy("destination").agg({"max_id": "max"}).collect()
    }
    assert marks == {"q1": 1, "q2": 1}
    hashes = spark.read.parquet(dirs["grown"] + "/hashes")
    assert sorted(
        (r.corp_id, r.epoch) for r in hashes.select("corp_id", "epoch").collect()
    ) == [(600, 0), (601, 0), (603, 2)]


def test_screen_restores_adaptive_execution(loop):
    """The MinHash screen plans statically (adaptive execution off on
    the batch's session for the callback's duration): after a screened
    epoch, that session is adaptive again."""
    spark, screen, dirs = loop
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    screen(_batch(spark, [("q1", 0, 700, _text(3)), ("q1", 1, 701, _text(990))]), 0)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    got = _statuses(dirs["status"])
    assert got[700] == ("exact_dup", 3, 0) and got[701][0] == "unique"


def test_scoped_conf_applies_and_restores(spark):
    """``_scoped_conf`` sets each key on ``batch_df.sparkSession`` (a
    stream hands foreachBatch a frame of its own cloned session, here a
    ``newSession()``), leaves the outer session alone, and restores each
    prior value after the callback, also when the callback raises; a
    key that was unset is unset again."""
    from solace_apache_beam_spark.streaming.ingestion import _scoped_conf

    inner = spark.newSession()
    inner.conf.set("spark.sql.adaptive.enabled", "true")
    inner.conf.set("spark.sql.shuffle.partitions", "7")
    outer_before = spark.conf.get("spark.sql.adaptive.enabled")
    settings = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "3",
        "solace.test.scoped": "on",
    }
    batch_df = inner.range(1)

    def state(sess):
        return tuple(sess.conf.get(k, None) for k in settings)

    seen = {}

    def fn():
        seen["inner"] = state(inner)
        seen["outer"] = spark.conf.get("spark.sql.adaptive.enabled")

    _scoped_conf(batch_df, settings, fn)
    assert seen["inner"] == ("false", "3", "on")
    assert seen["outer"] == outer_before
    assert state(inner) == ("true", "7", None)

    def boom():
        seen["raised"] = state(inner)
        raise RuntimeError("screen failed")

    with pytest.raises(RuntimeError, match="screen failed"):
        _scoped_conf(batch_df, settings, boom)
    assert seen["raised"] == ("false", "3", "on")
    assert state(inner) == ("true", "7", None)


def test_epoch_write_keeps_caches_over_its_root(spark, tmp_path):
    """A sink commit must not clear cached frames that scan the table
    it writes. Every parquet write ends in CacheManager.recacheByPath
    (written path), which drops each cached plan scanning a root that
    starts with that path; the screen's five concurrent commits write
    the very roots its persisted frames read, so a root-level write
    would make the first commit to finish recompute the others'
    inputs. The UDF counts evaluations: a cache that survives the write
    runs it only while being filled. Also pins the read-back: a
    partition column ``epoch int`` and a rewrite that replaces an
    epoch's rows."""
    from pyspark.sql import functions as F

    from solace_apache_beam_spark.streaming.ingestion import (
        _epoch_write,
        _read_before,
    )

    def rows(*vs):
        return spark.createDataFrame([(v,) for v in vs], "v long")

    table = str(tmp_path / "t")
    _epoch_write(rows(0), table, 0)
    _epoch_write(rows(10), table, 1)

    evals = spark.sparkContext.accumulator(0)

    def counted(v):
        evals.add(1)
        return v

    cached = (
        _read_before(spark, table, 2)
        .withColumn("v", F.udf(counted, "long")("v"))
        .persist()
    )
    try:
        assert cached.count() == 2 and evals.value == 2
        _epoch_write(rows(20), table, 2)
        assert cached.count() == 2
        assert evals.value == 2, "the write recomputed a cache over its root"
    finally:
        cached.unpersist()

    assert spark.read.parquet(table).schema["epoch"].simpleString() == "epoch:int"
    _epoch_write(rows(11, 12), table, 1)
    got = sorted(
        tuple(r) for r in spark.read.parquet(table).select("epoch", "v").collect()
    )
    assert got == [(0, 0), (1, 11), (1, 12), (2, 20)]


if __name__ == "__main__":
    pytest.main([__file__, "-q"])


def test_compact_grown_index_preserves_growth_and_reexecution(
    spark, base_index, tmp_path
):
    """compact_grown_index folds the per-epoch index partitions into
    the epoch=-1 sentinel partition WITHOUT changing what any later
    (or re-executed) epoch sees:

    - growth matches against folded epochs still resolve (the -1
      sentinel is below every live epoch, so epoch-consistent reads
      include it);
    - the partition-dir count actually shrinks (the operational point);
    - a post-compaction epoch RE-EXECUTION reproduces its statuses
      bit-for-bit (the replay-idempotence contract survives the fold);
    - statuses equal an UNCOMPACTED control loop fed the same epochs.
    """
    import os

    from solace_apache_beam_spark.streaming.ingestion import (
        compact_grown_index,
    )

    def run(tag: str, compact_after: int | None):
        dirs = {n: str(tmp_path / f"{tag}_{n}") for n in ("status", "grown", "book")}
        screen = make_corpus_ingestion_screen(
            spark, base_index, dirs["status"], dirs["grown"], dirs["book"],
            **_PARAMS,
        )
        epochs = [
            [("q1", 0, 300, _text(960)), ("q1", 1, 301, _text(961))],
            [("q2", 0, 302, _text(962))],
            [("q1", 2, 303, _text(960))],   # exact copy of epoch-0's 300
            [("q2", 1, 304, _text(962))],   # exact copy of epoch-1's 302
        ]
        last = None
        for eid, rows in enumerate(epochs):
            if compact_after is not None and eid == compact_after:
                # every epoch < eid is committed (the screen returned),
                # so the whole history may fold
                compact_grown_index(
                    spark, dirs["grown"], committed_through=eid - 1
                )
            screen(_batch(spark, rows), eid)
            last = (eid, rows)
        return dirs, last

    ctrl_dirs, _ = run("ctrl", None)
    comp_dirs, last = run("comp", 2)

    ctrl, comp = _statuses(ctrl_dirs["status"]), _statuses(comp_dirs["status"])
    assert comp == ctrl, "compaction changed what a later epoch saw"
    assert comp[303] == ("exact_dup", 300, 2), "folded-epoch match lost"
    assert comp[304] == ("exact_dup", 302, 3)

    # the operational effect: bands partitions collapsed to the
    # sentinel + the post-compaction epochs
    bands = comp_dirs["grown"] + "/bands"
    names = sorted(n for n in os.listdir(bands) if n.startswith("epoch="))
    assert "epoch=-1" in names
    assert "epoch=0" not in names and "epoch=1" not in names

    # re-execute the LAST epoch post-compaction: byte-identical sinks
    screen = make_corpus_ingestion_screen(
        spark, base_index, comp_dirs["status"], comp_dirs["grown"],
        comp_dirs["book"], **_PARAMS,
    )
    screen(_batch(spark, last[1]), last[0])
    assert _statuses(comp_dirs["status"]) == ctrl


def test_compact_grown_index_crash_recovery_epoch_col(
    spark, base_index, tmp_path
):
    """The compaction crash-recovery breadcrumbs work under the grown
    index's `epoch=` partition naming (the epoch_col generalization):

    - crash BETWEEN the renames (bands dir absent, .bak + manifest
      present) — the next compact_grown_index call restores and
      recompacts, and a later epoch's growth match still resolves;
    - mid-carryover crash — only the NOT-folded epoch dir returns from
      the backup (a folded dir coming back would duplicate index rows
      and turn one match into two)."""
    import json
    import os
    import shutil

    from solace_apache_beam_spark.streaming.ingestion import (
        compact_grown_index,
    )

    dirs = {n: str(tmp_path / f"cr_{n}") for n in ("status", "grown", "book")}
    screen = make_corpus_ingestion_screen(
        spark, base_index, dirs["status"], dirs["grown"], dirs["book"],
        **_PARAMS,
    )
    screen(_batch(spark, [("q1", 0, 500, _text(970))]), 0)
    screen(_batch(spark, [("q1", 1, 501, _text(971))]), 1)

    bands = os.path.join(dirs["grown"], "bands")
    rows_before = spark.read.parquet(bands).count()

    # crash between the renames: published dir gone, breadcrumbs left
    os.rename(bands, bands + ".bak")
    with open(bands + ".compact.json", "w") as f:
        json.dump({"foldable": [], "tmp": str(tmp_path / "gone")}, f)

    compact_grown_index(spark, dirs["grown"], committed_through=1)
    assert spark.read.parquet(bands).count() == rows_before
    assert not os.path.exists(bands + ".bak")
    names = {n for n in os.listdir(bands) if n.startswith("epoch=")}
    assert names == {"epoch=-1"}, names

    # the loop still resolves growth matches against the recovered,
    # folded index
    screen(_batch(spark, [("q2", 0, 502, _text(970))]), 2)
    got = _statuses(dirs["status"])
    assert got[502] == ("exact_dup", 500, 2)

    # mid-carryover crash: a folded dir must NOT come back, a late one
    # must
    folded_src = os.path.join(bands, "epoch=-1")
    bak = bands + ".bak"
    os.makedirs(bak)
    shutil.copytree(folded_src, os.path.join(bak, "epoch=0"))
    shutil.copytree(folded_src, os.path.join(bak, "epoch=88"))
    with open(bands + ".compact.json", "w") as f:
        json.dump({"foldable": ["epoch=0"], "tmp": str(tmp_path / "gone2")}, f)
    n_now = spark.read.parquet(bands).count()
    compact_grown_index(spark, dirs["grown"], committed_through=88)
    assert not os.path.exists(bak)
    # late epoch=88 carried over (a copy of the fold), folded epoch=0
    # did not return
    assert spark.read.parquet(bands).count() == 2 * n_now


def test_listing_signature_staleness_semantics(tmp_path):
    """The round-15 probe-prefetch staleness guard: a prefetched probe
    is only consumed when every sink directory's shallow listing is
    unchanged since the prefetch. Pins the signature's three regimes —
    an absent dir is the legitimate 'no epochs yet' state (signs, and
    changes when the dir appears), any partition-set change (growth OR
    compaction's fold/delete) changes the signature, and a path that
    cannot be re-listed (remote scheme) yields None, which never
    validates (prefetch stays off rather than trusting an uncheckable
    listing — the compaction hazard observed live in round 15)."""
    import os

    from solace_apache_beam_spark.streaming.ingestion import (
        _listing_signature,
    )

    book = tmp_path / "book"
    grown = tmp_path / "grown"
    paths = [str(book), str(grown)]

    s_absent = _listing_signature(paths)
    assert s_absent == (("<absent>",), ("<absent>",))

    os.makedirs(book / "epoch=0")
    os.makedirs(grown / "epoch=0")
    s0 = _listing_signature(paths)
    assert s0 != s_absent and s0 == _listing_signature(paths)

    # growth changes it ...
    os.makedirs(grown / "epoch=1")
    s1 = _listing_signature(paths)
    assert s1 != s0
    # ... and compaction's fold/delete changes it again
    os.rename(grown / "epoch=0", grown / "epoch=-1")
    assert _listing_signature(paths) != s1

    # un-listable paths disable validation entirely
    assert _listing_signature(["s3://bucket/grown"]) is None
    assert _listing_signature([str(book), "hdfs://nn/grown"]) is None
