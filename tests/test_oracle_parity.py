"""The local twin of the driver's correctness gate: every registered
query is executed on Spark and as DuckDB oracle SQL, and compared
order-insensitively at sf0.001.

Full tier (VERDICT r8 Next #4): the per-query parity sweep runs under
SPARK_GRAFT_FUZZ_FULL=1. It is the SAME comparison the repo already
pays at least three other ways every round — the driver gate at
sf0.01, the /verify sweep before each product commit, the randomized
harness arms on adversarial data, and scripts/preflight (which sets
the flag) before every snapshot — so the quick tier keeps only the
cheap rows-only/entry smokes and the default suite stops paying ~45 s
for a fourth copy of the fixed-corpus comparison on every inner-loop
run.

Quick tier keeps an ALWAYS-ON parity smoke (ADVICE r9: a bare
`pytest tests/` must not silently lose the primary correctness gate):
a pinned window of _SMOKE_N queries, one test per query, whose ids are
the same on every day, plus one test that compares a day-keyed window
cycling through the whole registry every ~11 days of calendar time.
Each costs ~1/10 of the full sweep."""

from __future__ import annotations

import os
from datetime import date

import pytest

from solace_apache_beam_spark.registry import all_oracles, all_queries
from tests.oracle import compare, duckdb_con

QUERIES = all_queries()
ORACLES = all_oracles()

_ALL = sorted(ORACLES)
_SMOKE_N = 8


def _window(off: int) -> list[str]:
    return [_ALL[(off + i) % len(_ALL)] for i in range(min(_SMOKE_N, len(_ALL)))]


# Pinned window, anchored by name so that adding a query elsewhere in the
# registry does not rename its tests. A day-keyed parametrization renamed
# all _SMOKE_N test ids at every midnight, so two runs of the suite on
# different days could not be compared test by test.
SMOKE = _window(_ALL.index("dedup_minhash_rescue")) if _ALL else []
# day-keyed deterministic rotation: stable within a day (reruns compare
# the same subset), advances by a full window per day so the cycle
# covers every query in ceil(len/_SMOKE_N) days. The key is overridable
# (ADVICE r10): a bisect or CI rerun crossing midnight would otherwise
# see the subset shift under it with no code change — set
# SPARK_GRAFT_SMOKE_OFFSET=<int> to pin the window.
_env_off = os.environ.get("SPARK_GRAFT_SMOKE_OFFSET")
_KEY = int(_env_off) if _env_off is not None else date.today().toordinal()
ROTATING = [
    n for n in _window((_KEY * _SMOKE_N) % max(1, len(_ALL))) if n not in SMOKE
]

full_tier = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_FUZZ_FULL") != "1",
    reason="full tier: set SPARK_GRAFT_FUZZ_FULL=1 (preflight does)",
)


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_con(sf_dir)
    yield c
    c.close()


@full_tier
@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, sf_dir, con):
    df = QUERIES[name](spark, sf_dir)
    compare(df, con, ORACLES[name])


_quick_tier = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_FUZZ_FULL") == "1",
    reason="full tier runs the complete sweep above — the smoke "
    "subsets are the QUICK tier's gate and would be a strict re-run here "
    "(suite-runtime cap, r11)",
)


@_quick_tier
@pytest.mark.parametrize("name", SMOKE)
def test_query_matches_oracle_smoke(name, spark, sf_dir, con):
    """Always-on pinned subset of the parity sweep — the quick tier's
    unconditional correctness gate (ADVICE r9)."""
    df = QUERIES[name](spark, sf_dir)
    compare(df, con, ORACLES[name])


@_quick_tier
def test_query_matches_oracle_rotating(spark, sf_dir, con):
    """Always-on rotating subset of the parity sweep, under one stable
    test id. The subset is keyed on the calendar day unless
    SPARK_GRAFT_SMOKE_OFFSET pins it (ADVICE r10) — a failure that
    appears/disappears across reruns without a code change means the
    day rolled; pin the offset to bisect."""
    failed = {}
    for name in ROTATING:
        try:
            compare(QUERIES[name](spark, sf_dir), con, ORACLES[name])
        except AssertionError as exc:
            failed[name] = str(exc)
    assert not failed, (
        "\n".join(f"{n}: {e}" for n, e in failed.items())
        + f"\n[rotating subset key={_KEY} — day-keyed unless "
        "SPARK_GRAFT_SMOKE_OFFSET is set; pin it to reproduce across "
        "midnight]"
    )


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_query_runs(name, spark, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.queries()).issuperset(set(e.oracle_sql()))
