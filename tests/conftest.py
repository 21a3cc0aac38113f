from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from solace_apache_beam_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Suite-runtime knobs (all default to the measured-safe values; coverage
# counts are identical unless explicitly dialed):
#   SPARK_GRAFT_FUZZ_FULL=1    full hypothesis iteration counts + the
#                              full oracle-parity sweep (preflight sets)
#   SPARK_GRAFT_SOAK=1         run the 2-JVM kill-restart soak tier
#   SPARK_GRAFT_SOAK_POOL=N    soak scenario concurrency (default 4,
#                              3 waves; 9 runs all 9 scenarios in one
#                              wave on an idle 32-core VM with
#                              SOAK_CPUS=4)
#   SPARK_GRAFT_SOAK_CPUS=N    local[N] per soak JVM (default 8)
#   SPARK_GRAFT_FUZZ_SCALE=F   fractional multiplier on hypothesis
#                              example counts (floor 1; preflight never
#                              sets it — the snapshot gate pays full)
#   SPARK_GRAFT_TEST_CPUS=N    shared-session width (default 4 — see
#                              fixture note)


@pytest.fixture(scope="session")
def spark():
    # width 4 measured FASTER than 8 for this suite (99.7 s vs 122.6 s
    # on the oracle-parity + empty-tables slice; parity on the
    # streaming-dominated modules): the suite is hundreds of tiny jobs
    # where per-task scheduling overhead beats stage parallelism
    spark = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "4")))
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
