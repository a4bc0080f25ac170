from __future__ import annotations

import os
import shutil

import pytest

os.environ.setdefault("SPARK_DRIVER_MEMORY", "8g")

FIXTURE_DIR = "/tmp/gsearch_spark_fixtures"


@pytest.fixture(scope="session")
def spark():
    from gsearch_spark.session import get_spark
    s = get_spark("gsearch_spark_tests", cores=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def small_fixture_dir():
    """Deterministic 300-base images fixture (≈375 rows), cached on disk."""
    from gsearch_spark.generator import write_fixture_local
    out = os.path.join(FIXTURE_DIR, "t0_300")
    marker = os.path.join(out, "images.parquet")
    if not os.path.exists(marker):
        shutil.rmtree(out, ignore_errors=True)
        write_fixture_local(out, n_base=300, seed=42)
    return out


@pytest.fixture(scope="session")
def t1_fixture_dir():
    """t1 smoke scale: 1000 base rows (FIXTURES.md)."""
    from gsearch_spark.generator import write_fixture_local
    out = os.path.join(FIXTURE_DIR, "t1_1000")
    marker = os.path.join(out, "images.parquet")
    if not os.path.exists(marker):
        shutil.rmtree(out, ignore_errors=True)
        write_fixture_local(out, n_base=1000, seed=42)
    return out


@pytest.fixture
def assert_settled(spark):
    """Checks for a build or mutation that just raised: no Spark job it
    started (side chains included) is still running, and it left no
    writer lock or commit manifest in ``ckpt``."""
    from gsearch_spark.operators.pipeline import ADD_LOCK, ADD_MANIFEST

    def check(ckpt: str) -> None:
        sc = spark.sparkContext
        # job-end events reach the status tracker through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getActiveJobsIds()) == []
        for name in (ADD_LOCK, ADD_MANIFEST):
            assert not os.path.exists(os.path.join(ckpt, name)), name
    return check
