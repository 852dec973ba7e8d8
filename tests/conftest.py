from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hiss_cube_spark import get_spark  # noqa: E402


def _driver_heap() -> str:
    """24g, or half the host's RAM where that is less.

    The full-scale galaxy_small e2e moves a ~6 GB image corpus through one
    local JVM, and the heap is fixed by whichever session starts the JVM
    first. A heap the host cannot back does not spill: the JVM grows past
    physical memory and the kernel kills it mid-write (a 16 GB host lost
    every galaxy test to a 24g heap; with 8g and one task per core the
    module passes with ~4 GB to spare)."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(24 << 10, ram_mb // 2)}m"


# set at import, before any session exists: modules that build their own
# session (the galaxy e2e) inherit the same heap
os.environ.setdefault("SPARK_DRIVER_MEM", _driver_heap())


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("hiss-cube-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def distributed_regime(monkeypatch):
    """Run connected components, label propagation and BPE training in
    their distributed regime: every pin reports a size above the one
    narrow partition up to which they run their rounds on the driver."""
    from hiss_cube_spark import pins

    monkeypatch.setattr(
        pins, "stored_bytes", lambda df: pins._NARROW_PARTITION_BYTES + 1
    )


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("HCS_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module", autouse=True)
def _release_blocks_between_modules():
    """Free accumulated block-manager state at every module boundary.

    localCheckpoint blocks survive ``clearCache()`` and pile up across a
    ~600-test session until the shuffle writer starves (VERDICT r7 #1: the
    galaxy e2e module errored in one-pass suite runs but passed in
    isolation). Module-scope autouse tears down AFTER the module's own
    fixtures, so nothing that still needs a checkpointed frame is released
    early."""
    yield
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        try:
            from hiss_cube_spark.pins import release_rdd_blocks

            s.catalog.clearCache()
            release_rdd_blocks(s)
        except Exception:
            pass
