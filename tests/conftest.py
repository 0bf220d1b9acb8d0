import os

import pytest


@pytest.fixture(scope="session")
def spark():
    # Smaller parallelism for test speed; the engine config is identical.
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    # one JVM serves the whole ~190-test session: a little extra heap on
    # top of the engine's pinned 10g absorbs the session-long tail of
    # uncollected localCheckpoint blocks (12g stays well below the
    # known-bad 24g+ allocation-collapse regime)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "12g")
    from nominatim_spark.session import get_spark

    s = get_spark("nominatim_spark_tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def input_shapes(spark):
    """The same rows as every input shape an engine entry point must
    treat alike: a plain ``createDataFrame``, a cached frame, and a
    ``localCheckpoint``ed frame with and without a prior ``select``."""

    def shapes(rows, schema):
        def make():
            return spark.createDataFrame(rows, schema)

        return {
            "plain": make(),
            "cached": make().cache(),
            "checkpointed": make().localCheckpoint(),
            "select_checkpointed": make().select("*").localCheckpoint(),
        }

    return shapes


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module", autouse=True)
def _clear_cache_between_modules():
    """Module fixtures persist index tables and never unpersist; across
    ~20 modules in one session the accumulated cache + localCheckpoint
    blocks crowd the pinned 10g heap.  Clearing between modules keeps
    the peak flat (later lazy references simply recompute)."""
    yield
    try:
        from pyspark.sql import SparkSession

        s = SparkSession.getActiveSession()
        if s is not None:
            s.catalog.clearCache()
            s.sparkContext._jvm.System.gc()
    except Exception:
        pass
