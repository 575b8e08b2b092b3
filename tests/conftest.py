from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from timing_explorer_spark.compat import ensure_protobuf  # noqa: E402
from timing_explorer_spark.session import get_spark  # noqa: E402

# Must run BEFORE any SparkSession exists: Python workers inherit PYTHONPATH
# from the JVM's launch environment, so the vendored google.protobuf shim
# (used by the transformWithStateInPandas state protocol when the real
# runtime is absent) has to be on PYTHONPATH by then.
ensure_protobuf()

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # local[8] (r13, was local[4]): the suite's long poles are trainer
    # builds and oracle collects that are compute-bound even at sf0.001;
    # doubling cores roughly halves them while scheduling-bound tests are
    # unchanged. No test depends on the session's core count (the only
    # partition-count assertions pin warm_cache's explicit arguments).
    s = get_spark(
        app_name="timing-explorer-spark-tests",
        master="local[8]",
        shuffle_partitions=8,
    )
    yield s


@pytest.fixture()
def rocksdb_spark(spark):
    """The shared session with the RocksDB state store provider enabled for
    one test — required by every transformWithStateInPandas operator
    (verify-mode LSH dedup, TWS pseudo-windows). Runtime-settable; restored
    after the test."""
    from timing_explorer_spark.streaming.state import rocksdb_state_conf

    saved = {}
    for k, v in rocksdb_state_conf().items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    yield spark
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE


@pytest.fixture(scope="session")
def smoke_query(spark, sf_smoke):
    """``smoke_query(name)``: registered query ``name`` built over the smoke
    fixture, once per session. The whole-registry plan audit and the
    registry oracle/run checks need every query over the same fixture, and
    trainer-backed builders execute their training actions at build time —
    sharing the built frame saves a full registry pass of training. A build
    that raises is not memoized."""
    from timing_explorer_spark.plans import all_queries

    specs = all_queries()
    built = {}

    def get(name: str):
        if name not in built:
            built[name] = specs[name].build(spark, sf_smoke)
        return built[name]

    return get
