from __future__ import annotations

import os

import pytest
from pyspark.sql import SparkSession

# Default-gate subset (r15 verdict #3): the full suite takes ~45 min,
# which overflowed the verify window regardless of suite health. The
# default run therefore skips the tests marked ``@pytest.mark.slow`` —
# the slowest long-lifecycle tests, each a minutes-long end-to-end
# composition whose OPERATORS every remaining file still covers (the
# CLI keeps one door test; index/dedup/curve files keep all their unit
# + property tests). The 6-14 s band of them are redundant
# lifecycle/heal/staleness VARIANTS whose operator each file still
# covers with a faster sibling (the engine heal family keeps one
# lexical + one semantic test; math parity tests — kmeans transform,
# ADC reconstruction, exhaustive pruned-vs-brute, pack property — all
# stay in the gate). Durations beside each marker were measured
# 2026-08-18 (contended full run, 2539 s total; the marked set saves
# ~1450 s). `FULL_SUITE=1 python -m pytest tests/` runs everything.


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: deferred long-lifecycle test, skipped unless FULL_SUITE=1",
    )


def pytest_collection_modifyitems(config, items):
    if os.environ.get("FULL_SUITE"):
        return
    skip = pytest.mark.skip(
        reason="driver-gate subset: deferred long-lifecycle test "
        "(FULL_SUITE=1 runs everything)"
    )
    for item in items:
        if item.get_closest_marker("slow") is not None:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    # local[8]/8 shuffle partitions (was local[4]/4): the suite is one
    # sequential session on a 32-core box and its wall is Spark stage
    # latency, not CPU — doubling per-job parallelism cut the driver
    # gate ~20% with zero test changes (no test asserts a partition
    # count; plan-shape tests match operators, not widths).
    s = (
        SparkSession.builder.appName("engine-tests")
        .master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
