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
    # Sized like the engine's own session (session.get_spark): local
    # parallelism and shuffle partitions both SPARK_GRAFT_CPUS, else
    # the machine's core count. No test asserts a partition count;
    # plan-shape tests match operators, not widths.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 8)
    s = (
        SparkSession.builder.appName("engine-tests")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
