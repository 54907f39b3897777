from __future__ import annotations

import itertools
import os
import sys
from contextlib import contextmanager
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from sparksimjoin.session import get_spark  # noqa: E402

# one local slot per host CPU (oversubscribing a small host only adds
# contention); tests that depend on a partition count set it themselves
CORES = int(os.environ.get("SPARK_GRAFT_CPUS") or 8)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="sparksimjoin-tests", cores=CORES,
                  shuffle_partitions=CORES, driver_memory="8g")
    yield s
    s.stop()


_GROUPS = itertools.count()


@pytest.fixture
def spark_jobs(spark):
    """``with spark_jobs() as ids:`` — after the block, ``ids`` lists
    the Spark jobs launched inside it (tagged with a fresh job group;
    the listener bus is drained first, so none is missed)."""
    sc = spark.sparkContext

    @contextmanager
    def counting():
        group = f"test-jobs-{next(_GROUPS)}"
        ids: list[int] = []
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            yield ids
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            ids.extend(sc.statusTracker().getJobIdsForGroup(group))

    return counting
