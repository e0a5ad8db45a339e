from __future__ import annotations

import sys
import uuid
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from arches_rascoll_etl_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def tmp_table_dir(tmp_path):
    return str(tmp_path / "lake_table")


@pytest.fixture()
def spark_jobs(spark):
    """``run(fn) -> (fn(), ids of the Spark jobs fn ran)``: fn runs under a
    job group of its own, read back through the status tracker."""
    sc = spark.sparkContext

    def run(fn):
        group = f"test-{uuid.uuid4().hex[:12]}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status store is fed asynchronously by the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, sorted(sc.statusTracker().getJobIdsForGroup(group))

    return run
