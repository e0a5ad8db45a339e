"""Session defaults sized to the host: the driver heap follows MemTotal."""

from __future__ import annotations

import os

import pytest

from arches_rascoll_etl_spark.session import default_driver_memory


@pytest.mark.parametrize(
    ("mem_total_kib", "expected"),
    [
        (16_456_384, "8g"),  # a 15.7 GiB host: half, rounded
        (64 * 1024 * 1024, "16g"),  # capped at 16g
        (1024 * 1024, "1g"),  # never below 1g
    ],
)
def test_default_driver_memory_is_half_of_mem_total(tmp_path, mem_total_kib, expected):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(f"MemTotal:       {mem_total_kib} kB\nMemFree:  1 kB\n")
    assert default_driver_memory(str(meminfo)) == expected


def test_default_driver_memory_falls_back_to_cap(tmp_path):
    assert default_driver_memory(str(tmp_path / "absent")) == "16g"


def test_fixture_session_heap_is_the_derived_default(spark):
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    expected = override or default_driver_memory()
    assert spark.sparkContext.getConf().get("spark.driver.memory") == expected
