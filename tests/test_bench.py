"""bench.py stays importable without Spark, and its headline names real
queries."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def test_importing_bench_starts_no_jvm():
    # a fresh interpreter: the test session's own Spark fixture must not
    # mask an import-time session
    proc = subprocess.run(
        [sys.executable, "-c", "import sys, bench; print('pyspark' in sys.modules)"],
        cwd=str(ROOT), capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.strip() == "False"


def test_headline_names_are_queries():
    sys.path.insert(0, str(ROOT))
    import bench
    from arches_rascoll_etl_spark.queries import all_queries

    assert len(bench.HEADLINE) == 13
    assert set(bench.HEADLINE) <= set(all_queries())
