"""Standalone-cluster deployment smoke: master + worker in separate JVMs,
engine shipped via spark-submit --py-files, replay result asserted.

Complements tests/test_submit.py (local[k] submit): here the executor is a
REAL separate JVM registered with a standalone master — the closest this
sandbox gets to the north rule's multi-executor cluster. One worker only,
to bound suite wall time."""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT / "tools"))


def test_standalone_cluster_replay(spark, tmp_path):
    from standalone_cluster import StandaloneCluster, _zip_engine

    from arches_rascoll_etl_spark.synth import ChangeLogConfig, change_log

    events_dir = str(tmp_path / "events")
    cfg = ChangeLogConfig(n_events=2_000, n_repos=5, paths_per_repo=40, n_batches=2)
    change_log(spark, cfg).write.partitionBy("batch_id").parquet(events_dir)

    zip_path = _zip_engine()
    out = str(tmp_path / "result.json")
    try:
        with StandaloneCluster(1, 2, str(tmp_path / "cluster")) as c:
            res = c.submit_replay(
                zip_path, events_dir, str(tmp_path / "tbl"), out,
                total_cores=2, timeout_s=420,
            )
    finally:
        os.unlink(zip_path)

    assert res["events"] == 2_000
    assert res["final_rows"] > 0
    assert res["events_per_sec"] > 0
    # the run really went through the standalone master: an executor was
    # launched by the worker JVM (its work-dir holds the app's stderr)
    workdirs = list((tmp_path / "cluster" / "worker0").rglob("stderr"))
    assert workdirs, "no executor launched under the worker's work-dir"
    assert json.load(open(out))["events"] == 2_000
