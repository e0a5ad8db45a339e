"""S9 catalog surface: SQL views over lake tables."""

from __future__ import annotations

from pyspark.sql import functions as F

from arches_rascoll_etl_spark.lake import catalog
from arches_rascoll_etl_spark.lake.parquet_snapshot import SnapshotTable
from arches_rascoll_etl_spark.synth import ChangeLogConfig, batch_events

CFG = ChangeLogConfig(n_events=2_000, n_repos=5, paths_per_repo=40, n_batches=2, schema_add_batch=0)


def _tbl(spark, path):
    tbl = SnapshotTable(spark, path, n_buckets=8)
    for b in range(2):
        tbl.merge(batch_events(spark, CFG, b), batch_id=f"b{b}")
    return tbl


def test_register_views_sql_queryable(spark, tmp_table_dir):
    tbl = _tbl(spark, tmp_table_dir)
    names = catalog.register_views(spark, "code_files", tbl, with_history=True, with_raw=True)
    assert "code_files" in names and "code_files_raw" in names
    assert {"code_files_v0", "code_files_v1"} <= set(names)

    live = spark.sql("SELECT COUNT(*) AS n FROM code_files").first()["n"]
    assert live == tbl.read().count()
    # time travel via SQL matches the API
    v0 = spark.sql("SELECT COUNT(*) AS n FROM code_files_v0").first()["n"]
    assert v0 == tbl.read(version=0).count()
    # the raw CDC-feed view exposes tombstones with their op
    raw = spark.sql("SELECT COUNT(*) AS n FROM code_files_raw WHERE op = 'D'").first()["n"]
    assert raw == tbl._read_stored().where(F.col("op") == "D").count()
    assert raw > 0  # synthetic log contains deletes
    # a downstream join over the SQL surface works
    j = spark.sql(
        "SELECT l.repo, COUNT(*) AS n FROM code_files l "
        "JOIN code_files_v0 o ON l.repo = o.repo AND l.path = o.path GROUP BY l.repo"
    )
    assert j.count() > 0
