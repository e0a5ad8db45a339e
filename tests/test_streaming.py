"""Structured Streaming adapter: foreachBatch merge, exactly-once via availableNow."""

from __future__ import annotations

from pyspark.sql import functions as F

from arches_rascoll_etl_spark import oracle
from arches_rascoll_etl_spark.lake.parquet_snapshot import SnapshotTable
from arches_rascoll_etl_spark.streaming.checkpoint import Checkpoint
from arches_rascoll_etl_spark.streaming.pipeline import stream_into_table
from arches_rascoll_etl_spark.synth import ChangeLogConfig, change_log

CFG = ChangeLogConfig(n_events=2_000, n_repos=6, paths_per_repo=60, n_batches=4)


def test_stream_replay_matches_oracle(spark, tmp_path):
    src = str(tmp_path / "src")
    log = change_log(spark, CFG)
    log.write.partitionBy("batch_id").parquet(src)

    stream = (
        spark.readStream.schema(log.drop("batch_id").schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(src + "/batch_id=*")
    )
    tbl = SnapshotTable(spark, str(tmp_path / "tbl"), n_buckets=8)
    ckpt = Checkpoint(str(tmp_path / "ckpt" / "manifest.json"))
    q = stream_into_table(stream, tbl, ckpt, str(tmp_path / "spark_ckpt"))
    q.awaitTermination(120)

    got = {
        tuple(r)
        for r in tbl.read()
        .select("repo", "path", "commit", "lang", F.sha2("content", 256))
        .collect()
    }
    events = [r.asDict() for r in log.collect()]
    assert got == oracle.final_rows(events)
    assert len(ckpt.applied_batch_ids()) >= 1

    # restart the same availableNow stream: no new data -> no new snapshots
    v = tbl.current_version()
    q2 = stream_into_table(
        spark.readStream.schema(log.drop("batch_id").schema).parquet(src + "/batch_id=*"),
        tbl,
        ckpt,
        str(tmp_path / "spark_ckpt"),
    )
    q2.awaitTermination(60)
    assert tbl.current_version() == v


def test_streaming_quarantine_diverts_malformed(spark, tmp_path):
    """stream_into_table(quarantine_table=): per-epoch dead-letter parity
    with replay() — corrupted events diverted, valid state unaffected."""
    from arches_rascoll_etl_spark.operators.quarantine import REASON_COL

    src = str(tmp_path / "src")
    log = change_log(spark, CFG).withColumn(
        "repo",
        F.when(F.col("event_id") % 29 == 0, None).otherwise(F.col("repo")),
    )
    log.write.partitionBy("batch_id").parquet(src)

    stream = (
        spark.readStream.schema(log.drop("batch_id").schema)
        .parquet(src + "/batch_id=*")
    )
    tbl = SnapshotTable(spark, str(tmp_path / "tbl"), n_buckets=8)
    quar = SnapshotTable(
        spark, str(tmp_path / "quar"),
        key_cols=["event_id"], order_cols=["event_id"], n_buckets=4,
    )
    ckpt = Checkpoint(str(tmp_path / "ckpt" / "manifest.json"))
    q = stream_into_table(stream, tbl, ckpt, str(tmp_path / "spark_ckpt"),
                          quarantine_table=quar)
    q.awaitTermination(120)

    n_bad = log.where(F.col("event_id") % 29 == 0).count()
    qdf = quar.read()
    assert qdf.count() == n_bad and n_bad > 0
    assert qdf.where(F.col(REASON_COL) != "null_key").count() == 0
    # main state == pure-Python oracle over the valid half only
    events = [r.asDict() for r in log.where(F.col("event_id") % 29 != 0).collect()]
    got = {
        tuple(r)
        for r in tbl.read()
        .select("repo", "path", "commit", "lang", F.sha2("content", 256))
        .collect()
    }
    assert got == oracle.final_rows(events)


def test_stream_mor_auto_compact(spark, tmp_path):
    """High-cadence MOR sink: each epoch appends deltas (merge_mode='mor'
    table), and the auto_compact_delta_files policy folds debtor buckets as
    the stream runs — final state still equals the batch-replay oracle and
    residual debt is bounded by the threshold."""
    src = str(tmp_path / "src")
    log = change_log(spark, CFG)
    log.write.partitionBy("batch_id").parquet(src)

    stream = (
        spark.readStream.schema(log.drop("batch_id").schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src + "/batch_id=*")
    )
    tbl = SnapshotTable(spark, str(tmp_path / "tbl"), n_buckets=8, merge_mode="mor")
    ckpt = Checkpoint(str(tmp_path / "ckpt" / "manifest.json"))
    q = stream_into_table(
        stream, tbl, ckpt, str(tmp_path / "spark_ckpt"), auto_compact_delta_files=2
    )
    q.awaitTermination(120)

    got = {
        tuple(r)
        for r in tbl.read()
        .select("repo", "path", "commit", "lang", F.sha2("content", 256))
        .collect()
    }
    events = [r.asDict() for r in log.collect()]
    assert got == oracle.final_rows(events)
    assert tbl.delta_debt()["max_delta_files"] < 2


def test_stream_auto_compact_folds_quarantine_deltas(spark, tmp_path):
    """Dead letters land as MOR deltas whatever the main table's mode, so
    the auto-compact policy bounds the quarantine table's delta debt too;
    its read still holds each dead letter once."""
    src = str(tmp_path / "src")
    log = change_log(spark, CFG).withColumn(
        "repo",
        F.when(F.col("event_id") % 29 == 0, None).otherwise(F.col("repo")),
    )
    log.write.partitionBy("batch_id").parquet(src)
    stream = (
        spark.readStream.schema(log.drop("batch_id").schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src + "/batch_id=*")
    )
    tbl = SnapshotTable(spark, str(tmp_path / "tbl"), n_buckets=8)
    quar = SnapshotTable(
        spark, str(tmp_path / "quar"),
        key_cols=["event_id"], order_cols=["event_id"], n_buckets=4,
    )
    q = stream_into_table(
        stream, tbl, Checkpoint(str(tmp_path / "ckpt" / "manifest.json")),
        str(tmp_path / "spark_ckpt"), quarantine_table=quar, auto_compact_delta_files=2,
    )
    q.awaitTermination(120)

    assert quar.read().count() == log.where(F.col("event_id") % 29 == 0).count()
    assert quar.delta_debt()["max_delta_files"] < 2
