"""Structured Streaming adapter: foreachBatch merge, exactly-once via availableNow."""

from __future__ import annotations

from pyspark.sql import functions as F

from arches_rascoll_etl_spark import oracle
from arches_rascoll_etl_spark.lake.parquet_snapshot import SnapshotTable
from arches_rascoll_etl_spark.streaming.checkpoint import Checkpoint
from arches_rascoll_etl_spark.streaming.pipeline import stream_into_table
from arches_rascoll_etl_spark.synth import ChangeLogConfig, change_log

CFG = ChangeLogConfig(n_events=2_000, n_repos=6, paths_per_repo=60, n_batches=4)


def test_stateful_streaming_lww_matches_oracle(spark, tmp_path):
    """applyInPandasWithState LWW: max emitted winner per key == oracle.

    Every micro-batch emits the then-current winner for updated keys, so
    the greatest (commit_seq, commit) row emitted per key over the whole
    stream must equal the batch-LWW winner."""
    from arches_rascoll_etl_spark.streaming.stateful import streaming_lww

    src = str(tmp_path / "src")
    log = change_log(spark, CFG)
    log.write.partitionBy("batch_id").parquet(src)

    stream = (
        spark.readStream.schema(log.drop("batch_id").schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(src + "/batch_id=*")
    )
    winners = streaming_lww(stream, keys=("repo", "path"), order_cols=("commit_seq", "commit"))
    q = (
        winners.writeStream.format("memory")
        .queryName("lww_sink")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    emitted = spark.sql("SELECT * FROM lww_sink").collect()
    best: dict = {}
    for r in emitted:
        k = (r["repo"], r["path"])
        o = (r["commit_seq"], r["commit"])
        if k not in best or o > (best[k]["commit_seq"], best[k]["commit"]):
            best[k] = r
    got = {
        (k[0], k[1], r["commit"], r["lang"]): r["op"]
        for k, r in best.items()
    }
    events = [r.asDict() for r in log.collect()]
    want = {}
    for e in sorted(events, key=lambda e: (e["commit_seq"], e["commit"])):
        want[(e["repo"], e["path"])] = e
    want_set = {(k[0], k[1], e["commit"], e["lang"]): e["op"] for k, e in want.items()}
    assert got == want_set


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


def test_streaming_windowed_agg_drops_late_data(spark, tmp_path):
    """Watermarked tumbling windows: an event arriving far behind the
    watermark must NOT reopen its (already closed) window; on-time events
    aggregate normally. File mtimes order the micro-batches so the late
    file is processed after the watermark has advanced."""
    import os
    import time as _time

    from pyspark.sql import types as T

    from arches_rascoll_etl_spark.streaming.windows import streaming_tumbling_agg

    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()), T.StructField("event_type", T.StringType())]
    )
    base = 1_700_000_400  # epoch seconds, 10-minute-aligned (mod 600 == 0)
    def ts(mins):
        import datetime
        return datetime.datetime.fromtimestamp(base + mins * 60, datetime.timezone.utc).replace(tzinfo=None)

    src = str(tmp_path / "src")
    os.makedirs(src)
    # four micro-batches, ordered by descending row count via mtimes:
    # 1) four on-time events in window [0,10);
    # 2) watermark advancer (minute 125 -> watermark 115, closes [0,10));
    # 3) filler batch — Spark >= 3.4 filters late DATA with the PREVIOUS
    #    batch's watermark (eviction uses the current one), so the late
    #    row must arrive one batch after the advancer to be dropped;
    # 4) a LATE event for the long-closed [0,10) window.
    _time.sleep(0)  # noqa: F841 (kept: files are ordered by row count below)
    spark.createDataFrame(
        [(ts(5), "a")] * 4, schema
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(ts(125), "b")] * 3, schema
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(ts(126), "b")] * 2, schema
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame([(ts(6), "a")], schema).coalesce(1).write.mode("append").parquet(src)
    # deterministic processing order via mtimes (identify files by actual
    # row count — part-file sizes are not reliable)
    import pyarrow.parquet as pq

    files = sorted(
        (os.path.join(src, f) for f in os.listdir(src) if f.endswith(".parquet")),
        key=lambda f: pq.ParquetFile(f).metadata.num_rows,
        reverse=True,
    )
    assert len(files) == 4
    for i, f in enumerate(files):
        os.utime(f, (1_000_000 + i * 1000, 1_000_000 + i * 1000))

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    agg = streaming_tumbling_agg(stream, "ts", "10 minutes", "10 minutes", ["event_type"])
    q = (
        agg.writeStream.format("memory")
        .queryName("win_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = {
        (r["w_start_us"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM win_sink").collect()
    }
    w0 = base * 1_000_000  # window [minute 0, minute 10)
    # closed window emitted exactly once with ONLY the on-time events; the
    # late minute-6 event was dropped, not double-counted or re-emitted
    assert rows.get((w0, "a")) == 4
    assert sum(1 for (ws, et) in rows if et == "a") == 1
    # and the drop is observable in the stream's own metrics
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert dropped == 1


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


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """At-least-once re-deliveries of the same event identity — within one
    micro-batch AND across micro-batches inside the watermark horizon —
    collapse to one emitted row; distinct identities all survive."""
    import datetime
    import os

    from pyspark.sql import types as T

    from arches_rascoll_etl_spark.streaming.windows import streaming_dedup

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("repo", T.StringType()),
            T.StructField("commit", T.StringType()),
        ]
    )
    base = 1_700_000_400

    def ts(mins):
        return datetime.datetime.fromtimestamp(
            base + mins * 60, datetime.timezone.utc
        ).replace(tzinfo=None)

    src = str(tmp_path / "src")
    os.makedirs(src)
    # batch 1 (3 rows): c1 delivered twice in-batch + c2 once
    spark.createDataFrame(
        [(ts(0), "r1", "c1"), (ts(0), "r1", "c1"), (ts(1), "r1", "c2")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    # batch 2 (2 rows): c1 re-delivered across batches (in horizon) + c3
    spark.createDataFrame(
        [(ts(2), "r1", "c1"), (ts(3), "r1", "c3")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    import pyarrow.parquet as pq

    files = sorted(
        (os.path.join(src, f) for f in os.listdir(src) if f.endswith(".parquet")),
        key=lambda f: pq.ParquetFile(f).metadata.num_rows,
        reverse=True,
    )
    assert len(files) == 2
    for i, f in enumerate(files):
        os.utime(f, (1_000_000 + i * 1000, 1_000_000 + i * 1000))

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = streaming_dedup(stream, ["repo", "commit"], "ts", "30 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [
        (r["repo"], r["commit"])
        for r in spark.sql("SELECT * FROM dedup_sink").collect()
    ]
    assert sorted(got) == [("r1", "c1"), ("r1", "c2"), ("r1", "c3")]


def test_streaming_session_windows_close_at_watermark(spark, tmp_path):
    """Session windows fuse events within the gap per key and emit exactly
    once (append mode) when the watermark passes the session end."""
    import datetime
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from arches_rascoll_etl_spark.streaming.windows import streaming_session_agg

    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()), T.StructField("user", T.StringType())]
    )
    base = 1_700_000_400

    def ts(mins):
        return datetime.datetime.fromtimestamp(
            base + mins * 60, datetime.timezone.utc
        ).replace(tzinfo=None)

    src = str(tmp_path / "src")
    os.makedirs(src)
    # batch 1 (4 rows): one 3-event session (gap 5m fuses 0,2,4) and the
    # seed of a second session at minute 20
    spark.createDataFrame(
        [(ts(0), "u"), (ts(2), "u"), (ts(4), "u"), (ts(20), "u")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    # batch 2 (2 rows): watermark advancer (own session, stays open)
    spark.createDataFrame(
        [(ts(200), "w")] * 2, schema
    ).coalesce(1).write.mode("append").parquet(src)
    # batch 3 (1 row): previous-batch-watermark filler (Spark >= 3.4)
    spark.createDataFrame([(ts(201), "w")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    files = sorted(
        (os.path.join(src, f) for f in os.listdir(src) if f.endswith(".parquet")),
        key=lambda f: pq.ParquetFile(f).metadata.num_rows,
        reverse=True,
    )
    assert len(files) == 3
    for i, f in enumerate(files):
        os.utime(f, (1_000_000 + i * 1000, 1_000_000 + i * 1000))

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    agg = streaming_session_agg(stream, "ts", "5 minutes", "10 minutes", ["user"])
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r["user"], r["s_start_us"]): (r["s_end_us"], r["n"])
        for r in spark.sql("SELECT * FROM sess_sink").collect()
    }
    us = 1_000_000
    s0 = base * us
    # session 1: [0, minute 4 + 5m gap), 3 events fused
    assert rows[("u", s0)] == (s0 + 9 * 60 * us, 3)
    # session 2: [minute 20, minute 25), 1 event
    assert rows[("u", s0 + 20 * 60 * us)] == (s0 + 25 * 60 * us, 1)
    # the advancer's own session is still open -> not emitted
    assert not any(u == "w" for (u, _s) in rows)
