"""Physical-plan regression tests: the plans we designed for, not just the
results. Catches silent regressions in broadcast selection, filter/column
pushdown, and the merge path's exchange count."""

from __future__ import annotations

from pyspark.sql import functions as F

from arches_rascoll_etl_spark import queries as Q
from arches_rascoll_etl_spark.lake.parquet_snapshot import _BUCKET, SnapshotTable
from arches_rascoll_etl_spark.operators.lww import lww_latest
from arches_rascoll_etl_spark.synth import ChangeLogConfig, batch_events

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dim_joins_broadcast(spark):
    """q02 hints only `nation` (25 rows at every SF). `customer` carries no
    hint — at test SF Catalyst/AQE still size-picks BHJ for it, but at 100×
    scale the same plan degrades gracefully to shuffle join instead of
    pinning a fact-scaled build side into every executor."""
    plan = _plan(Q.all_queries()["q02_revenue_by_nation"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filter_pushdown_reaches_scan(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet").where(
        F.col("event_type") == "purchase"
    ).select("event_id", "user_id")
    plan = _plan(ev)
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)]" in plan


def test_column_pruning_reaches_scan(spark):
    df = spark.read.parquet(f"{SF}/orders.parquet").select("o_orderkey", "o_totalprice")
    plan = _plan(df)
    assert "ReadSchema: struct<o_orderkey:" in plan
    # untouched wide columns must not be read
    assert "o_comment" not in plan.split("ReadSchema:")[1]


def test_merge_apply_stage_has_one_exchange_total(spark, tmp_path):
    """The whole apply stage (union raw batch with target → LWW →
    bucketed write) is ONE exchange: with shuffle partitions pinned to
    n_buckets, the LWW aggregation's own HashPartitioning(key_cols,
    n_buckets) IS the bucket function, so the write reuses it. The partial
    (map-side) aggregation phase must also be present — it is the hot-key
    combine. A regression here adds a shuffle or loses skew safety."""
    cfg = ChangeLogConfig(n_events=800, n_repos=4, paths_per_repo=20, n_batches=2)
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8)
    tbl.merge(batch_events(spark, cfg, 0), batch_id="b0")

    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    old_coal = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(tbl.n_buckets))
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        batch = batch_events(spark, cfg, 1)
        target = tbl._read_stored().withColumn("op", F.coalesce("op", F.lit("U")))
        unioned = batch.unionByName(target, allowMissingColumns=True)
        merged = lww_latest(unioned, tbl.key_cols, tbl.order_cols)
        stored = merged.withColumn(_BUCKET, tbl._bucket_col(merged))
        plan = _plan(stored)
        assert plan.count("Exchange") == 1, plan
        assert "partial_max" in plan, plan  # map-side combine present
        # partition id == bucket id, row by row
        rows = (
            stored.withColumn("_pid", F.spark_partition_id())
            .select(_BUCKET, "_pid")
            .collect()
        )
        assert rows and all(r[_BUCKET] == r["_pid"] for r in rows)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", old_coal)


def test_point_in_time_join_is_one_exchange_no_range_join(spark):
    """The SCD2 point-in-time join must plan as union + ONE window exchange
    on the join keys — never a BroadcastNestedLoopJoin/cartesian range
    join (the hot-key blowup it exists to avoid)."""
    from arches_rascoll_etl_spark.operators.temporal import point_in_time_join

    hist = spark.createDataFrame(
        [("a", "v1", 1, 5)],
        "k string, content string, valid_from_seq long, valid_to_seq long",
    )
    facts = spark.createDataFrame([(1, "a", 3)], "fact_id long, k string, at_seq long")
    plan = _plan(
        point_in_time_join(facts, hist, on=["k"], seq_col="at_seq",
                           right_cols=["content"])
    )
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    # createDataFrame parallelizes without a shuffle; the window adds the
    # one exchange (hash on the join key)
    assert plan.count("Exchange") == 1, plan
    assert "Window" in plan


def test_deterministic_shuffle_no_single_partition_sort(spark):
    """The corpus shuffle must never collapse to a global one-task sort on
    the DATA path: the row_number window is partitioned by the range-
    partition id (never an empty/global partition spec), and the offsets
    side — the only place a SinglePartition exchange is acceptable,
    because it holds n_partitions rows, not data — joins back as a
    broadcast."""
    from arches_rascoll_etl_spark.functions.curation import deterministic_shuffle

    df = spark.range(1000).select(F.col("id").alias("k"))
    # persist="none" so the raw (un-pinned) pipeline's plan is inspectable;
    # the default local_checkpoint truncates lineage at the range exchange
    plan = _plan(
        deterministic_shuffle(df, "k", seed="s", n_partitions=4, persist="none")
    )
    assert "rangepartitioning" in plan.lower(), plan
    # the data-path row_number window is keyed by the partition id
    assert "row_number() windowspecdefinition(_ds_pid" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # the single-partition exchange exists only under the tiny counts agg
    single = [seg for seg in plan.splitlines() if "SinglePartition" in seg]
    assert len(single) <= 1, plan


def test_mor_merge_apply_has_one_exchange(spark, tmp_path, spark_jobs):
    """A MOR merge runs ONE query: batch scan → repartition by key (the
    only exchange) → LWW → sort by bucket and key → bucketed write. Its
    physical plan is read back from the SQL status store, as executed."""
    cfg = ChangeLogConfig(n_events=800, n_repos=4, paths_per_repo=20, n_batches=2)
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=8)
    tbl.merge(batch_events(spark, cfg, 0), batch_id="b0")
    _, jobs = spark_jobs(
        lambda: tbl.merge(batch_events(spark, cfg, 1), batch_id="b1", mode="mor")
    )
    assert len(jobs) == 1
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    plans = [
        e.physicalPlanDescription().split("\n\n")[0]
        for e in (execs.apply(i) for i in range(execs.size()))
        if e.jobs().contains(jobs[0])
    ]
    assert len(plans) == 1 and "InsertIntoHadoopFsRelationCommand" in plans[0], plans
    assert plans[0].count("Exchange") == 1, plans[0]
