"""CDC replay throughput — one parallelism level per process.

Replays a pre-generated change-log parquet (partitioned by batch_id) into a
fresh SnapshotTable with the engine's default replay configuration and
writes events/sec plus the per-batch phase profile as JSON. This is the
spark-submit entry (tools/replay_submit_main.py delegates here) and one side
of bench.py's local[N] vs local[4N] pair.

Usage: python -m arches_rascoll_etl_spark.replay_bench \
         --cores 8 --events /path/events_parquet --workdir /tmp/x --out r.json
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--events", required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--n-batches", type=int, default=4)
    ap.add_argument("--n-buckets", type=int, default=64)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from .lake.parquet_snapshot import SnapshotTable
    from .session import get_spark
    from .streaming.checkpoint import Checkpoint
    from .streaming.pipeline import replay

    spark = get_spark(
        app_name=f"replay-bench-{args.cores}",
        cores=args.cores,
        shuffle_partitions=max(args.cores * 2, 16),
    )
    spark.sparkContext.setLogLevel("ERROR")

    events = spark.read.parquet(args.events)
    n_events = events.count()

    shutil.rmtree(args.workdir, ignore_errors=True)
    tbl = SnapshotTable(spark, os.path.join(args.workdir, "tbl"), n_buckets=args.n_buckets)
    ckpt = Checkpoint(os.path.join(args.workdir, "ckpt.json"))

    def provider(b: int):
        # partition pruning on batch_id=<b>; normalize stage: content sha +
        # deterministic row id
        return (
            events.where(F.col("batch_id") == b)
            .withColumn("content_sha", F.sha2(F.col("content"), 256))
            .withColumn("row_key", F.sha2(F.concat_ws("|", "repo", "path"), 256))
        )

    # Untimed warm-up: one small merge per plan shape (before and after the
    # log's schema change) into a throwaway table, so the timed replay
    # measures steady-state ingest, not codegen and first-use init.
    warm_dir = os.path.join(args.workdir, "warm_tbl")
    warm = SnapshotTable(spark, warm_dir, n_buckets=args.n_buckets)
    for b in (0, args.n_batches - 1):
        warm.merge(provider(b).limit(512), batch_id=f"warm-{b}")
    shutil.rmtree(warm_dir, ignore_errors=True)

    t0 = time.time()
    res = replay(tbl, ckpt, provider, range(args.n_batches))
    wall = time.time() - t0

    out = {
        "cores": args.cores,
        "events": n_events,
        "batches": args.n_batches,
        "wall_sec": round(wall, 3),
        "events_per_sec": round(n_events / wall, 1),
        "final_rows": tbl.read().count(),
        "snapshots": len(tbl.snapshots()),
        # per-batch phase profile (stats job / fused apply / manifest commit)
        "batch_phase_ms": [s.phase_ms for s in res.stats],
    }
    with open(args.out, "w") as f:
        json.dump(out, f)
    spark.stop()


def task_skew_metrics(spark, top_n: int = 3) -> list[dict]:
    """Per-task duration skew for the ``top_n`` heaviest completed stages
    (by executorRunTime), via the status REST API's taskSummary quantiles.

    ``max_over_median`` is THE straggler metric: a hot key that defeats
    the map-side combine / salting / AQE skew handling shows up as one
    task holding the stage hostage (ratio >> 1 on the reduce stage). The
    session must run with ``spark.ui.enabled=true``."""
    import urllib.request

    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    try:
        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/stages?status=complete",
            timeout=10,
        ) as r:
            stages = json.load(r)
    except Exception as e:  # noqa: BLE001
        return [{"error": repr(e)[:200]}]
    stages.sort(key=lambda s: -(s.get("executorRunTime") or 0))
    out = []
    for s in stages[:top_n]:
        sid, att = s["stageId"], s["attemptId"]
        try:
            with urllib.request.urlopen(
                f"{ui}/api/v1/applications/{app_id}/stages/{sid}/{att}/"
                "taskSummary?quantiles=0.0,0.5,1.0",
                timeout=10,
            ) as r:
                q = json.load(r)
        except Exception as e:  # noqa: BLE001
            out.append({"stageId": sid, "error": repr(e)[:200]})
            continue
        dur = q.get("duration") or []
        if len(dur) == 3:
            d_min, d_med, d_max = dur
            out.append({
                "stageId": sid,
                "name": (s.get("name") or "")[:80],
                "numTasks": s.get("numTasks"),
                "task_ms_min": round(d_min, 1),
                "task_ms_median": round(d_med, 1),
                "task_ms_max": round(d_max, 1),
                "max_over_median": round(d_max / max(d_med, 1.0), 2),
            })
    return out


if __name__ == "__main__":
    main()
