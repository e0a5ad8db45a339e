#!/usr/bin/env python
"""Benchmark harness: the 13-query headline plus one replay pair.

Headline — each ``HEADLINE`` query over the test data at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 set) on local[$SPARK_GRAFT_CPUS] (default: nproc), run
once to warm codegen and the scan cache, then timed; execution is forced with
the noop sink (no driver collect).

Replay pair — one 1M-event synthetic change log replayed by
``python -m arches_rascoll_etl_spark.replay_bench`` in two fresh JVMs, at
local[max(1, CPUS // 4)] and local[CPUS], over identical input files. The
pair is unpinned: it reports what this host grants, not a cluster scaling
proof.

Prints ONE JSON line:
  {"metric": "headline_total", "value": <sec>, "unit": "sec",
   "queries": {...}, "sf": ..., "replay_pair": {...}, "host": {...}}
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.abspath(__file__))

NPROC = len(os.sched_getaffinity(0))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or NPROC)
PAIR_EVENTS = 1_000_000
RUN_TIMEOUT_S = 1800

HEADLINE = [
    "q01_pricing_summary",
    "q02_revenue_by_nation",
    "q04_customers_without_high_value_orders",
    "q06_lww_latest_event",
    "q07_top3_orders_per_customer",
    "q16_minted_ids",
    "q17_content_sha256",
    "q21_cdc_lww_replay",
    "q22_exact_dedup",
    "q27_minhash_signatures",
    "q28_minhash_lsh_pairs",
    "q32_cosine_topk",
    "q33_simhash_fingerprints",
]


def run_headline(spark) -> dict[str, float]:
    from arches_rascoll_etl_spark import queries as Q

    qs = Q.all_queries()
    times: dict[str, float] = {}
    for name in HEADLINE:
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()  # warm
        t0 = time.time()
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        times[name] = round(time.time() - t0, 3)
    return times


def gen_change_log(spark, path: str) -> None:
    from pyspark.sql import functions as F

    from arches_rascoll_etl_spark.synth import ChangeLogConfig, change_log

    cfg = ChangeLogConfig(
        n_events=PAIR_EVENTS, n_repos=200, paths_per_repo=5000,
        hot_fraction=0.3, n_batches=4, schema_add_batch=2,
    )
    (
        change_log(spark, cfg)
        .repartition(max(CPUS, 16), F.col("repo"), F.col("path"))
        .write.partitionBy("batch_id")
        .mode("overwrite")
        .parquet(path)
    )


def run_replay(cores: int, events: str, tmp: str) -> dict:
    out = os.path.join(tmp, f"replay_{cores}.json")
    proc = subprocess.run(
        [sys.executable, "-m", "arches_rascoll_etl_spark.replay_bench",
         "--cores", str(cores), "--events", events,
         "--workdir", os.path.join(tmp, f"wh_{cores}"), "--out", out],
        cwd=ROOT, capture_output=True, text=True, timeout=RUN_TIMEOUT_S,
    )
    if proc.returncode:
        sys.exit(f"replay at local[{cores}] failed:\n{proc.stderr[-2000:]}")
    with open(out) as f:
        return json.load(f)


def _sf_label(path: str) -> float | str:
    base = os.path.basename(path.rstrip("/"))
    return float(base[2:]) if base.startswith("sf") else base


def host_stamp() -> dict:
    from arches_rascoll_etl_spark.session import mem_total_kib

    sha = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                         capture_output=True, text=True).stdout.strip()
    return {"nproc": NPROC, "mem_total_kib": mem_total_kib(), "git_sha": sha or None}


def main() -> None:
    from arches_rascoll_etl_spark.session import get_spark

    lo, hi = max(1, CPUS // 4), CPUS
    with tempfile.TemporaryDirectory(prefix="bench_") as tmp:
        events = os.path.join(tmp, "events")
        spark = get_spark(app_name="bench", cores=CPUS, shuffle_partitions=max(CPUS, 16))
        spark.sparkContext.setLogLevel("ERROR")
        times = run_headline(spark)
        gen_change_log(spark, events)
        spark.stop()
        r_lo, r_hi = run_replay(lo, events, tmp), run_replay(hi, events, tmp)
    speedup = r_hi["events_per_sec"] / r_lo["events_per_sec"]
    print(json.dumps({
        "metric": "headline_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": _sf_label(SF_DIR),
        "replay_pair": {
            "events": r_lo["events"],
            "lo_cores": lo,
            "hi_cores": hi,
            "lo_events_per_sec": r_lo["events_per_sec"],
            "hi_events_per_sec": r_hi["events_per_sec"],
            "speedup": round(speedup, 3),
            "efficiency_raw": round(speedup / (hi / lo), 3),
        },
        "host": host_stamp(),
    }))


if __name__ == "__main__":
    main()
