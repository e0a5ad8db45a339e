"""Per-partition lineage + throughput metrics.

Generalizes the reference's CSV-snapshot habit ("saved externally as CSV
files to facilitate debugging and replication", README.md:9) into structured
per-batch lineage: for every applied batch we record per-input-partition row
counts and byte sizes plus merge-level stats (rows in, upserts, deletes,
buckets rewritten, wall ms, events/sec), appended to a JSONL lineage log
next to the checkpoint.

The per-partition pass is a single narrow aggregation
(``groupBy(spark_partition_id())``) — no extra shuffle of the data itself.
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def partition_lineage(df: DataFrame, content_col: str | None = "content") -> list[dict[str, Any]]:
    """Rows + approximate bytes per input partition of a batch."""
    aggs = [F.count("*").alias("rows")]
    if content_col and content_col in df.columns:
        aggs.append(F.sum(F.length(content_col)).alias("content_bytes"))
    # a few dozen rows: sort on the driver, not with a distributed orderBy
    rows = df.groupBy(F.spark_partition_id().alias("partition_id")).agg(*aggs).collect()
    return sorted((r.asDict() for r in rows), key=lambda d: d["partition_id"])


class LineageLog:
    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def append(self, record: dict[str, Any]) -> None:
        with open(self.path, "a") as f:
            f.write(json.dumps(record) + "\n")

    def records(self) -> list[dict[str, Any]]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            return [json.loads(line) for line in f if line.strip()]


def batch_record(batch_id: str, merge_stats: dict, lineage: list[dict], t0: float) -> dict[str, Any]:
    wall = time.time() - t0
    rows = merge_stats.get("rows_in", 0)
    return {
        "batch_id": batch_id,
        "merge": merge_stats,
        "partitions": lineage,
        "wall_sec": round(wall, 4),
        "events_per_sec": round(rows / wall, 2) if wall > 0 else None,
    }
