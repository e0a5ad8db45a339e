"""True concurrent multi-writer merge races on one SnapshotTable.

test_lake.py covers CAS conflict DETECTION with a hand-staged manifest;
this file races real ``merge()`` calls from concurrent threads (each with
its own table handle, sharing one SparkSession — Spark job submission is
thread-safe) and asserts the full optimistic-concurrency contract:

* exactly one manifest per version (the CAS link guarantees it; we verify
  no version was skipped and none double-committed),
* no batch lost: the batch-id ledger holds every writer's every batch,
* retry-on-conflict converges: each writer re-merges against the new head
  until its batch lands,
* the final table state equals a serial replay of the same batches
  (LWW on (key, commit_seq) is order-independent, so any interleaving
  must produce the identical final state),
* no attempt-file litter; losing writers' orphan data files are invisible
  to readers and collectable by remove_orphans.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import functions as F

from arches_rascoll_etl_spark.lake.parquet_snapshot import (
    CommitConflictError,
    SnapshotTable,
)
from arches_rascoll_etl_spark.synth import ChangeLogConfig, batch_events

N_WRITERS = 2
ROUNDS = 12  # per writer -> 24 racing merges total
CFG = ChangeLogConfig(
    n_events=4_800, n_repos=6, paths_per_repo=40, n_batches=N_WRITERS * ROUNDS
)
MAX_RETRIES = 60


def _state_set(df):
    return {
        tuple(r)
        for r in df.select(
            "repo", "path", "commit", "lang", F.sha2("content", 256)
        ).collect()
    }


def test_concurrent_multiwriter_merge_race(spark, tmp_table_dir):
    # bootstrap serially so both writers race UPDATES, not the creation
    boot = SnapshotTable(spark, tmp_table_dir, n_buckets=8)
    boot.merge(batch_events(spark, CFG, 0), batch_id="b0")

    errors: list[str] = []
    start = threading.Barrier(N_WRITERS)

    def writer(wid: int) -> None:
        try:
            handle = SnapshotTable(spark, tmp_table_dir, n_buckets=8)
            start.wait(timeout=120)
            for r in range(ROUNDS):
                b = N_WRITERS * r + wid
                if b == 0:
                    continue  # bootstrap batch already applied
                batch = batch_events(spark, CFG, b)
                for _ in range(MAX_RETRIES):
                    try:
                        handle.merge(batch, batch_id=f"b{b}")
                        break
                    except CommitConflictError:
                        continue  # head moved: redo against the new head
                else:
                    errors.append(f"writer {wid}: batch b{b} never landed")
        except Exception as e:  # noqa: BLE001 — surface to the main thread
            errors.append(f"writer {wid}: {type(e).__name__}: {e}")

    threads = [
        threading.Thread(target=writer, args=(w,), name=f"writer-{w}")
        for w in range(N_WRITERS)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=900)
    assert not any(t.is_alive() for t in threads), "writer thread hung"
    assert errors == [], errors

    tbl = SnapshotTable(spark, tmp_table_dir, n_buckets=8)

    # ledger complete: every batch id committed exactly once
    expected_ids = {f"b{b}" for b in range(N_WRITERS * ROUNDS)}
    assert tbl.committed_batch_ids() == expected_ids

    # one manifest per version, contiguous 0..head, none half-written
    head = tbl.current_version()
    mdir = os.path.join(tmp_table_dir, "manifests")
    committed = sorted(
        int(e[1:7]) for e in os.listdir(mdir)
        if e.startswith("v") and e.endswith(".json")
    )
    assert committed == list(range(head + 1))
    assert head + 1 == len(expected_ids)  # one commit per batch, no extras

    # no attempt litter from winners or losers
    assert not [e for e in os.listdir(mdir) if e.startswith("attempt-")]

    # every version's parent chain is the previous version (linear history)
    for v in range(1, head + 1):
        assert tbl._load_manifest(v)["parent_version"] == v - 1

    # final state == serial replay of the same batches into a fresh table
    serial = SnapshotTable(
        spark, str(tmp_table_dir) + "_serial", n_buckets=8
    )
    for b in range(N_WRITERS * ROUNDS):
        serial.merge(batch_events(spark, CFG, b), batch_id=f"b{b}")
    assert _state_set(tbl.read()) == _state_set(serial.read())


def test_concurrent_writers_with_idempotent_overlap(spark, tmp_table_dir):
    """Both writers replay the SAME batch list concurrently (the dual-driver
    failover scenario): batch-id idempotence + CAS must yield each batch
    applied exactly once, in some order, with the ledger complete."""
    n_batches = 8
    cfg = ChangeLogConfig(
        n_events=1_600, n_repos=4, paths_per_repo=20, n_batches=n_batches
    )
    boot = SnapshotTable(spark, tmp_table_dir, n_buckets=4)
    boot.merge(batch_events(spark, cfg, 0), batch_id="b0")

    errors: list[str] = []
    start = threading.Barrier(2)

    def replayer(wid: int) -> None:
        try:
            handle = SnapshotTable(spark, tmp_table_dir, n_buckets=4)
            start.wait(timeout=120)
            for b in range(n_batches):
                batch = batch_events(spark, cfg, b)
                for _ in range(MAX_RETRIES):
                    try:
                        handle.merge(batch, batch_id=f"b{b}")
                        break
                    except CommitConflictError:
                        continue
                else:
                    errors.append(f"replayer {wid}: b{b} never settled")
        except Exception as e:  # noqa: BLE001
            errors.append(f"replayer {wid}: {type(e).__name__}: {e}")

    threads = [threading.Thread(target=replayer, args=(w,)) for w in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=900)
    assert not any(t.is_alive() for t in threads)
    assert errors == [], errors

    tbl = SnapshotTable(spark, tmp_table_dir, n_buckets=4)
    assert tbl.committed_batch_ids() == {f"b{b}" for b in range(n_batches)}
    # each batch applied exactly once: version count == batch count
    # (duplicate replays were ledger-skipped, not committed twice)
    assert tbl.current_version() + 1 == n_batches
    serial = SnapshotTable(spark, str(tmp_table_dir) + "_serial", n_buckets=4)
    for b in range(n_batches):
        serial.merge(batch_events(spark, cfg, b), batch_id=f"b{b}")
    assert _state_set(tbl.read()) == _state_set(serial.read())


def test_concurrent_merges_leave_session_conf_untouched(spark, tmp_path):
    """merge() pins AQE off (and, for a full-width COW apply, the shuffle
    width) on the shared session for its apply job. Concurrent MOR and COW
    merges into tables of different bucket counts must each restore what
    they found, so the session reads the same conf afterwards."""
    confs = (
        "spark.sql.adaptive.enabled",
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.coalescePartitions.enabled",
    )
    before = {k: spark.conf.get(k) for k in confs}
    cfg = ChangeLogConfig(
        n_events=1_600, n_repos=4, paths_per_repo=40, n_batches=6
    )
    errors: list[str] = []
    start = threading.Barrier(2)

    def writer(path: str, n_buckets: int) -> None:
        try:
            tbl = SnapshotTable(spark, path, n_buckets=n_buckets)
            start.wait(timeout=120)
            for b in range(cfg.n_batches):
                tbl.merge(
                    batch_events(spark, cfg, b), batch_id=f"b{b}",
                    mode="cow" if b % 2 == 0 else "mor",
                )
        except Exception as e:  # noqa: BLE001
            errors.append(f"{n_buckets} buckets: {type(e).__name__}: {e}")

    threads = [
        threading.Thread(target=writer, args=(str(tmp_path / f"t{n}"), n))
        for n in (16, 4)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=900)
    assert not any(t.is_alive() for t in threads)
    assert errors == [], errors
    assert {k: spark.conf.get(k) for k in confs} == before
