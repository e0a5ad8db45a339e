"""Replay driver — binlog/WAL tail → lake upsert, exactly-once, resumable.

The batch loop the reference runs by hand (stage → generate SQL → psql in
order, README.md:29-42) becomes a driver that replays micro-batches of the
change log into a SnapshotTable with two-level idempotence:

1. the checkpoint log of applied batch ids (fast skip on resume);
2. the lake's committed ``batch-id`` snapshot summaries (correct skip even
   when the crash landed between lake commit and checkpoint write).

Kill/resume is therefore safe at *any* point; tests inject failures on both
sides of the commit boundary.

Also the Structured Streaming adapter: ``stream_into_table`` runs the same
merge via ``foreachBatch``, giving exactly-once with Spark's own streaming
checkpoint for offset tracking plus ours for apply tracking.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable, Iterable

from pyspark.sql import DataFrame

from ..lake.parquet_snapshot import CommitConflictError, SnapshotTable
from .checkpoint import Checkpoint
from .metrics import LineageLog, batch_record, partition_lineage


class InjectedFailure(RuntimeError):
    """Raised by tests to simulate a mid-replay crash."""


def _merge_with_retry(table: SnapshotTable, df: DataFrame, bid: str, attempts: int = 3,
                      mode: str | None = None):
    """Apply one batch, retrying on optimistic-concurrency conflicts.

    A CommitConflictError means another writer claimed our snapshot version
    first; the merge is simply redone against the new head — safe because
    application is idempotent on batch id (if the *other* writer applied
    this very batch, the redo is a no-op skip). The returned stats record
    how many attempts the merge took. ``mode`` overrides the table's
    merge mode (None keeps it)."""
    for attempt in range(1, attempts + 1):
        try:
            stats = table.merge(df, batch_id=bid, mode=mode)
        except CommitConflictError:
            if attempt == attempts:
                raise
        else:
            stats.attempts = attempt
            return stats


def _split_dead_letters(table: SnapshotTable, df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid, malformed) halves of a batch under ``table``'s key, ordering
    and op columns (operators/quarantine.py)."""
    from ..operators.quarantine import split_quarantine

    return split_quarantine(df, table.key_cols, table.order_cols, table.op_col)


def _apply_batch(table: SnapshotTable, df: DataFrame, bid: str,
                 quarantine_table: SnapshotTable | None = None,
                 bad: DataFrame | None = None):
    """Merge a batch's malformed half into ``quarantine_table`` under
    ``q-<bid>``, then the batch into ``table`` under ``bid``. Quarantine
    first: an applied main batch always has its dead letters landed, and
    both merges are idempotent on their batch ids, so every crash window
    resumes cleanly. Dead letters land as merge-on-read deltas: one Spark
    job whose write is O(this batch's dead letters), where a copy-on-write
    merge would rewrite every touched quarantine bucket — O(all dead
    letters ever) per batch. Reads resolve LWW, so a repeated raw message
    still reads as one row, and the quarantine table compacts like any
    MOR table."""
    if bad is not None:
        from ..operators.quarantine import as_quarantine_rows

        _merge_with_retry(
            quarantine_table, as_quarantine_rows(bad, quarantine_table, bid), f"q-{bid}",
            mode="mor",
        )
    return _merge_with_retry(table, df, bid)


@dataclass
class ReplayResult:
    applied: list[str] = field(default_factory=list)
    skipped: list[str] = field(default_factory=list)
    events: int = 0
    wall_sec: float = 0.0
    stats: list = field(default_factory=list)  # MergeStats per applied batch

    @property
    def events_per_sec(self) -> float:
        return self.events / self.wall_sec if self.wall_sec else 0.0


def replay(
    table: SnapshotTable,
    checkpoint: Checkpoint,
    batch_provider: Callable[[int], DataFrame],
    batch_ids: Iterable[int],
    lineage: LineageLog | None = None,
    fail_before_merge: int | None = None,
    fail_before_checkpoint: int | None = None,
    quarantine_table: SnapshotTable | None = None,
    txn_col: str | None = None,
    txn_end_col: str | None = None,
    txn_flush: bool = False,
) -> ReplayResult:
    """Apply each batch exactly once, resumable from the checkpoint.

    Per batch, in order: quarantine split, txn split of the valid half,
    dead-letter merge, main merge, partition lineage, checkpoint record.

    ``fail_before_merge=k`` / ``fail_before_checkpoint=k`` inject a crash
    for kill/resume tests — before the lake commit of batch k, or after the
    lake commit but before the checkpoint record (the dangerous window).

    ``quarantine_table``: dead-letter sink for malformed events (NULL key,
    NULL ordering column, unknown op — operators/quarantine.py). When set,
    every batch is split BEFORE anything else sees it: the valid half
    drives the main merge (so affected-bucket sets and rows_in never count
    diverted rows), the malformed half is merged into ``quarantine_table``
    under batch id ``q-<bid>`` BEFORE the main merge (``_apply_batch``),
    as a merge-on-read delta append: one Spark job sized by the batch's
    dead letters, a no-file commit that only records the id on a healthy
    stream.

    ``txn_col``: transaction-boundary-consistent application (CDC
    atomicity — operators/txn.py). Each batch unions the previous batch's
    DEFERRED carryover, splits by transaction completeness (ordering rule,
    or end markers via ``txn_end_col``), merges only whole transactions,
    and persists the new carryover as parquet under
    ``<checkpoint>.pending/<bid>`` BEFORE the merge — so kill/resume at
    any point reconstructs the carryover from disk (the split is
    deterministic, a reprocessed batch rewrites byte-identical halves)
    and no intermediate snapshot ever exposes a partial source
    transaction. ``txn_flush=True`` applies the final carryover after the
    last batch under a deterministic ``txnflush-<bid>`` id (finite-replay
    convenience; a live tail leaves it pending).
    """
    import os
    import shutil

    res = ReplayResult()
    t_start = time.time()
    applied_order = checkpoint.load()["applied"]
    applied_ckpt = set(applied_order)
    pending_root = checkpoint.path + ".pending" if txn_col is not None else None
    prev_pending_bid: str | None = None

    def record(bid: str, stats, part_lineage: list, t0: float) -> None:
        """Lineage, checkpoint and result bookkeeping of one merged batch."""
        rec = batch_record(bid, stats.as_dict(), part_lineage, t0)
        if lineage is not None:
            lineage.append(rec)
        checkpoint.record(bid, stats.snapshot_version, rec)
        if stats.applied:
            res.applied.append(bid)
            res.events += stats.rows_in
            res.stats.append(stats)
        else:
            res.skipped.append(bid)

    if pending_root is not None and os.path.isdir(pending_root):
        # resume/tail-follow: the carryover is the pending parquet of
        # the LAST APPLIED batch (a stale pending dir from a crash
        # between pending-write and checkpoint is recomputed, not
        # trusted), found even when this call's batch list does not
        # include the already-applied batches
        for a in reversed(applied_order):
            if os.path.isdir(os.path.join(pending_root, a)):
                prev_pending_bid = a
                break

    for b in batch_ids:
        bid = str(b)
        if bid in applied_ckpt:
            res.skipped.append(bid)
            if pending_root is not None and os.path.isdir(
                os.path.join(pending_root, bid)
            ):
                # an already-applied batch's persisted carryover is
                # the resume point for the next unapplied batch
                prev_pending_bid = bid
            continue
        df = batch_provider(b)
        bad = None
        if quarantine_table is not None:
            df, bad = _split_dead_letters(table, df)
        if pending_root is not None:
            from ..operators.txn import split_txn_complete

            if prev_pending_bid is not None:
                pend = df.sparkSession.read.parquet(
                    os.path.join(pending_root, prev_pending_bid)
                )
                df = pend.unionByName(df, allowMissingColumns=True)
            df, deferred = split_txn_complete(df, txn_col, txn_end_col)
            # persist the carryover BEFORE the merge: deterministic
            # split ⇒ a crash anywhere after this line resumes by
            # re-reading (or identically rewriting) this parquet. Written
            # as is: one job, no exchange (coalesce(1) would serialize
            # the batch scan)
            deferred.write.mode("overwrite").parquet(
                os.path.join(pending_root, bid)
            )
            prev_pending_bid = bid
        if fail_before_merge == b:
            raise InjectedFailure(f"before merge of batch {bid}")
        t0 = time.time()
        stats = _apply_batch(table, df, bid, quarantine_table, bad)
        if fail_before_checkpoint == b:
            raise InjectedFailure(f"after merge, before checkpoint of batch {bid}")
        record(bid, stats, partition_lineage(df) if stats.applied else [], t0)
        if pending_root is not None and os.path.isdir(pending_root):
            # this batch's carryover subsumes all earlier ones
            for d in os.listdir(pending_root):
                if d != bid:
                    shutil.rmtree(os.path.join(pending_root, d), ignore_errors=True)

    if txn_flush and prev_pending_bid is not None:
        fb = f"txnflush-{prev_pending_bid}"
        pend_path = os.path.join(pending_root, prev_pending_bid)
        if fb not in applied_ckpt and os.path.isdir(pend_path):
            t0 = time.time()
            stats = _apply_batch(table, table.spark.read.parquet(pend_path), fb)
            record(fb, stats, [], t0)
    res.wall_sec = time.time() - t_start
    return res


def stream_into_table(
    stream_df: DataFrame,
    table: SnapshotTable,
    checkpoint: Checkpoint,
    spark_checkpoint_dir: str,
    trigger_once: bool = True,
    quarantine_table: SnapshotTable | None = None,
    auto_compact_delta_files: int | None = None,
):
    """Structured Streaming sink: micro-batches merge into the lake table.

    Uses ``foreachBatch`` — the canonical pattern for custom exactly-once
    sinks: Spark's streaming checkpoint guarantees each epoch is delivered
    at-least-once, and the lake's batch-id idempotence upgrades that to
    exactly-once application. ``quarantine_table`` mirrors ``replay``'s
    dead-letter diversion per epoch (malformed half merged exactly-once
    under ``q-epoch-<id>`` BEFORE the main merge).

    ``auto_compact_delta_files=K``: the high-cadence MOR pattern. Open the
    table with ``merge_mode="mor"`` so each epoch appends O(epoch) delta
    bytes instead of rewriting touched buckets, and after each epoch's
    merge fold only the buckets whose delta debt reached K files
    (``compact(expire_tombstones=False, max_delta_files_per_bucket=K)``) —
    one bucket rewrite amortized over K cheap appends, read-side resolution
    bounded at K delta files per bucket. Compaction is a maintenance commit
    (no batch id): a crash between merge and compact just leaves debt for
    the next epoch's fold, and tombstone expiry stays an explicit operator
    decision (it needs a correctness watermark, not a cadence policy).
    The same policy folds ``quarantine_table``, whose dead letters land as
    MOR deltas whatever the main table's mode.
    """

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        bad = None
        if quarantine_table is not None:
            batch_df, bad = _split_dead_letters(table, batch_df)
        stats = _apply_batch(table, batch_df, f"epoch-{epoch_id}", quarantine_table, bad)
        checkpoint.record(f"epoch-{epoch_id}", stats.snapshot_version, stats.as_dict())
        if auto_compact_delta_files is not None:
            # dead letters land as MOR deltas too (_apply_batch)
            for t in (table, quarantine_table):
                if t is not None:
                    t.compact(
                        expire_tombstones=False,
                        max_delta_files_per_bucket=auto_compact_delta_files,
                    )

    writer = (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", spark_checkpoint_dir)
        .outputMode("update")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
