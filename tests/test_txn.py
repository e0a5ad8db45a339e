"""Transaction-boundary-consistent replay (operators/txn.py + pipeline).

The invariant under test: with txn_col set, NO intermediate table
snapshot ever contains a partial source transaction — a batch cut
mid-transaction defers the tail to the next batch; kill/resume
reconstructs the carryover from the persisted pending parquet.
"""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from arches_rascoll_etl_spark.lake.parquet_snapshot import SnapshotTable
from arches_rascoll_etl_spark.operators.txn import split_txn_complete
from arches_rascoll_etl_spark.streaming.checkpoint import Checkpoint
from arches_rascoll_etl_spark.streaming.pipeline import InjectedFailure, replay
from arches_rascoll_etl_spark.synth import ChangeLogConfig, batch_events, change_log

SCHEMA = (
    "repo string, path string, commit_seq long, commit string, op string,"
    " content string, txid long, tx_end boolean"
)

# 3 batches cutting transactions 100/200/300 mid-flight:
#   batch 0: txn 100 complete, txn 200 half done
#   batch 1: txn 200 finishes, txn 300 starts
#   batch 2: txn 300 finishes, txn 400 starts (never completes)
BATCHES = [
    [
        ("r", "a.py", 1, "c1", "U", "x1", 100, False),
        ("r", "b.py", 2, "c2", "U", "x2", 100, True),
        ("r", "c.py", 3, "c3", "U", "x3", 200, False),
    ],
    [
        ("r", "d.py", 4, "c4", "U", "x4", 200, True),
        ("r", "a.py", 5, "c5", "U", "x5", 300, False),
        ("r", "hb.py", 6, "c6", "U", "hb", None, False),  # non-transactional
    ],
    [
        ("r", "b.py", 7, "c7", "D", "", 300, True),
        ("r", "e.py", 8, "c8", "U", "x8", 400, False),
    ],
]


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _keys(df):
    return {(r["repo"], r["path"], r["commit"]) for r in df.collect()}


def test_split_ordering_rule(spark):
    batch = _df(spark, BATCHES[0])
    app, dfr = split_txn_complete(batch, "txid")
    assert {r["txid"] for r in app.collect()} == {100}
    assert {r["txid"] for r in dfr.collect()} == {200}
    # null txids always apply; all-one-txn batches defer everything
    app, dfr = split_txn_complete(_df(spark, BATCHES[1]), "txid")
    assert {r["txid"] for r in app.collect()} == {200, None}
    assert {r["txid"] for r in dfr.collect()} == {300}


def test_split_end_marker_rule(spark):
    batch = _df(spark, BATCHES[0])
    app, dfr = split_txn_complete(batch, "txid", end_col="tx_end")
    assert {r["txid"] for r in app.collect()} == {100}
    assert {r["txid"] for r in dfr.collect()} == {200}
    # marker rule applies a txn ONLY once its end arrived, even if a
    # later txid is present (interleaving-safe)
    mixed = _df(spark, [
        ("r", "x.py", 1, "c1", "U", "x", 10, False),
        ("r", "y.py", 2, "c2", "U", "y", 11, True),
        ("r", "z.py", 3, "c3", "U", "z", None, False),
    ])
    app, dfr = split_txn_complete(mixed, "txid", end_col="tx_end")
    assert {r["txid"] for r in app.collect()} == {11, None}
    assert {r["txid"] for r in dfr.collect()} == {10}


@pytest.mark.parametrize("end_col", [None, "tx_end"])
def test_replay_never_exposes_partial_txn(spark, tmp_path, end_col):
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4)
    ckpt = Checkpoint(str(tmp_path / "ckpt.json"))
    provider = lambda b: _df(spark, BATCHES[b])  # noqa: E731

    # batch 0: only txn 100 visible (200 cut mid-flight)
    replay(tbl, ckpt, provider, [0], txn_col="txid", txn_end_col=end_col)
    assert _keys(tbl.read()) == {("r", "a.py", "c1"), ("r", "b.py", "c2")}
    # batch 1: 200 completes and applies; 300 deferred; heartbeat applies
    replay(tbl, ckpt, provider, [1], txn_col="txid", txn_end_col=end_col)
    assert _keys(tbl.read()) == {
        ("r", "a.py", "c1"), ("r", "b.py", "c2"),
        ("r", "c.py", "c3"), ("r", "d.py", "c4"), ("r", "hb.py", "c6"),
    }
    # batch 2: 300 applies (updates a.py, deletes b.py); 400 stays pending
    replay(tbl, ckpt, provider, [2], txn_col="txid", txn_end_col=end_col)
    final = {
        ("r", "a.py", "c5"), ("r", "c.py", "c3"),
        ("r", "d.py", "c4"), ("r", "hb.py", "c6"),
    }
    assert _keys(tbl.read()) == final
    # flush applies the trailing incomplete txn on demand (finite replay)
    res = replay(tbl, ckpt, provider, [0, 1, 2],
                 txn_col="txid", txn_end_col=end_col, txn_flush=True)
    assert any(b.startswith("txnflush-") for b in res.applied)
    assert _keys(tbl.read()) == final | {("r", "e.py", "c8")}
    # flush is idempotent on resume
    res2 = replay(tbl, ckpt, provider, [0, 1, 2],
                  txn_col="txid", txn_end_col=end_col, txn_flush=True)
    assert res2.applied == []


def test_txn_flush_off_main_thread(spark, tmp_path):
    """txn_flush applies the final carryover when replay runs on a fresh
    worker thread with every batch already applied: that thread runs no
    Spark call before the flush, so its thread-local active session is
    unset."""
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4)
    ckpt = Checkpoint(str(tmp_path / "ckpt.json"))
    provider = lambda b: _df(spark, BATCHES[b])  # noqa: E731
    replay(tbl, ckpt, provider, [0, 1, 2], txn_col="txid")
    assert ("r", "e.py", "c8") not in _keys(tbl.read())
    out = {}

    def run():
        try:
            out["res"] = replay(tbl, ckpt, provider, [0, 1, 2],
                                txn_col="txid", txn_flush=True)
        except Exception as e:  # noqa: BLE001 — re-raised below
            out["err"] = e

    th = threading.Thread(target=run)
    th.start()
    th.join(timeout=600)
    assert not th.is_alive()
    if "err" in out:
        raise out["err"]
    assert any(b.startswith("txnflush-") for b in out["res"].applied)
    assert ("r", "e.py", "c8") in _keys(tbl.read())


@pytest.mark.parametrize("mode", ["before_merge", "before_checkpoint"])
@pytest.mark.parametrize("k", [1, 2])
def test_txn_kill_resume(spark, tmp_path, mode, k):
    """Crash on either side of the commit of batch k, resume: final state
    identical to the uninterrupted run (carryover reconstructed from the
    persisted pending parquet)."""
    def run(root, fail=None):
        tbl = SnapshotTable(spark, str(root / "t"), n_buckets=4)
        ckpt = Checkpoint(str(root / "ckpt.json"))
        provider = lambda b: _df(spark, BATCHES[b])  # noqa: E731
        kw = {f"fail_{mode}": fail} if fail is not None else {}
        replay(tbl, ckpt, provider, [0, 1, 2], txn_col="txid", **kw)
        return tbl, ckpt, provider

    clean_root = tmp_path / "clean"
    clean_root.mkdir()
    clean, _, _ = run(clean_root)

    crash_root = tmp_path / "crash"
    crash_root.mkdir()
    with pytest.raises(InjectedFailure):
        run(crash_root, fail=k)
    tbl, ckpt, provider = run(crash_root)  # resume
    assert _keys(tbl.read()) == _keys(clean.read())
    # no batch applied twice: snapshot count matches the clean run
    assert len(tbl.snapshots()) == len(clean.snapshots())


def test_txn_replay_synth_log_scales(spark, tmp_path):
    """Synth change log with txids straddling batch cuts: final state
    (with flush) equals the plain non-txn replay's final state."""
    cfg = ChangeLogConfig(n_events=2_000, n_repos=6, paths_per_repo=60, n_batches=4)

    def provider(b):
        # txn size 77 deliberately does not divide the 500-event batches,
        # so every batch edge cuts a transaction
        return batch_events(spark, cfg, b).withColumn(
            "txid", F.expr("commit_seq div 77")
        )

    tbl = SnapshotTable(spark, str(tmp_path / "txn"), n_buckets=4)
    ckpt = Checkpoint(str(tmp_path / "ckpt.json"))
    res = replay(tbl, ckpt, provider, range(cfg.n_batches),
                 txn_col="txid", txn_flush=True)
    assert res.events == cfg.n_events

    plain = SnapshotTable(spark, str(tmp_path / "plain"), n_buckets=4)
    ckpt2 = Checkpoint(str(tmp_path / "ckpt2.json"))
    replay(plain, ckpt2, lambda b: batch_events(spark, cfg, b), range(cfg.n_batches))

    def state(t):
        return {
            tuple(r) for r in
            t.read().select("repo", "path", "commit", F.sha2("content", 256)).collect()
        }

    assert state(tbl) == state(plain)
