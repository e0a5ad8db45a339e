"""Replay driver: exactly-once, kill/resume on both sides of the commit boundary."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from arches_rascoll_etl_spark import oracle
from arches_rascoll_etl_spark.lake.parquet_snapshot import CommitConflictError, SnapshotTable
from arches_rascoll_etl_spark.streaming.checkpoint import Checkpoint
from arches_rascoll_etl_spark.streaming.metrics import LineageLog
from arches_rascoll_etl_spark.streaming.pipeline import InjectedFailure, replay
from arches_rascoll_etl_spark.synth import ChangeLogConfig, batch_events, change_log

CFG = ChangeLogConfig(n_events=3_000, n_repos=8, paths_per_repo=80, n_batches=6, schema_add_batch=3)


def _setup(spark, tmp_path):
    tbl = SnapshotTable(spark, str(tmp_path / "tbl"), n_buckets=8)
    ckpt = Checkpoint(str(tmp_path / "ckpt" / "manifest.json"))
    lin = LineageLog(str(tmp_path / "ckpt" / "lineage.jsonl"))
    provider = lambda b: batch_events(spark, CFG, b)  # noqa: E731
    return tbl, ckpt, lin, provider


def _state_set(df):
    return {
        tuple(r)
        for r in df.select("repo", "path", "commit", "lang", F.sha2("content", 256)).collect()
    }


def _oracle(spark):
    return oracle.final_rows([r.asDict() for r in change_log(spark, CFG).collect()])


def test_full_replay_matches_oracle_and_lineage(spark, tmp_path):
    tbl, ckpt, lin, provider = _setup(spark, tmp_path)
    res = replay(tbl, ckpt, provider, range(CFG.n_batches), lineage=lin)
    assert len(res.applied) == CFG.n_batches
    assert res.events == CFG.n_events
    assert _state_set(tbl.read()) == _oracle(spark)
    recs = lin.records()
    assert len(recs) == CFG.n_batches
    for r in recs:
        assert r["merge"]["applied"]
        assert sum(p["rows"] for p in r["partitions"]) == r["merge"]["rows_in"]
        assert r["events_per_sec"] > 0


@pytest.mark.parametrize("mode", ["before_merge", "before_checkpoint"])
def test_kill_resume(spark, tmp_path, mode):
    tbl, ckpt, lin, provider = _setup(spark, tmp_path)
    kw = {f"fail_{mode}": 3}
    with pytest.raises(InjectedFailure):
        replay(tbl, ckpt, provider, range(CFG.n_batches), lineage=lin, **kw)
    # resume from checkpoint: final state identical, no batch applied twice
    res = replay(tbl, ckpt, provider, range(CFG.n_batches), lineage=lin)
    assert _state_set(tbl.read()) == _oracle(spark)
    snaps = tbl.snapshots()
    bids = [s["summary"].get("batch-id") for s in snaps]
    assert len(bids) == len(set(bids)) == CFG.n_batches  # each batch exactly one snapshot
    if mode == "before_checkpoint":
        # batch 3 was lake-committed pre-crash; resume must skip via lake idempotence
        assert "3" in res.skipped or "3" not in res.applied


def test_double_replay_is_noop(spark, tmp_path):
    tbl, ckpt, _, provider = _setup(spark, tmp_path)
    replay(tbl, ckpt, provider, range(CFG.n_batches))
    v = tbl.current_version()
    res2 = replay(tbl, ckpt, provider, range(CFG.n_batches))
    assert res2.applied == [] and len(res2.skipped) == CFG.n_batches
    assert tbl.current_version() == v


class _ConflictOnceTable(SnapshotTable):
    """Loses its first merge to a concurrent commit, as a second writer
    claiming the same snapshot version would make it."""

    conflicts = 1

    def merge(self, batch, batch_id, **kw):
        if self.conflicts:
            self.conflicts -= 1
            raise CommitConflictError(f"simulated conflict on batch {batch_id}")
        return super().merge(batch, batch_id, **kw)


def test_merge_conflict_retry_is_recorded(spark, tmp_path):
    tbl = _ConflictOnceTable(spark, str(tmp_path / "tbl"), n_buckets=8)
    ckpt = Checkpoint(str(tmp_path / "ckpt" / "manifest.json"))
    lin = LineageLog(str(tmp_path / "ckpt" / "lineage.jsonl"))
    res = replay(tbl, ckpt, lambda b: batch_events(spark, CFG, b), [0, 1], lineage=lin)
    assert res.applied == ["0", "1"]
    assert [s.attempts for s in res.stats] == [2, 1]
    assert [r["merge"]["attempts"] for r in lin.records()] == [2, 1]
    assert ckpt.load()["batches"]["0"]["merge"]["attempts"] == 2
    bids = [s["summary"].get("batch-id") for s in tbl.snapshots()]
    assert bids == ["0", "1"]  # the retried batch committed exactly once


def test_checkpoint_appends_and_reads_legacy_and_torn_files(tmp_path):
    """The checkpoint is an append-only log: a record appends one line and
    leaves earlier bytes alone. A single-object checkpoint of the earlier
    format still loads, and a line torn by a crash mid-append is skipped
    (the lake's batch-id ledger covers that batch)."""
    path = tmp_path / "ckpt.json"
    path.write_text(json.dumps(
        {"applied": ["0", "1"], "last_snapshot": 1, "batches": {"0": {"a": 1}, "1": {}}}
    ))
    ckpt = Checkpoint(str(path))
    assert ckpt.applied_batch_ids() == {"0", "1"}
    ckpt.record("2", 2, {"b": 2})
    assert ckpt.load() == {
        "applied": ["0", "1", "2"], "last_snapshot": 2,
        "batches": {"0": {"a": 1}, "1": {}, "2": {"b": 2}},
    }

    with open(path, "a") as f:
        f.write('{"batch": "3", "snaps')  # torn by a crash
    assert ckpt.load()["applied"] == ["0", "1", "2"]
    before = path.read_bytes()
    ckpt.record("3", 3)
    assert path.read_bytes().startswith(before)
    ckpt.record("2", 4, {"c": 3})  # a re-record keeps the first position
    assert ckpt.load() == {
        "applied": ["0", "1", "2", "3"], "last_snapshot": 4,
        "batches": {"0": {"a": 1}, "1": {}, "2": {"c": 3}, "3": {}},
    }
