"""How a SnapshotTable handle reaches its manifests: a merge lists
``manifests/`` once, and the head manifest a handle keeps never hides
another writer's commit."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from arches_rascoll_etl_spark import oracle
from arches_rascoll_etl_spark.lake.parquet_snapshot import SnapshotTable
from arches_rascoll_etl_spark.synth import ChangeLogConfig, batch_events, change_log

CFG = ChangeLogConfig(n_events=1_500, n_repos=6, paths_per_repo=60, n_batches=3)


def _state_set(df):
    return {
        tuple(r)
        for r in df.select("repo", "path", "commit", "lang", F.sha2("content", 256)).collect()
    }


def test_merge_lists_manifests_once(spark, tmp_path, monkeypatch):
    """COW, MOR and already-committed merges into an existing table each
    list the manifests directory exactly once."""
    tbl = SnapshotTable(spark, str(tmp_path / "t"), n_buckets=4)
    tbl.merge(batch_events(spark, CFG, 0), batch_id="b0")
    man_dir = os.path.normpath(os.path.join(tbl.path, "manifests"))
    listings = []
    real_listdir = os.listdir

    def counting_listdir(p="."):
        if isinstance(p, str) and os.path.normpath(p) == man_dir:
            listings.append(p)
        return real_listdir(p)

    monkeypatch.setattr(os, "listdir", counting_listdir)
    for bid, mode in (("b1", "cow"), ("b2", "mor"), ("b0", "cow")):
        listings.clear()
        st = tbl.merge(batch_events(spark, CFG, int(bid[1])), batch_id=bid, mode=mode)
        assert st.applied == (bid != "b0")
        assert len(listings) == 1, (bid, mode, len(listings))


def test_head_follows_other_writers(spark, tmp_path):
    """Two handles on one table, A merges, B merges, A merges again: A's
    commit builds on B's version, carries B's file stats and bloom refs,
    and the table reads as the LWW oracle."""
    path = str(tmp_path / "t")
    kw = dict(n_buckets=4, merge_mode="mor", stats_cols=("commit_seq",),
              key_bloom_fpp=0.01)
    a = SnapshotTable(spark, path, **kw)
    b = SnapshotTable(spark, path, **kw)
    assert a.merge(batch_events(spark, CFG, 0), batch_id="b0").snapshot_version == 0
    assert b.merge(batch_events(spark, CFG, 1), batch_id="b1").snapshot_version == 1
    assert a.merge(batch_events(spark, CFG, 2), batch_id="b2").snapshot_version == 2

    m1, m2 = a._load_manifest(1), a._load_manifest(2)
    assert m2["parent_version"] == 1
    b_files = list(a._data_files(m1))
    assert b_files and set(b_files) <= set(a._data_files(m2))
    for f in b_files:
        assert m2["file_stats"][f] == m1["file_stats"][f]
        assert m2["bloom_refs"][f] == m1["bloom_refs"][f]
    # A's own new files get stats and blooms too
    assert set(m2["file_stats"]) == set(m2["bloom_refs"]) == set(a._data_files(m2))

    events = [r.asDict() for r in change_log(spark, CFG).collect()]
    assert _state_set(a.read()) == oracle.final_rows(events)
    assert _state_set(b.read()) == oracle.final_rows(events)
