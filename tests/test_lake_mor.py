"""Merge-on-read (MOR) delta merges: equivalence with COW, read paths,
compaction folding, GC safety.

The MOR mode is the write-optimized half of the Iceberg v2 story the COW
SnapshotTable already covers: ``merge(mode="mor")`` appends per-bucket delta
files with NO target scan (write cost O(batch)); readers fold base + deltas
with the same LWW aggregation the COW apply uses, so both modes must produce
byte-identical table states from the same change log — that equivalence is
the backbone of every test here (reference semantic: the idempotent,
re-runnable load of arches_rascoll/ref_collection.py:305-314, generalized)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from arches_rascoll_etl_spark import oracle
from arches_rascoll_etl_spark.lake.parquet_snapshot import SnapshotTable
from arches_rascoll_etl_spark.synth import ChangeLogConfig, batch_events, change_log

CFG = ChangeLogConfig(n_events=3_000, n_repos=8, paths_per_repo=80, n_batches=6, schema_add_batch=3)

ROW_SCHEMA = (
    "repo string, path string, commit_seq long, commit string, op string,"
    " lang string, content string"
)


def _mk(spark, path, **kw):
    return SnapshotTable(spark, path, n_buckets=8, **kw)


def _state_set(df):
    return {
        tuple(r)
        for r in df.select("repo", "path", "commit", "lang", F.sha2("content", 256)).collect()
    }


def _delta_map(tbl):
    return tbl._delta_map(tbl._load_manifest(tbl.current_version()))


def test_mor_replay_matches_cow_and_oracle(spark, tmp_table_dir):
    """Bootstrap COW, then every later batch as MOR delta append — the final
    read must equal both the sequential-replay oracle and a pure-COW replay
    of the same batches (covers deletes + mid-stream schema evolution, which
    CFG injects at batch 3)."""
    mor = _mk(spark, os.path.join(tmp_table_dir, "mor"), merge_mode="mor")
    cow = _mk(spark, os.path.join(tmp_table_dir, "cow"))
    for b in range(CFG.n_batches):
        mor.merge(batch_events(spark, CFG, b), batch_id=f"b{b}")
        cow.merge(batch_events(spark, CFG, b), batch_id=f"b{b}")
    events = [r.asDict() for r in change_log(spark, CFG).collect()]
    expected = oracle.final_rows(events)
    assert _state_set(mor.read()) == expected
    assert _state_set(cow.read()) == _state_set(mor.read())
    # and the table really is MOR: deltas pending, base files from bootstrap
    assert any(_delta_map(mor).values())


def test_mor_merge_leaves_base_untouched(spark, tmp_table_dir):
    """The MOR apply must not read or rewrite base files: the new manifest's
    base file lists are IDENTICAL objects to the parent's, and only the
    batch's affected buckets gain delta entries."""
    tbl = _mk(spark, tmp_table_dir)
    tbl.merge(batch_events(spark, CFG, 0), batch_id="b0")
    base_before = tbl._load_manifest(tbl.current_version())["files"]
    st = tbl.merge(
        spark.createDataFrame([("r9", "new.py", 999, "c999", "U", "py", "x")], ROW_SCHEMA),
        batch_id="b1",
        mode="mor",
    )
    m = tbl._load_manifest(tbl.current_version())
    assert m["files"] == base_before
    assert m["summary"]["mode"] == "mor"
    deltas = tbl._delta_map(m)
    assert sorted(int(b) for b in deltas) == st.affected_buckets
    assert len(st.affected_buckets) == 1


def test_mor_delete_and_straggler_semantics(spark, tmp_table_dir):
    """Delta tombstone beats an older base row; a straggler below the
    tombstone's seq (arriving as a later MOR batch) cannot resurrect it."""
    tbl = _mk(spark, tmp_table_dir, merge_mode="mor")
    tbl.merge(
        spark.createDataFrame([("r", "f.py", 5, "c05", "I", "py", "old")], ROW_SCHEMA),
        batch_id="base",
    )
    tbl.merge(
        spark.createDataFrame([("r", "f.py", 10, "c10", "D", "py", "")], ROW_SCHEMA),
        batch_id="del",
    )
    assert tbl.read().where("repo='r' and path='f.py'").count() == 0
    tbl.merge(
        spark.createDataFrame([("r", "f.py", 7, "c07", "I", "py", "stale")], ROW_SCHEMA),
        batch_id="straggler",
    )
    assert tbl.read().where("repo='r' and path='f.py'").count() == 0
    # a genuinely newer event resurrects
    tbl.merge(
        spark.createDataFrame([("r", "f.py", 12, "c12", "I", "py", "new")], ROW_SCHEMA),
        batch_id="resurrect",
    )
    rows = tbl.read().where("repo='r' and path='f.py'").collect()
    assert [r["content"] for r in rows] == ["new"]


def test_mor_read_keys_resolves_deltas(spark, tmp_table_dir):
    """Point lookup through bucket pruning must fold deltas: a key updated
    only in a delta returns the delta image; a delta-deleted key returns
    nothing; a base-only key is unaffected."""
    tbl = _mk(spark, tmp_table_dir)
    tbl.merge(
        spark.createDataFrame(
            [
                ("r", "a.py", 1, "c1", "U", "py", "a1"),
                ("r", "b.py", 1, "c1", "U", "py", "b1"),
                ("r", "c.py", 1, "c1", "U", "py", "c1"),
            ],
            ROW_SCHEMA,
        ),
        batch_id="base",
    )
    tbl.merge(
        spark.createDataFrame(
            [
                ("r", "a.py", 2, "c2", "U", "py", "a2"),
                ("r", "b.py", 2, "c2", "D", "py", ""),
            ],
            ROW_SCHEMA,
        ),
        batch_id="delta",
        mode="mor",
    )
    got = {
        (r["path"], r["content"])
        for r in tbl.read_keys([("r", "a.py"), ("r", "b.py"), ("r", "c.py")]).collect()
    }
    assert got == {("a.py", "a2"), ("c.py", "c1")}


def test_cow_merge_folds_pending_deltas(spark, tmp_table_dir):
    """A COW merge atop earlier MOR deltas must fold them into the rewrite
    (reading base+delta as target) and clear the affected buckets' delta
    lists — alternating modes batch-to-batch stays exact."""
    mor = _mk(spark, os.path.join(tmp_table_dir, "mix"), merge_mode="mor")
    cow = _mk(spark, os.path.join(tmp_table_dir, "ref"))
    for b in range(CFG.n_batches):
        mode = "mor" if b % 2 else "cow"
        mor.merge(batch_events(spark, CFG, b), batch_id=f"b{b}", mode=mode)
        cow.merge(batch_events(spark, CFG, b), batch_id=f"b{b}")
    assert _state_set(mor.read()) == _state_set(cow.read())
    # the last batch was MOR (b5: odd) — deltas pending only for buckets the
    # even COW batches did not later rewrite
    m = mor._load_manifest(mor.current_version())
    for b, fl in mor._delta_map(m).items():
        assert fl, "empty delta lists must be dropped from the manifest"


def test_compact_folds_deltas_and_expires_tombstones(spark, tmp_table_dir):
    """compact() rewrites delta-bearing buckets delta-free with unchanged
    live state, and expires watermark-covered tombstones in the same pass."""
    tbl = _mk(spark, tmp_table_dir, merge_mode="mor")
    for b in range(4):
        tbl.merge(batch_events(spark, CFG, b), batch_id=f"b{b}")
    assert any(_delta_map(tbl).values())
    live_before = _state_set(tbl.read())
    v = tbl.current_version()
    new_v = tbl.compact()  # no watermark: expire all tombstones too
    assert new_v == v + 1
    assert _delta_map(tbl) == {}
    assert _state_set(tbl.read()) == live_before
    assert tbl._read_stored().where("op = 'D'").count() == 0
    # point reads now skip the LWW fold (pure-base path): still exact
    some = tbl.read().limit(2).collect()
    keys = [(r["repo"], r["path"]) for r in some]
    assert {(r["repo"], r["path"]) for r in tbl.read_keys(keys).collect()} == set(keys)


def test_mor_idempotent_reapply(spark, tmp_table_dir):
    tbl = _mk(spark, tmp_table_dir, merge_mode="mor")
    for b in range(3):
        st = tbl.merge(batch_events(spark, CFG, b), batch_id=f"b{b}")
        assert st.applied
    before = _state_set(tbl.read())
    v = tbl.current_version()
    st = tbl.merge(batch_events(spark, CFG, 1), batch_id="b1")
    assert not st.applied and st.skipped_reason == "already-committed"
    assert tbl.current_version() == v
    assert _state_set(tbl.read()) == before


def test_mor_time_travel_and_changelog(spark, tmp_table_dir):
    """Time travel resolves deltas AS OF the requested snapshot, and
    read_changes diffs delta lists (a MOR commit changes no base files, so
    the pre-MOR diff logic would report no changes at all)."""
    tbl = _mk(spark, tmp_table_dir, merge_mode="mor")
    tbl.merge(batch_events(spark, CFG, 0), batch_id="b0")
    v0 = tbl.current_version()
    state0 = _state_set(tbl.read())
    tbl.merge(batch_events(spark, CFG, 1), batch_id="b1")
    v1 = tbl.current_version()
    assert _state_set(tbl.read(version=v0)) == state0

    changes = tbl.read_changes(v0, v1)
    assert changes.count() > 0
    # reconcile: state0 + changes == state1 (apply I/U as upsert, D as drop)
    ch = changes.collect()
    reconciled = {(r["repo"], r["path"]): r for r in tbl.read(version=v0).collect()}
    for r in ch:
        k = (r["repo"], r["path"])
        if r["change_op"] == "D":
            reconciled.pop(k, None)
        else:
            reconciled[k] = r
    got = {
        (r["repo"], r["path"], r["commit"], r["lang"], oracle.sha256_hex(r["content"]))
        for r in reconciled.values()
    }
    assert got == _state_set(tbl.read(version=v1))


def test_gc_keeps_live_delta_files(spark, tmp_table_dir):
    """expire_snapshots and remove_orphans must treat delta files as
    referenced — sweeping a live delta would silently drop its updates."""
    tbl = _mk(spark, tmp_table_dir, merge_mode="mor")
    for b in range(4):
        tbl.merge(batch_events(spark, CFG, b), batch_id=f"b{b}")
    state = _state_set(tbl.read())
    tbl.expire_snapshots(keep_last=1)
    tbl.remove_orphans(older_than_s=0.0, force=True)
    # the real invariant: no live base OR delta file was swept
    assert _state_set(tbl.read()) == state
    assert any(_delta_map(tbl).values())


def test_compact_threshold_folds_only_debtor_buckets(spark, tmp_table_dir):
    """compact(expire_tombstones=False, max_delta_files_per_bucket=K) is the
    auto-maintenance fold: only buckets whose delta debt reached K rewrite;
    lighter buckets keep their deltas, and no tombstone is expired."""
    tbl = _mk(spark, tmp_table_dir)
    # two keys in different buckets (checked below); A gets 3 delta files,
    # B gets 1
    rows_a = [("rA", "a.py", i, f"c{i}", "U", "py", f"a{i}") for i in (1, 2, 3)]
    row_b = [("rB", "b.py", 1, "c1", "U", "py", "b1")]
    tbl.merge(spark.createDataFrame(rows_a[:1] + row_b, ROW_SCHEMA), batch_id="base")
    for i, r in enumerate(rows_a):
        tbl.merge(spark.createDataFrame([r], ROW_SCHEMA), batch_id=f"da{i}", mode="mor")
    tbl.merge(
        spark.createDataFrame([("rB", "b.py", 2, "c2", "D", "py", "")], ROW_SCHEMA),
        batch_id="db",
        mode="mor",
    )
    debt = tbl.delta_debt()
    assert debt["max_delta_files"] == 3 and debt["delta_buckets"] == 2

    live_before = _state_set(tbl.read())
    v = tbl.current_version()
    new_v = tbl.compact(expire_tombstones=False, max_delta_files_per_bucket=3)
    assert new_v == v + 1
    debt_after = tbl.delta_debt()
    # the 3-file bucket folded; the 1-file bucket kept its delta
    assert debt_after["max_delta_files"] == 1 and debt_after["delta_buckets"] == 1
    assert _state_set(tbl.read()) == live_before
    # the un-expired tombstone still fences rB/b.py
    assert tbl._read_stored().where("op = 'D'").count() == 1

    # below threshold: a no-op commit-free call
    assert tbl.compact(expire_tombstones=False, max_delta_files_per_bucket=3) == new_v


def test_compact_bounds_file_sizes(spark, tmp_table_dir):
    """max_records_per_file splits rewritten buckets into several files;
    reads are unchanged."""
    import json
    import os

    from pyspark.sql import functions as F

    t = SnapshotTable(
        spark, tmp_table_dir, key_cols=("k",), order_cols=("s",),
        n_buckets=2, merge_mode="mor",
    )
    t.merge(
        spark.range(3000).select(
            F.col("id").alias("k"), F.lit(1).alias("s"), F.lit("U").alias("op")
        ),
        batch_id="b0",
    )
    t.merge(
        spark.range(100).select(
            F.col("id").alias("k"), F.lit(2).alias("s"), F.lit("U").alias("op")
        ),
        batch_id="b1",
    )
    v = t.compact(max_records_per_file=400)
    m = json.load(open(os.path.join(tmp_table_dir, "manifests", f"v{v:06d}.json")))
    files = [f for fl in m["files"].values() for f in fl]
    assert len(files) >= 6  # ~1500 rows/bucket -> >=4 files each
    assert not m.get("delta_files")
    assert t.read().count() == 3000
    assert {r["s"] for r in t.read().where(F.col("k") < 100).collect()} == {2}


def _new_delta_files(before: dict, after: dict) -> dict[str, list[str]]:
    """Per bucket, the delta files a MOR commit appended."""
    return {
        b: fl[len(before.get(b, [])):]
        for b, fl in after.items()
        if len(fl) > len(before.get(b, []))
    }


def test_mor_merge_is_one_spark_job(spark, tmp_table_dir, spark_jobs):
    """A MOR merge into an existing table is its apply job alone: rows_in
    is observed on the batch rows and the affected buckets are the bucket
    directories written. COW keeps the key-only stats job before its apply
    (two jobs under AQE: the shuffle map stage and the result), since it
    must know the affected buckets to choose the files it rewrites."""
    t = _mk(spark, tmp_table_dir)  # no key blooms: their build is a job
    t.merge(batch_events(spark, CFG, 0), batch_id="b0")
    st, jobs = spark_jobs(lambda: t.merge(batch_events(spark, CFG, 1), batch_id="b1", mode="mor"))
    assert len(jobs) == 1
    assert "stats" not in st.phase_ms
    assert st.rows_in == batch_events(spark, CFG, 1).count()
    # the stats job is two jobs under AQE, the session default; pin it,
    # so the count does not hang on conf an earlier test left behind
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        st, jobs = spark_jobs(
            lambda: t.merge(batch_events(spark, CFG, 2), batch_id="b2", mode="cow")
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert len(jobs) == 3
    assert "stats" in st.phase_ms


def test_mor_narrow_exchange_writes_one_sorted_file_per_bucket(spark, tmp_table_dir):
    """At 512 buckets the MOR exchange is narrower than the bucket count
    but divides it, so every touched bucket still gets exactly one delta
    file per commit, key-sorted (read_keys' row-group pruning relies on
    the order), and affected_buckets is exactly the set written."""
    import pyarrow.parquet as pq

    t = SnapshotTable(spark, tmp_table_dir, n_buckets=512)
    w = t._mor_width()
    assert w < t.n_buckets and t.n_buckets % w == 0
    t.merge(batch_events(spark, CFG, 0), batch_id="b0")
    before = _delta_map(t)
    st = t.merge(batch_events(spark, CFG, 1), batch_id="b1", mode="mor")
    added = _new_delta_files(before, _delta_map(t))
    assert st.affected_buckets == sorted(int(b) for b in added)
    assert len(added) > w  # several buckets per exchange task
    for b, fl in added.items():
        assert len(fl) == 1, (b, fl)
        keys = pq.read_table(os.path.join(tmp_table_dir, fl[0]), columns=["repo", "path"])
        rows = list(zip(*(keys.column(c).to_pylist() for c in ("repo", "path"))))
        assert rows == sorted(rows)
    keys = [(r["repo"], r["path"]) for r in batch_events(spark, CFG, 1).limit(5).collect()]
    live = {tuple(r) for r in t.read().select("repo", "path").collect()}
    assert t.read_keys(keys).count() == sum(k in live for k in set(keys))


def test_empty_mor_batch_records_id_without_data_dir(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    t.merge(batch_events(spark, CFG, 0), batch_id="b0")
    v = t.current_version()
    dirs = set(os.listdir(os.path.join(tmp_table_dir, "data")))
    st = t.merge(batch_events(spark, CFG, 1).limit(0), batch_id="empty", mode="mor")
    assert st.applied and st.rows_in == 0 and st.affected_buckets == []
    assert t.current_version() == v + 1
    assert "empty" in t.committed_batch_ids()
    assert set(os.listdir(os.path.join(tmp_table_dir, "data"))) == dirs
