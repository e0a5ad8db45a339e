"""Manifest-level file skipping (Iceberg data-file metrics analogue):
per-file [min, max] column stats recorded at commit from parquet footers,
read_range() pruning files from the manifest alone.

Soundness bar: read_range must equal read().where(between) row-for-row in
EVERY configuration — stats present, absent, carried by a stats-less
writer, or suspended by MOR deltas — because stats only decide which
files open; the predicate is always re-applied."""

from __future__ import annotations

from pyspark.sql import functions as F

from arches_rascoll_etl_spark.lake.parquet_snapshot import SnapshotTable


def _events(spark, lo, hi, seq, lang="py"):
    # key = f<value>, so distinct value bands are distinct key sets (each
    # test says explicitly when it wants overlapping keys instead)
    rows = [
        (f"r{v % 4}", f"f{v}", f"c{seq}-{v}", lang, f"content {v}", seq, "U", float(v))
        for v in range(lo, hi)
    ]
    return spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, "
        "content string, commit_seq long, op string, size double",
    )


def _mk(spark, path, **kw):
    return SnapshotTable(spark, path, n_buckets=4, **kw)


def _expected(tbl, lo, hi):
    return {
        tuple(r)
        for r in tbl.read().where(F.col("size").between(lo, hi)).collect()
    }


def test_read_range_prunes_files_and_matches_full_scan(spark, tmp_table_dir):
    tbl = _mk(spark, tmp_table_dir, stats_cols=["size"])
    tbl.merge(_events(spark, 0, 40, seq=1), batch_id="b1")       # size 0..39
    # narrow merge: ONE key → one rewritten bucket; the other buckets keep
    # their v1 files whose stats top out at 39 — those must prune away
    tbl.merge(_events(spark, 1000, 1001, seq=2), batch_id="b2")
    m = tbl._load_manifest(tbl.current_version())
    all_files = [f for fl in m["files"].values() for f in fl]
    assert all(f in m.get("file_stats", {}) for f in all_files)
    got = tbl.read_range("size", 1000.0, 2000.0)
    assert {tuple(r) for r in got.collect()} == _expected(tbl, 1000.0, 2000.0)
    assert any(r.path == "f1000" for r in got.collect())
    # the proof of pruning: the range scan OPENED strictly fewer files
    opened = {p.split("/data/")[-1] for p in got.inputFiles()}
    full = {p.split("/data/")[-1] for p in tbl.read().inputFiles()}
    assert opened < full
    # every opened file's recorded range intersects the predicate
    stats = m["file_stats"]
    for f in opened:
        mn, mx = stats["data/" + f]["size"]
        assert mx >= 1000.0 and mn <= 2000.0


def test_read_range_without_stats_reads_everything_but_is_correct(spark, tmp_table_dir):
    tbl = _mk(spark, tmp_table_dir)  # no stats_cols
    tbl.merge(_events(spark, 0, 30, seq=1), batch_id="b1")
    got = tbl.read_range("size", 10.0, 15.0)
    assert {tuple(r) for r in got.collect()} == _expected(tbl, 10.0, 15.0)
    assert set(got.inputFiles()) == set(tbl.read().inputFiles())


def test_stats_survive_a_stats_less_writer(spark, tmp_table_dir):
    tbl = _mk(spark, tmp_table_dir, stats_cols=["size"])
    tbl.merge(_events(spark, 0, 40, seq=1), batch_id="b1")
    v1_stats = tbl._load_manifest(tbl.current_version())["file_stats"]
    assert v1_stats
    # a second writer opens the table without stats_cols and commits a
    # single-key (single-bucket) merge — the untouched buckets' files and
    # their stats must ride through the stats-less commit unchanged
    plain = _mk(spark, tmp_table_dir)
    plain.merge(_events(spark, 1000, 1001, seq=2), batch_id="b2")
    m2 = plain._load_manifest(plain.current_version())
    surviving = [
        f for fl in m2["files"].values() for f in fl if f in v1_stats
    ]
    assert surviving, "expected some v1 files to survive the narrow merge"
    for f in surviving:
        assert m2["file_stats"][f] == v1_stats[f]


def test_mor_deltas_suspend_pruning_not_correctness(spark, tmp_table_dir):
    tbl = _mk(spark, tmp_table_dir, stats_cols=["size"], merge_mode="mor")
    tbl.merge(_events(spark, 0, 40, seq=1), batch_id="b1")
    # delta moves one key INTO range and one OUT of range
    upd = spark.createDataFrame(
        [
            ("r0", "f0", "c2-0", "py", "content 0", 2, "U", 5000.0),   # 0 -> in range
            ("r1", "f1", "c2-1", "py", "content 1", 2, "U", 1.0),      # 1 -> out of range
        ],
        "repo string, path string, commit string, lang string, "
        "content string, commit_seq long, op string, size double",
    )
    tbl.merge(upd, batch_id="b2")
    got = {tuple(r) for r in tbl.read_range("size", 4000.0, 6000.0).collect()}
    assert got == _expected(tbl, 4000.0, 6000.0)
    assert any(r[1] == "f0" for r in got)
    assert not any(r[1] == "f1" for r in got)
    # compaction folds the deltas and restores manifest pruning
    tbl.compact()
    got2 = tbl.read_range("size", 4000.0, 6000.0)
    assert {tuple(r) for r in got2.collect()} == got
    assert set(got2.inputFiles()) < set(tbl.read().inputFiles())


# ------------------------------------------------------------- recluster


def _grid_table(spark, path, strategy, n=8_000):
    """Table with two independent numeric dims a, b; recluster and return
    (table, manifest, total files)."""
    import json
    import os

    t = SnapshotTable(
        spark, path, key_cols=("k",), order_cols=("seq",),
        n_buckets=2, stats_cols=("a", "b"),
    )
    rows = spark.range(n).select(
        F.col("id").alias("k"),
        (F.pmod(F.hash("id"), F.lit(1000))).alias("a"),
        (F.pmod(F.hash("id", F.lit(7)), F.lit(1000))).alias("b"),
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
    )
    t.merge(rows, batch_id="b0")
    v = t.recluster(["a", "b"], max_records_per_file=500, strategy=strategy)
    m = json.load(open(os.path.join(path, "manifests", f"v{v:06d}.json")))
    files = [f for fl in m["files"].values() for f in fl]
    return t, m, files


def _intersecting(m, files, col, lo, hi):
    out = 0
    for f in files:
        mn, mx = m["file_stats"][f][col]
        out += not (mx < lo or mn > hi)
    return out


def test_recluster_zorder_preserves_rows_and_prunes_both_dims(spark, tmp_path):
    t, m, files = _grid_table(spark, str(tmp_path / "z"), "zorder")
    # exactness: recluster is pure layout — same rows before/after
    assert t.read(version=0).orderBy("k").collect() == \
        t.read(version=1).orderBy("k").collect()
    assert len(files) >= 16  # the split actually happened
    # a thin slab in EITHER dimension prunes well below the full file set
    for col in ("a", "b"):
        hit = _intersecting(m, files, col, 100, 160)
        assert hit <= len(files) * 0.75, (col, hit, len(files))
    # read_range stays exact post-recluster
    got = {r["k"] for r in t.read_range("b", 100, 160).collect()}
    want = {r["k"] for r in t.read().where(F.col("b").between(100, 160)).collect()}
    assert got == want and len(want) > 0


def test_recluster_sort_tightens_leading_column_only(spark, tmp_path):
    t, m, files = _grid_table(spark, str(tmp_path / "s"), "sort")
    lead = _intersecting(m, files, "a", 100, 160)
    trail = _intersecting(m, files, "b", 100, 160)
    # lexical sort: leading column prunes hard, trailing column barely
    assert lead <= len(files) * 0.25, (lead, len(files))
    assert trail >= len(files) * 0.9, (trail, len(files))


def test_zorder_key_bit_interleave(spark):
    from arches_rascoll_etl_spark.lake.parquet_snapshot import zorder_key

    df = spark.createDataFrame(
        [(170, 15), (0, 255), (255, 0), (7, 7)], "x long, y long"
    )
    got = [
        r[0]
        for r in df.select(
            zorder_key(["x", "y"], {"x": (0, 255), "y": (0, 255)}, 8)
        ).collect()
    ]

    def morton(x, y):  # x steers the higher bit of each pair
        z = 0
        for i in range(8):
            z |= ((x >> i) & 1) << (2 * i + 1) | ((y >> i) & 1) << (2 * i)
        return z

    assert got == [morton(170, 15), morton(0, 255), morton(255, 0), morton(7, 7)]


def test_recluster_merge_then_compact_roundtrip(spark, tmp_path):
    """Merges after a recluster re-dirty buckets but never break reads;
    a delete survives the recluster rewrite as a retained tombstone."""
    t = SnapshotTable(
        spark, str(tmp_path / "rt"), key_cols=("k",), order_cols=("seq",),
        n_buckets=2, stats_cols=("a",),
    )
    t.merge(
        spark.createDataFrame(
            [(k, k * 10, 1, "U") for k in range(100)], "k long, a long, seq long, op string"
        ),
        batch_id="b0",
    )
    t.merge(
        spark.createDataFrame([(5, 0, 2, "D")], "k long, a long, seq long, op string"),
        batch_id="b1",
    )
    t.recluster(["a"], max_records_per_file=20)
    assert t.read().where(F.col("k") == 5).count() == 0
    t.merge(
        spark.createDataFrame([(5, 555, 3, "U")], "k long, a long, seq long, op string"),
        batch_id="b2",
    )
    rows = {r["k"]: r["a"] for r in t.read().collect()}
    assert rows[5] == 555 and len(rows) == 100


def test_recluster_bounds_from_manifest_stats(spark, tmp_path):
    """When every file carries stats for the cluster cols, recluster folds
    bounds from the manifest (zero extra scans) and the layout is the same
    as with agg-computed bounds."""
    import json
    import os

    p1, p2 = str(tmp_path / "with"), str(tmp_path / "without")
    outs = {}
    for path, stats_cols in ((p1, ("a", "b")), (p2, ())):
        t = SnapshotTable(
            spark, path, key_cols=("k",), order_cols=("seq",),
            n_buckets=2, stats_cols=stats_cols or ("a", "b"),
        )
        # p2: strip stats AFTER merge to force the agg fallback
        rows = spark.range(2000).select(
            F.col("id").alias("k"),
            F.pmod(F.hash("id"), F.lit(100)).alias("a"),
            F.pmod(F.hash("id", F.lit(3)), F.lit(100)).alias("b"),
            F.lit(1).alias("seq"), F.lit("U").alias("op"),
        )
        t.merge(rows, batch_id="b0")
        if path == p2:
            mp = os.path.join(path, "manifests", "v000000.json")
            m = json.load(open(mp))
            m.pop("file_stats", None)
            json.dump(m, open(mp, "w"))
            t = SnapshotTable(spark, path, key_cols=("k",), order_cols=("seq",), n_buckets=2, stats_cols=("a", "b"))
        v = t.recluster(["a", "b"], max_records_per_file=200)
        m = json.load(open(os.path.join(path, "manifests", f"v{v:06d}.json")))
        outs[path] = sorted(
            (f, tuple(m["file_stats"][f]["a"]), tuple(m["file_stats"][f]["b"]))
            for fl in m["files"].values() for f in fl
        )
    # identical slab layout either way (same bounds -> same z-ranks)
    assert [x[1:] for x in outs[p1]] == [x[1:] for x in outs[p2]]
