"""Anti-entropy table diff: compare two replicas of a bucketed lake table
without joining them in full.

CDC pipelines grow replicas — a backfilled copy, a migrated table, a
disaster-recovery standby, the reference system during a cutover (the
reference's own migration validated by eyeballing psql output,
/root/reference/README.md:39-42) — and "are these two 100 TB tables equal,
and if not, WHICH keys differ?" must not cost a 100 TB shuffle join.

Two-level protocol (the Merkle-tree/anti-entropy idea, flattened to the
table's own bucket layout):

1. **Checksum pass** — each side computes per-bucket ``(row_count,
   bit_xor(xxhash64(row)))`` in ONE scan with map-side partial aggregation
   (shuffle bytes = n_buckets summaries, not rows). Both summaries — at
   most ``n_buckets`` rows each — come to the driver.
2. **Diff pass** — only buckets whose summaries differ are read again
   (manifest-pruned file reads on both sides — equal replicas read ZERO
   data files here) and full-outer joined on the key columns, emitting one
   row per differing key: ``diff_op`` 'L' (left only), 'R' (right only),
   'N' (both present, payload differs) plus both payload structs.

A divergence confined to 1% of buckets joins ~1% of either table; equal
tables cost two streaming scans and no join at all. The xor-of-xxhash64
bucket digest is order-independent (aggregation order never matters) and
collision-safe in practice (64-bit xor + exact row count both have to
collide); the per-key verdict in pass 2 uses the actual values, so a
digest collision can only SKIP a bucket both sides agree on, never invent
a difference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .parquet_snapshot import SnapshotTable


def _live(t: SnapshotTable, version, buckets=None) -> DataFrame:
    return t._live(t._resolved_stored(t._manifest(version), buckets))


def bucket_summaries(
    t: SnapshotTable, version: int | None = None
) -> DataFrame:
    """Per-bucket (row count, xor-of-xxhash64) digest of a snapshot's live
    rows: ``(bucket, n_rows, digest)``. One scan, map-side combined."""
    df = _live(t, version)
    cols = sorted(df.columns)
    b = F.pmod(F.hash(*[F.col(k) for k in t.key_cols]), F.lit(t.n_buckets))
    return df.groupBy(b.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor(F.xxhash64(*cols)).alias("digest"),
    )


def table_diff(
    left: SnapshotTable,
    right: SnapshotTable,
    version_left: int | None = None,
    version_right: int | None = None,
) -> DataFrame:
    """Symmetric difference of two replicas' live rows (module docstring
    for the protocol). Returns ``(diff_op, keys..., left struct, right
    struct)`` — empty iff the tables are row-for-row equal on their common
    columns. Requires identical key columns and bucket count (the digest
    is per-bucket; `rebucket` a mismatched replica first)."""
    if list(left.key_cols) != list(right.key_cols):
        raise ValueError(
            f"key_cols differ: {left.key_cols} vs {right.key_cols}"
        )
    if left.n_buckets != right.n_buckets:
        raise ValueError(
            f"n_buckets differ ({left.n_buckets} vs {right.n_buckets}); "
            "rebucket one side before diffing"
        )
    ls = {r["bucket"]: (r["n_rows"], r["digest"])
          for r in bucket_summaries(left, version_left).collect()}
    rs = {r["bucket"]: (r["n_rows"], r["digest"])
          for r in bucket_summaries(right, version_right).collect()}
    dirty = sorted(
        str(b) for b in set(ls) | set(rs) if ls.get(b) != rs.get(b)
    )
    keys = list(left.key_cols)
    l = _live(left, version_left, dirty).withColumn("_lp", F.lit(True))
    r = _live(right, version_right, dirty).withColumn("_rp", F.lit(True))
    common = sorted((set(l.columns) & set(r.columns)) - {"_lp", "_rp"})
    pay = [c for c in common if c not in keys]
    lh = F.xxhash64(*[l[c] for c in common])
    rh = F.xxhash64(*[r[c] for c in common])
    cond = None
    for k in keys:
        c = l[k].eqNullSafe(r[k])
        cond = c if cond is None else cond & c
    lp, rp = F.col("_lp").isNotNull(), F.col("_rp").isNotNull()
    out = l.join(r, cond, "full_outer").select(
        F.when(lp & ~rp, "L")
        .when(rp & ~lp, "R")
        .when(lh != rh, "N")
        .alias("diff_op"),
        *[F.coalesce(l[k], r[k]).alias(k) for k in keys],
        F.when(lp, F.struct(*[l[c] for c in pay])).alias("left"),
        F.when(rp, F.struct(*[r[c] for c in pay])).alias("right"),
    )
    return out.where(F.col("diff_op").isNotNull())
