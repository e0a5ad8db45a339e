"""Last-writer-wins per-key collapse — the engine's core dedup/merge operator.

Generalizes the reference's duplicate-pk dict overwrite
(arches_rascoll/ref_collection.py:95-97,142: later rows overwrite earlier
field values per raw_pk) into an ordered LWW keyed on arbitrary columns with
an explicit ordering (commit_seq, commit tiebreak).

Three formulations of the per-key winner, all semantically identical
(tested against each other and the pure-Python oracle):

* ``lww_latest``  — ``max`` over a comparable struct (equivalent to
  ``max_by``). **Preferred at scale**: hash aggregation with map-side
  partial aggregation, so each shuffle partition receives at most
  ``num_input_partitions`` pre-aggregated rows per key — a hot key (one repo
  holding 50% of all events) costs the reducer O(partitions), not O(events).
  No sort, no window, skew-immune by construction.
* ``lww_window`` — ``row_number() OVER (PARTITION BY keys ORDER BY ord
  DESC)``. The reference implementation ``lww_latest`` is tested against,
  and a template for callers that need the losing rows too (rank > 1).
  Requires a full sort per key, and a hot key lands on one task — use the
  salted variant for skewed data.
* ``lww_latest_salted`` — explicit two-phase aggregation via a deterministic
  salt derived from the ordering column. Exists to *demonstrate* the salting
  pattern (BASELINE north_star: "hot repos are salted/repartitioned to
  defeat skew") and for engines/configs where partial aggregation is
  disabled; with hash-agg enabled it produces the same plan shape as
  phase1+phase2 manual combine.

``final_state`` replays a whole log with ``lww_latest`` and drops the
winning tombstones; ``lww_patch`` is the column-level variant (NULL in an
update means "unchanged").
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_PAYLOAD = "_lww_payload"
_ORD = "_lww_ord"


def _ord_struct(df: DataFrame, keys: Sequence[str], order_cols: Sequence[str]) -> Column:
    # payload excludes the ordering columns: they already lead the struct
    # (that's what makes its max the LWW winner), so carrying them again
    # inside the payload would ship them TWICE through every exchange and
    # map-side partial-agg buffer — at CDC scale the ordering tuple is a
    # 40-char commit sha + a long, ~25% of the merge's shuffle bytes.
    # ``_select_back`` reassembles the original column order on the way out.
    payload_cols = [c for c in df.columns if c not in keys and c not in order_cols]
    return F.struct(
        *[F.col(c) for c in order_cols],
        F.struct(*[F.col(c) for c in payload_cols]).alias(_PAYLOAD),
    )


def _select_back(df_columns: Sequence[str], keys: Sequence[str],
                 order_cols: Sequence[str]) -> list[Column]:
    """Projection restoring the input's column order from (keys, _ORD):
    keys from the group key, ordering columns from the ord struct's top
    level, everything else from its payload."""
    sel: list[Column] = [F.col(k) for k in keys]
    for c in df_columns:
        if c in keys:
            continue
        if c in order_cols:
            sel.append(F.col(f"{_ORD}.{c}").alias(c))
        else:
            sel.append(F.col(f"{_ORD}.{_PAYLOAD}.{c}").alias(c))
    return sel


def lww_latest(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    count_alias: str | None = None,
) -> DataFrame:
    """Keep, per key, the row with the greatest (order_cols...) tuple.

    Implemented as ``max`` of a struct whose leading fields are the ordering
    columns — struct comparison is lexicographic, so the max carries the
    winning row's payload. One shuffle on ``keys`` with map-side combine.

    Ties: rows equal on ALL ``order_cols`` fall through to comparing the
    payload struct (remaining columns in input order) — deterministic, but
    an arbitrary total order. The ordering contract is that ``order_cols``
    identify the logical change (the CDC model's (commit_seq, commit) does:
    the sha content-addresses the change), so full ties only occur between
    byte-identical events, where any winner is the same row.

    ``count_alias``: also emit the number of collapsed events per key in the
    same aggregation pass (free lineage — no second scan).
    """
    keys = list(keys)
    aggs = [F.max(_ord_struct(df, keys, order_cols)).alias(_ORD)]
    if count_alias:
        aggs.append(F.count("*").alias(count_alias))
    out = df.groupBy(*keys).agg(*aggs)
    extra = [F.col(count_alias)] if count_alias else []
    return out.select(*_select_back(df.columns, keys, order_cols), *extra)


def lww_window(df: DataFrame, keys: Sequence[str], order_cols: Sequence[str]) -> DataFrame:
    """Window formulation: row_number()==1 over keys ordered descending."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
        .select(*df.columns)
    )


def lww_latest_salted(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    salt_buckets: int = 64,
) -> DataFrame:
    """Two-phase LWW: phase 1 collapses per (keys, salt) — spreading a hot
    key over ``salt_buckets`` reducers — phase 2 collapses the ≤salt_buckets
    survivors per key. Salt is deterministic (hash of the first ordering
    column) so replay is stable."""
    keys = list(keys)
    salt = F.pmod(F.xxhash64(F.col(order_cols[0]).cast("string")), F.lit(salt_buckets))
    ord1 = _ord_struct(df, keys + ["_salt"], order_cols)
    phase1 = (
        df.withColumn("_salt", salt)
        .groupBy(*keys, "_salt")
        .agg(F.max(ord1).alias(_ORD))
    )
    phase2 = phase1.groupBy(*keys).agg(F.max(_ORD).alias(_ORD))
    return phase2.select(*_select_back(df.columns, keys, order_cols))


def final_state(
    df: DataFrame,
    keys: Sequence[str] = ("repo", "path"),
    order_cols: Sequence[str] = ("commit_seq", "commit"),
    op_col: str = "op",
) -> DataFrame:
    """Full-log replay to final table state: LWW winners (``lww_latest``,
    op retained) minus tombstones."""
    return lww_latest(df, keys, order_cols).where(F.col(op_col) != "D")


def lww_patch(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    patch_cols: Sequence[str],
    op_col: str = "op",
) -> DataFrame:
    """Column-level patch semantics: NULL in an update means "unchanged".

    Connector streams routinely ship partial row images (e.g. unchanged
    TOAST/blob columns arrive as NULL/absent); plain LWW would clobber a
    column with NULL whenever the *row's* latest event omitted it. Under
    patch semantics each ``patch_cols`` column independently takes its
    value from the latest event that SET it (non-NULL), while deletes
    still fence the whole row: a set that predates the key's last delete
    is dead, and the row exists only if an upsert follows the last delete.

    ONE aggregation job, same scale shape as ``lww_latest``: per column a
    filtered max over an (ord, value) struct — map-side combinable, hot
    keys cost each reducer O(map_partitions) — plus two row-level
    max-structs (last delete, last upsert). The delete fence is applied
    as a post-aggregation projection: the latest set being older than the
    last delete proves no live set exists (sets are totally ordered), so
    no second pass is needed.
    """
    ordc = [F.col(c) for c in order_cols]
    last_del = F.max(
        F.when(F.col(op_col) == "D", F.struct(*ordc))
    ).alias("_del")
    last_up = F.max(
        F.when(F.col(op_col) != "D", F.struct(*ordc))
    ).alias("_up")
    per_col = [
        F.max(
            F.when(
                (F.col(op_col) != "D") & F.col(c).isNotNull(),
                F.struct(*ordc, F.col(c).alias("_v")),
            )
        ).alias(f"_p_{c}")
        for c in patch_cols
    ]
    agg = df.groupBy(*[F.col(k) for k in keys]).agg(last_del, last_up, *per_col)
    alive = F.col("_up").isNotNull() & (
        F.col("_del").isNull() | (F.col("_up") > F.col("_del"))
    )
    def _fenced(c: str) -> Column:
        p = F.col(f"_p_{c}")
        live = p.isNotNull() & (
            F.col("_del").isNull()
            | (p.dropFields("_v") > F.col("_del"))
        )
        return F.when(live, p["_v"]).alias(c)
    return agg.where(alive).select(
        *[F.col(k) for k in keys], *[_fenced(c) for c in patch_cols]
    )
