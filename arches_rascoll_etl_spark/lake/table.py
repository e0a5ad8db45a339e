"""LakeTable interface — the engine's sink abstraction.

The engine targets Iceberg semantics: atomic snapshot commits, MERGE INTO
upserts (copy-on-write), schema evolution, idempotent commit ids, time
travel. The sandbox has no Iceberg runtime jar and no network (pyspark 4.1.2
ships 287 jars, none iceberg*), so the production-shaped implementation here
is :class:`~arches_rascoll_etl_spark.lake.parquet_snapshot.SnapshotTable`,
a pure-Parquet copy-on-write snapshot store reproducing those semantics.
On a cluster with Iceberg available, :class:`IcebergTable` is the drop-in
(same method surface, delegating to ``MERGE INTO`` SQL).

This generalizes the reference's sink trio: full-replace staging tables
(arches_rascoll/ref_collection.py:238-246), idempotent
``INSERT … WHERE pk NOT IN (…)`` (ref_collection.py:305-314), and the
CSV checkpoint snapshots (ref_collection.py:227-235).
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame


@dataclass
class MergeStats:
    batch_id: str
    applied: bool
    rows_in: int = 0
    upserts: int = 0
    deletes: int = 0
    affected_buckets: list[int] = field(default_factory=list)
    total_buckets: int = 0
    snapshot_version: int | None = None
    wall_ms: float = 0.0
    skipped_reason: str | None = None
    # set when the merge was STAGED (write-audit-publish): data files are
    # written and a staged manifest records them, but the table head did
    # not move — publish_staged(wap_id) fast-forwards it after audit
    staged_as: str | None = None
    # per-phase wall times: the key-only stats job (copy-on-write only —
    # a merge-on-read merge has no stats phase), the fused apply job
    # (scan+LWW+write), and manifest build + commit
    phase_ms: dict[str, float] = field(default_factory=dict)
    # merge calls this result took, including ones lost to a concurrent
    # commit (set by the replay driver's conflict retry)
    attempts: int = 1

    def as_dict(self) -> dict[str, Any]:
        return dict(self.__dict__)


class LakeTable(ABC):
    """Keyed, snapshot-versioned upsert table."""

    @abstractmethod
    def exists(self) -> bool: ...

    @abstractmethod
    def read(self, version: int | None = None) -> DataFrame:
        """Current table state, or a past snapshot (time travel)."""

    @abstractmethod
    def merge(self, batch: DataFrame, batch_id: str, summary: dict | None = None,
              mode: str | None = None) -> MergeStats:
        """Upsert a change batch (LWW per key; op=='D' deletes). Idempotent
        on ``batch_id``: re-merging an applied batch is a no-op. ``mode``
        ("cow" or "mor") overrides the table's write strategy for this
        batch; None keeps it."""

    @abstractmethod
    def committed_batch_ids(self) -> set[str]: ...


def merge_sql(
    identifier: str,
    key_cols: list[str],
    order_cols: list[str],
    source_view: str = "_merge_src",
    op_col: str = "op",
) -> str:
    """The Iceberg ``MERGE INTO`` statement implementing the engine's LWW
    semantics: a matched row is updated/deleted only if the source event is
    strictly newer on the ordering columns (lexicographic tiebreak chain),
    deletes win ties never (same rule as SnapshotTable's max-struct LWW),
    unmatched non-delete rows insert. Pure string builder so it is testable
    without an Iceberg jar on the classpath."""
    on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
    # strictly-newer under lexicographic (c1, c2, ...) ordering:
    # c1 > t.c1 OR (c1 = t.c1 AND c2 > t.c2) OR ...
    clauses = []
    for i, c in enumerate(order_cols):
        eqs = [f"s.{p} = t.{p}" for p in order_cols[:i]]
        clauses.append(" AND ".join(eqs + [f"s.{c} > t.{c}"]))
    newer = " OR ".join(f"({c})" if " AND " in c else c for c in clauses)
    return (
        f"MERGE INTO {identifier} t USING {source_view} s ON {on}\n"
        f"WHEN MATCHED AND s.{op_col} = 'D' AND ({newer}) THEN DELETE\n"
        f"WHEN MATCHED AND ({newer}) THEN UPDATE SET *\n"
        f"WHEN NOT MATCHED AND s.{op_col} != 'D' THEN INSERT *"
    )


def rollback_sql(identifier: str, snapshot_id: int) -> str:
    """Iceberg's rollback procedure (the SnapshotTable.rollback analogue).
    ``identifier`` must be catalog-qualified (``cat.db.tbl``) — the CALL
    runs against the catalog's ``system`` namespace. Pure string builder,
    testable without an Iceberg jar."""
    catalog, _, rest = identifier.partition(".")
    if not rest:
        raise ValueError(
            f"identifier {identifier!r} must be catalog-qualified "
            "(catalog.db.table) to address its system namespace"
        )
    return (
        f"CALL {catalog}.system.rollback_to_snapshot("
        f"table => '{rest}', snapshot_id => {int(snapshot_id)})"
    )


def recluster_sql(
    identifier: str,
    cluster_cols,
    strategy: str = "zorder",
    target_file_size_bytes: int | None = None,
) -> str:
    """Iceberg's layout-rewrite procedure (the SnapshotTable.recluster
    analogue): ``rewrite_data_files`` with a ``sort`` strategy whose order
    is ``zorder(cols...)`` or a lexical column list. Catalog-qualified
    identifier, pure string builder, testable without an Iceberg jar."""
    if strategy not in ("zorder", "sort"):
        raise ValueError(f"strategy must be 'zorder' or 'sort' (got {strategy!r})")
    catalog, _, rest = identifier.partition(".")
    if not rest:
        raise ValueError(
            f"identifier {identifier!r} must be catalog-qualified "
            "(catalog.db.table) to address its system namespace"
        )
    cols = ", ".join(cluster_cols)
    if not cols:
        raise ValueError("cluster_cols must be non-empty")
    order = f"zorder({cols})" if strategy == "zorder" else cols
    opts = ""
    if target_file_size_bytes is not None:
        opts = (", options => map('target-file-size-bytes', "
                f"'{int(target_file_size_bytes)}')")
    return (
        f"CALL {catalog}.system.rewrite_data_files(table => '{rest}', "
        f"strategy => 'sort', sort_order => '{order}'{opts})"
    )


class IcebergTable(LakeTable):
    """Drop-in backend for real Iceberg catalogs (requires the Iceberg
    runtime jar — unavailable in this sandbox; methods compile the same
    operations to ``MERGE INTO`` SQL)."""

    def __init__(self, spark, identifier: str, key_cols=("repo", "path"), order_cols=("commit_seq", "commit")):
        try:
            spark.sql("SELECT 1").collect()
            jvm_ok = True
        except Exception:  # pragma: no cover
            jvm_ok = False
        self.spark, self.identifier = spark, identifier
        self.key_cols, self.order_cols = list(key_cols), list(order_cols)
        if not self._iceberg_available():
            raise RuntimeError(
                "Iceberg runtime not on the classpath; use "
                "lake.parquet_snapshot.SnapshotTable (same interface)."
            ) if jvm_ok else RuntimeError("no spark")

    def _iceberg_available(self) -> bool:
        try:
            self.spark._jvm.java.lang.Class.forName("org.apache.iceberg.Table")
            return True
        except Exception:
            return False

    def exists(self) -> bool:  # pragma: no cover - needs iceberg
        return self.spark.catalog.tableExists(self.identifier)

    def read(self, version: int | None = None) -> DataFrame:  # pragma: no cover
        if version is None:
            return self.spark.table(self.identifier)
        return self.spark.read.option("snapshot-id", version).table(self.identifier)

    def merge(self, batch: DataFrame, batch_id: str, summary=None,
              mode=None) -> MergeStats:  # pragma: no cover
        # Iceberg takes COW vs MOR from the table's write.merge.mode property
        batch.createOrReplaceTempView("_merge_src")
        self.spark.sql(merge_sql(self.identifier, self.key_cols, self.order_cols))
        return MergeStats(batch_id=batch_id, applied=True)

    def committed_batch_ids(self) -> set[str]:  # pragma: no cover
        rows = self.spark.sql(
            f"SELECT summary['batch-id'] AS b FROM {self.identifier}.snapshots"
        ).collect()
        return {r.b for r in rows if r.b is not None}

    def rollback(self, snapshot_id: int):  # pragma: no cover - needs iceberg
        self.spark.sql(rollback_sql(self.identifier, snapshot_id))
