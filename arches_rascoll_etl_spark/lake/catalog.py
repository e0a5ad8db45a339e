"""SQL view surface over the lake (SURVEY.md §2.1 S9).

The reference manages its relational surface with DDL: a staging schema
(``prepare_import_schema``, arches_rascoll/utilities.py:62-64) and Arches
relational views (``ARCHES_REL_VIEW_PREP_SQLS``,
arches_rascoll/general_configs.py:948-969) that downstream SQL reads. The
engine's analogue is session catalog registration: expose
:class:`SnapshotTable` snapshots as Spark SQL views (current state,
time-travel versions, and the tombstone-inclusive raw feed), so any
consumer can query the lake with plain ``spark.sql`` — the Spark-native
version of "create the relational views before loading" (reference
README.md:39-42 runs its DDL first for the same reason).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .parquet_snapshot import SnapshotTable


def register_views(
    spark: SparkSession,
    name: str,
    table: SnapshotTable,
    with_history: bool = False,
    with_raw: bool = False,
) -> list[str]:
    """Register lake views in the session catalog:

    * ``<name>``          — current live rows (tombstones filtered);
    * ``<name>_v<K>``     — each retained snapshot (time travel), when
                            ``with_history``;
    * ``<name>_raw``      — stored rows incl. tombstones + op column, when
                            ``with_raw`` (the CDC-feed view).

    Returns the registered view names. Views are session-scoped (temp)."""
    created = []
    table.read().createOrReplaceTempView(name)
    created.append(name)
    if with_history:
        for snap in table.snapshots():
            v = snap["version"]
            vname = f"{name}_v{v}"
            table.read(version=v).createOrReplaceTempView(vname)
            created.append(vname)
    if with_raw:
        rname = f"{name}_raw"
        table._read_stored().createOrReplaceTempView(rname)
        created.append(rname)
    return created

