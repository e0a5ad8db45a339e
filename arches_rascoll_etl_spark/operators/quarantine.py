"""Dead-letter quarantine: classify-and-divert malformed change events.

The reference tolerates bad staged values one at a time inside its
loader loop (json.loads wrapped in try/except returning None — a silent
per-value skip, ref_collection.py:80-85); a CDC engine applying 10^10
events needs the
same guarantee as a *set operation*: classify every event with pure
Column predicates (fused into the scan by whole-stage codegen — no
shuffle, no Python), divert the malformed ones to a quarantine lake
table under the same exactly-once batch-id idempotence as the main
merge, and never let a NULL key poison a bucket group or an unknown op
corrupt LWW state (Spark's groupBy treats NULLs as equal, so one null
key would silently collapse every malformed event into a single bogus
"row" of the table).

Reasons, in priority order (an event gets the FIRST that applies):

* ``null_key``   — any key column NULL: unmergeable, would group with
  every other null-keyed event.
* ``null_order`` — any ordering column NULL: LWW winner undefined.
* ``bad_op``     — op outside the valid set: apply semantics undefined.

At scale: the classifier is one pass of Column expressions; the split
is two pushed-down filters over the same scan. Dead letters land as
merge-on-read deltas (``streaming.pipeline._apply_batch``): one Spark job
whose write is O(this batch's bad rows); on a healthy stream it writes no
file and only records the batch id for idempotence. The quarantine table
compacts like any MOR table.
"""

from __future__ import annotations

import functools
from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: column added to the quarantined half
REASON_COL = "quarantine_reason"
#: column recording which replay batch diverted the row
SRC_BATCH_COL = "src_batch_id"

VALID_OPS = ("I", "U", "D")


def _any_null(cols: Sequence[str]) -> Column:
    return functools.reduce(
        lambda a, b: a | b, (F.col(c).isNull() for c in cols)
    )


def classify(
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    op_col: str | None = "op",
    valid_ops: Iterable[str] = VALID_OPS,
) -> Column:
    """Reason column: NULL for valid events, else the first failing rule."""
    expr = F.when(_any_null(key_cols), F.lit("null_key")).when(
        _any_null(order_cols), F.lit("null_order")
    )
    if op_col is not None:
        expr = expr.when(
            ~F.col(op_col).isin(*valid_ops), F.lit("bad_op")
        )
    return expr.otherwise(F.lit(None).cast("string"))


def split_quarantine(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    op_col: str | None = "op",
    valid_ops: Iterable[str] = VALID_OPS,
) -> tuple[DataFrame, DataFrame]:
    """(valid, quarantined) halves of a change batch.

    ``valid`` has the input schema; ``quarantined`` adds ``REASON_COL``.
    Both are filters over the same scan (predicates push down); neither
    shuffles.
    """
    reason = classify(key_cols, order_cols, op_col, valid_ops)
    tagged = df.withColumn(REASON_COL, reason)
    valid = tagged.where(F.col(REASON_COL).isNull()).drop(REASON_COL)
    quarantined = tagged.where(F.col(REASON_COL).isNotNull())
    return valid, quarantined


def as_quarantine_rows(
    quarantined: DataFrame, table, src_batch_id: str
) -> DataFrame:
    """Shape a quarantined half for merge into the quarantine table.

    The quarantine table is a normal lake table (exactly-once batch ids,
    MOR deltas, time travel), so the source's op column — whose whole problem
    may be that its value is invalid — must not drive LWW delete
    semantics there: it is renamed aside to ``src_<op>`` and the
    quarantine table's own op column is a constant insert.
    """
    out = quarantined.withColumn(SRC_BATCH_COL, F.lit(src_batch_id))
    op = table.op_col
    if op in out.columns:
        out = out.withColumnRenamed(op, f"src_{op}").withColumn(op, F.lit("I"))
    return out


def classify_constraints(constraints: "dict[str, Column | str]") -> Column:
    """Reason column for value-level CHECK constraints (Delta/Iceberg
    ``ALTER TABLE ADD CONSTRAINT CHECK`` analogue): NULL when every
    constraint HOLDS, else the first violated constraint's name, checked
    in dict order. A constraint is an SQL boolean string or Column over
    the event's columns; a NULL verdict (predicate over NULL values)
    counts as a VIOLATION — CHECK semantics here are strict because a row
    that cannot prove validity must not merge silently."""
    expr = None
    for name, pred in constraints.items():
        c = F.expr(pred) if isinstance(pred, str) else pred
        w = ~F.coalesce(c, F.lit(False))
        expr = F.when(w, F.lit(name)) if expr is None else expr.when(w, F.lit(name))
    if expr is None:
        return F.lit(None).cast("string")
    return expr.otherwise(F.lit(None).cast("string"))


def split_constraints(
    df: DataFrame, constraints: "dict[str, Column | str]"
) -> tuple[DataFrame, DataFrame]:
    """(valid, violations) halves of a change batch under value-level
    CHECK constraints — the data-quality companion to
    :func:`split_quarantine`'s structural rules, composing the same way:
    parse → split_quarantine → split_constraints → merge, with the
    violating half flowing into the quarantine table via
    :func:`as_quarantine_rows` (exactly-once, evidence preserved).

    Same scale shape as split_quarantine: the classifier is pure Column
    predicates fused into the scan, the split is two pushed-down filters,
    nothing shuffles, and a healthy stream's violations merge writes no
    file."""
    reason = classify_constraints(constraints)
    tagged = df.withColumn(REASON_COL, reason)
    valid = tagged.where(F.col(REASON_COL).isNull()).drop(REASON_COL)
    violations = tagged.where(F.col(REASON_COL).isNotNull())
    return valid, violations
