"""Duplicate removal D1 (SURVEY §2.3).

Reference: ``/root/reference/methods/duplicate.py:36-45`` — pandas
``drop_duplicates(keep='first')`` in row order + duplicate count.

Two modes:

* ``keep="any"`` → plain ``dropDuplicates`` — the 100 TB path (hash
  shuffle on the key columns, partial dedup map-side, no global sort).
  For exact-row dedup the kept row is indistinguishable from the dropped
  ones, so this is semantically identical whenever no out-of-subset
  columns survive.
* ``keep="first"`` → order-faithful keep-first over ``order_col`` via a
  window ``row_number() == 1``; needed only when a subset is given and
  other columns (e.g. ``_row_id``) must come from the FIRST occurrence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..io import ROW_ID, qcol


def duplicate_count(df: DataFrame, subset: list[str] | None = None) -> int:
    """Count of rows that are repeats of an earlier row (first occurrence
    not counted) — matches ``df.duplicated().sum()``
    (/root/reference/methods/duplicate.py:38)."""
    cols = subset or [c for c in df.columns if c != ROW_ID]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.struct(*cols)).alias("d"),
    ).collect()[0]
    return int(row["n"] - row["d"])


def drop_duplicates(
    df: DataFrame,
    subset: list[str] | None = None,
    keep: str = "first",
    order_col: str = ROW_ID,
) -> DataFrame:
    if keep not in ("first", "last", "any"):
        raise ValueError(f"keep must be first|last|any, got {keep!r}")
    cols = subset or [c for c in df.columns if c != ROW_ID]
    extra = [c for c in df.columns if c not in cols]
    if keep == "any" or not extra or order_col not in df.columns:
        # No surviving column depends on WHICH row we keep → cheapest plan.
        return df.dropDuplicates(cols)
    if extra == [order_col]:
        # The ONLY carried column is the order key itself (the whole-row
        # dedup the pipeline runs): keep-first is exactly min(order) per
        # group — a hash aggregate with map-side partial min, no
        # per-group sort. The window below pays a full-width sort per
        # partition; measured 24 s vs 7 s at 6M mostly-unique rows.
        # NULL parity with the window paths (asc = nulls FIRST, desc =
        # nulls LAST): keep-first selects NULL when the group has any
        # NULL order value (min() alone would skip it); keep-last's
        # max() skips NULLs exactly like the desc sort does.
        if keep == "first":
            agg = F.when(
                F.count(F.lit(1)) > F.count(qcol(order_col)), F.lit(None)
            ).otherwise(F.min(qcol(order_col)))
        else:
            agg = F.max(qcol(order_col))
        return (
            df.groupBy(*[qcol(c) for c in cols])
            .agg(agg.alias(order_col))
            .select(*[qcol(c) for c in df.columns])
        )
    o = qcol(order_col)
    w = Window.partitionBy(*[qcol(c) for c in cols]).orderBy(
        o.asc() if keep == "first" else o.desc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
