"""Exact deduplication by content hash (extension, SURVEY §7.7).

Hash-groupBy: one shuffle on a 128-bit digest instead of the full text —
at 100 TB the shuffle moves ~36 bytes/row, not documents. Keep-min-id
makes the survivor deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text_analysis import fingerprint


def dedup_exact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalized: bool = False,
) -> DataFrame:
    """Keep, per distinct content, the row with the smallest id.

    ``normalized=True`` dedups on the whitespace/case-normalized
    fingerprint instead of raw bytes.

    Physical shape (round 8): one ``min(struct(id, rest...))`` aggregate
    keyed on the digest — struct comparison is lexicographic with the id
    leading, so the survivor is EXACTLY the min-id row (ties broken
    deterministically by the remaining columns, NULL id ordered first
    like the old window's ASC NULLS FIRST), and map-side combine
    collapses duplicates before the exchange. The previous
    ``row_number()`` window shuffled every full row by digest and then
    sorted each partition just to pick a min — strictly more work for
    the same survivor set (measured 0.80 → 0.68 s on the 60k-doc sf1
    row; ``min_by(struct, id)`` measured 0.85 and leaves non-id ties
    engine-arbitrary, so it is only the fallback for rows carrying
    unorderable (map-typed) columns).
    """
    clash = {"_h", "_r"} & set(df.columns)
    if clash:
        raise ValueError(f"columns {sorted(clash)} are reserved by dedup_exact")
    h = fingerprint(F.col(text_col)) if normalized else F.md5(F.col(text_col))
    cols = [id_col] + [c for c in df.columns if c != id_col]
    # map types (top-level OR nested) are unorderable → struct-min illegal
    unorderable = "map<" in df.schema.simpleString()
    # The fallback's ordering key wraps the id as (isNotNull, id):
    # min_by SKIPS rows whose ordering expression is NULL, so a bare id
    # key would (a) invert the NULLS FIRST survivor rule and (b) return
    # a fabricated all-NULL struct for a digest group whose every id is
    # NULL; the struct key is never NULL itself and sorts NULL ids first.
    agg = (
        F.min_by(
            F.struct(*df.columns),
            F.struct(
                F.col(id_col).isNotNull().alias("nn"),
                F.col(id_col).alias("v"),
            ),
        )
        if unorderable
        else F.min(F.struct(*cols))
    )
    out = (
        df.withColumn("_h", h)
        .groupBy("_h")
        .agg(agg.alias("_r"))
        .select("_r.*")
    )
    # restore the caller's column order (the struct leads with id)
    return out.select(*df.columns)
