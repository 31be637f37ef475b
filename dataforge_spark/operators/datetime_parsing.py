"""Datetime parsing DT1–DT2 (SURVEY §2.7) — the ADVERTISED contract.

Reference: /root/reference/methods/dateTimeParsing.py:3-28 (ratio-gated
``pd.to_datetime``) plus the advertised-but-unwired feature extraction
(/root/reference/main.py:290-298). NOTE the reference's wiring bug makes
this op a no-op in every recorded run (SURVEY §2.7); we implement what it
advertises: parse string columns whose parse-ratio over ALL rows exceeds
50%, optionally appending ``{col}_year/month/day/dayofweek/hour`` columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io import ROW_ID, qcol
from .type_conversion import (
    DATETIME_FORMATS,
    _elect_datetime_formats,
    _strftime_to_spark,
    parse_timestamp_expr,
)

FEATURES = {
    "year": F.year,
    "month": F.month,
    "day": F.dayofmonth,
    "dayofweek": F.dayofweek,  # 1=Sunday … 7=Saturday (Spark convention)
    "hour": F.hour,
}


def _check_pattern(df: DataFrame, pattern: str) -> None:
    """Raise ValueError when Spark cannot parse with ``pattern``
    ('YYYY-MM-dd', 'yyyy-MM-dd E', 'GGGGG'). Spark itself only finds out
    when the plan runs, so without this a bad pattern passes the op and
    fails the write. The check builds the JVM's own parsing formatter on
    the driver and starts no Spark job; a pattern's validity does not
    depend on the time zone, so UTC stands in for the session's."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import CapturedException

    jvm = df.sparkSession._jvm
    try:
        jvm.org.apache.spark.sql.catalyst.util.TimestampFormatter.apply(
            pattern, jvm.java.time.ZoneId.of("UTC"), True
        ).validatePatternString(True)
    except (CapturedException, Py4JJavaError) as e:
        # PySpark converts most JVM errors to CapturedException subclasses;
        # their first two lines name the error and the pattern
        msg = " ".join(str(e).splitlines()[:2])
        raise ValueError(f"invalid date_format {pattern!r}: {msg}") from None


def parse_datetime_columns(
    df: DataFrame,
    columns: list[str] | None = None,
    date_format: str | None = None,
    auto_detect: bool = True,
    extract_features: bool = False,
    min_parse_ratio: float = 0.5,
    errors: str = "coerce",
) -> DataFrame:
    """``errors``: 'coerce' nulls unparseable values (pandas default in
    the reference, methods/dateTimeParsing.py:21); 'raise' errors when an
    adopted column still has unparseable non-null values; 'ignore' leaves
    such columns entirely unchanged (pandas astype semantics).
    ``date_format`` is a strftime pattern, as the reference's pandas takes
    it ('%d/%m/%Y'), or a Spark datetime pattern ('dd/MM/yyyy')."""
    if errors not in ("coerce", "raise", "ignore"):
        raise ValueError(f"errors must be coerce|raise|ignore, got {errors!r}")
    if date_format:
        fmts = [_strftime_to_spark(date_format)]
        _check_pattern(df, fmts[0])
    else:
        fmts = DATETIME_FORMATS
    if columns is None:
        columns = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, T.StringType) and f.name != ROW_ID
        ]
    candidates = [c for c in columns if c in df.columns]
    ts_cols: list[str] = [
        f.name for f in df.schema.fields
        if isinstance(f.dataType, (T.TimestampType, T.DateType)) and f.name in (columns or [])
    ]

    str_candidates = [c for c in candidates if c not in ts_cols]
    # Bound the formats each full-data expression pays for (same
    # sample-election as T3, type_conversion._elect_datetime_formats):
    # with an explicit date_format the list is already 1; otherwise the
    # driver-side sample keeps only formats that parse >=1 sampled value
    # (typically 1-2 of the 8 — the gate + cast then evaluate 1-2
    # try_to_timestamp per row instead of 8; measured 4x on 1.5M rows).
    # An all-NULL sample falls back to the full list inside the helper.
    if date_format or not str_candidates:
        col_fmts = {c: fmts for c in str_candidates}
    else:
        col_fmts = _elect_datetime_formats(df, str_candidates)
    adopt: list[str] = []
    if str_candidates and auto_detect:
        # DT1 gate: parsed-count / TOTAL rows > ratio (reference :23 uses
        # all rows, not non-null rows). One aggregate job for all columns.
        aggs = [F.count(F.lit(1)).alias("__n")] + [
            F.count(
                parse_timestamp_expr(qcol(c), col_fmts[c])
                if col_fmts[c] else F.lit(None)
            ).alias(c)
            for c in str_candidates
        ]
        row = df.agg(*aggs).collect()[0]
        n = row["__n"] or 1
        adopt = [c for c in str_candidates if row[c] / n > min_parse_ratio]
    elif str_candidates:
        adopt = [c for c in str_candidates if col_fmts[c]]

    if adopt and errors in ("raise", "ignore"):
        bad = df.agg(
            *[
                F.sum(
                    (qcol(c).isNotNull()
                     & parse_timestamp_expr(qcol(c), col_fmts[c]).isNull())
                    .cast("long")
                ).alias(c)
                for c in adopt
            ]
        ).collect()[0]
        failing = [c for c in adopt if bad[c]]
        if failing and errors == "raise":
            raise ValueError(f"unparseable datetime values in columns {failing}")
        if failing:  # ignore: leave those columns untouched
            adopt = [c for c in adopt if c not in failing]

    out = df
    for c in adopt:
        out = out.withColumn(c, parse_timestamp_expr(qcol(c), col_fmts[c]))
    if extract_features:
        for c in adopt + ts_cols:
            for feat, fn in FEATURES.items():
                out = out.withColumn(f"{c}_{feat}", fn(qcol(c)))
    return out
