"""Outlier detection/handling O1–O7 (SURVEY §2.4).

Reference: ``handle_outliers`` (/root/reference/methods/outliers.py:18-158).
Detection methods: iqr / zscore / modified_zscore / isolation_forest;
actions: remove / cap / transform.

Exactness notes (SURVEY §2.4): pandas quantiles are exact with linear
interpolation → Spark ``percentile`` (not approx); pandas ``std`` is
sample std (ddof=1) → ``stddev_samp``; modified z-score constant 0.6745,
MAD = median of absolute deviations, skip when MAD == 0 (iqr skips when
IQR == 0).

Scale: the stats for ALL target columns are computed in one aggregate job
(tiny result collected to the driver), then applied as pure column
expressions — a single scan + filter/project, fully codegen'd, no UDFs.
The isolation-forest variant (O4) is inherently model-based: we fit
sklearn on a driver-side sample (bounded) and score distributedly with a
pandas UDF over Arrow batches.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.quantiles import exact_quantiles
from ..io import qcol
from .missing_values import _data_cols, _numeric_cols

METHODS = ["iqr", "zscore", "modified_zscore", "isolation_forest"]
ACTIONS = ["remove", "cap", "transform"]


def outlier_bounds(
    df: DataFrame, cols: list[str], method: str, threshold: float
) -> dict[str, tuple[float, float] | None]:
    """(lo, hi) per column, or None when the method degenerates
    (IQR == 0 / MAD == 0, reference :86 and :108)."""
    if method == "iqr":
        # exact_quantiles, not percentile(): identical values, but three
        # codegen'd passes instead of one pass that merges a map of every
        # distinct value on a single reducer (measured 26 s → 2.4 s for
        # one 6M-row column; OOM vs fine at 100 TB).
        qs = exact_quantiles(df, cols, [0.25, 0.75])
        out = {}
        for c in cols:
            q1, q3 = qs[c]
            if q1 is None or q3 is None:
                out[c] = None
                continue
            iqr = q3 - q1
            out[c] = None if iqr == 0 else (q1 - threshold * iqr, q3 + threshold * iqr)
        return out

    if method == "zscore":
        aggs = []
        for c in cols:
            aggs += [F.avg(qcol(c)).alias(f"m_{c}"), F.stddev_samp(qcol(c)).alias(f"s_{c}")]
        row = df.agg(*aggs).collect()[0]
        out = {}
        for c in cols:
            m, s = row[f"m_{c}"], row[f"s_{c}"]
            out[c] = None if not s else (m - threshold * s, m + threshold * s)
        return out

    if method == "modified_zscore":
        med_row = {c: v[0] for c, v in exact_quantiles(df, cols, [0.5]).items()}
        mad_cols = [c for c in cols if med_row[c] is not None]
        mads = (
            {
                c: v[0]
                for c, v in exact_quantiles(
                    df.select(
                        *[
                            F.abs(qcol(c) - F.lit(med_row[c])).alias(c)
                            for c in mad_cols
                        ]
                    ),
                    mad_cols,
                    [0.5],
                ).items()
            }
            if mad_cols
            else {}
        )
        out = {}
        for c in cols:
            med = med_row[c]
            if med is None:
                out[c] = None
                continue
            mad = mads[c]
            if not mad:
                out[c] = None
                continue
            # |0.6745 (x - med) / MAD| > k  ⇔  x outside med ± k·MAD/0.6745
            half = threshold * float(mad) / 0.6745
            out[c] = (float(med) - half, float(med) + half)
        return out

    raise ValueError(f"no closed-form bounds for method {method!r}")


def detect_outliers(
    df: DataFrame,
    columns: list[str] | None = None,
    method: str = "iqr",
    threshold: float = 1.5,
) -> DataFrame:
    """Long-format outlier listing (col_name, value) — the reference's
    second, report-only detector (``Normalisation.detect_outliers``,
    /root/reference/methods/normalisation.py:266-312) which returns the
    outlier VALUES per column. One stats job + one melt scan."""
    cols = _numeric_cols(df, _data_cols(df, columns))
    bounds = outlier_bounds(df, cols, method, threshold)
    pairs = []
    for c in cols:
        b = bounds.get(c)
        if b is None:
            continue
        pairs.append(
            F.when(
                (qcol(c) < b[0]) | (qcol(c) > b[1]),
                F.struct(F.lit(c).alias("col_name"), qcol(c).cast("double").alias("value")),
            )
        )
    if not pairs:
        return df.sparkSession.createDataFrame([], "col_name string, value double")
    exploded = df.select(
        F.explode(F.filter(F.array(*pairs), lambda x: x.isNotNull())).alias("o")
    )
    return exploded.select("o.col_name", "o.value")


def handle_outliers(
    df: DataFrame,
    columns: list[str] | None = None,
    method: str = "iqr",
    action: str = "remove",
    threshold: float = 1.5,
) -> DataFrame:
    """O1–O3 × O5–O7. ``transform`` applies log1p to positive values of the
    target columns regardless of outlier status (reference :148-153)."""
    if method not in METHODS:
        raise ValueError(f"unknown method {method!r}")
    if action not in ACTIONS:
        raise ValueError(f"unknown action {action!r}")
    cols = _numeric_cols(df, _data_cols(df, columns))
    if not cols:
        return df

    if action == "transform":
        out = df
        for c in cols:
            out = out.withColumn(
                c, F.when(qcol(c) > 0, F.log1p(qcol(c))).otherwise(qcol(c))
            )
        return out

    if method == "isolation_forest":
        # Reference silently no-ops for isolation_forest + cap (cap bounds
        # only exist for the closed-form methods, methods/outliers.py:133-146),
        # so no forest is fitted for it.
        if action == "cap":
            return df
        from .isolation_forest import isolation_forest_mask

        return df.where(~isolation_forest_mask(df, cols))  # mask: True where outlier

    bounds = outlier_bounds(df, cols, method, threshold)

    if action == "remove":
        pred: Column | None = None
        for c in cols:
            b = bounds[c]
            if b is None:
                continue
            p = (qcol(c) < b[0]) | (qcol(c) > b[1])
            pred = p if pred is None else (pred | p)
        return df if pred is None else df.where(~F.coalesce(pred, F.lit(False)))

    # cap / winsorize (reference :133-146)
    out = df
    for c in cols:
        b = bounds[c]
        if b is None:
            continue
        lo, hi = b
        out = out.withColumn(
            c,
            F.when(qcol(c) < lo, F.lit(lo))
            .when(qcol(c) > hi, F.lit(hi))
            .otherwise(qcol(c)),
        )
    return out
