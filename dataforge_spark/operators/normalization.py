"""Normalization N1–N6 (SURVEY §2.10).

Reference: ``Normalisation.normalize_data``
(/root/reference/methods/normalisation.py:22-264).

Exactness notes: sklearn StandardScaler uses POPULATION std (ddof=0) →
``stddev_pop`` (pandas .std() would be ddof=1 — wrong here); RobustScaler
divides by Q3−Q1 with exact linear-interpolated quantiles → ``percentile``;
``normalize`` is ROW-wise L2 across the selected numeric columns.

Scale: fit statistics for all columns in one aggregate job, applied as
broadcast literals in a single projection. Fitted params are returned for
inverse_transform (N5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.quantiles import exact_quantiles
from ..io import qcol
from .missing_values import _data_cols, _numeric_cols

METHODS = ["standard", "minmax", "robust", "normalize"]


def normalize_data(
    df: DataFrame,
    columns: list[str] | None = None,
    method: str = "minmax",
    feature_range: tuple[float, float] = (0.0, 1.0),
    with_mean: bool = True,
    with_std: bool = True,
) -> tuple[DataFrame, dict]:
    """Returns (df, fitted_params) — params feed inverse_transform (N5)."""
    if method not in METHODS:
        raise ValueError(f"unknown method {method!r}")
    cols = _numeric_cols(df, _data_cols(df, columns))
    if not cols:
        return df, {}

    params: dict[str, dict[str, float]] = {"__method": method}  # type: ignore[dict-item]

    if method == "standard":
        aggs = []
        for c in cols:
            aggs += [F.avg(qcol(c)).alias(f"m_{c}"), F.stddev_pop(qcol(c)).alias(f"s_{c}")]
        row = df.agg(*aggs).collect()[0]
        out = df
        for c in cols:
            m = row[f"m_{c}"] if with_mean else 0.0
            s = row[f"s_{c}"] if with_std else 1.0
            s = s if s else 1.0  # sklearn: zero-variance → divide by 1
            params[c] = {"mean": m, "scale": s}
            out = out.withColumn(c, (qcol(c) - F.lit(m)) / F.lit(s))
        return out, params

    if method == "minmax":
        a, b = feature_range
        aggs = []
        for c in cols:
            aggs += [F.min(qcol(c)).alias(f"lo_{c}"), F.max(qcol(c)).alias(f"hi_{c}")]
        row = df.agg(*aggs).collect()[0]
        out = df
        for c in cols:
            lo, hi = row[f"lo_{c}"], row[f"hi_{c}"]
            span = (hi - lo) if hi is not None and lo is not None and hi != lo else 1.0
            params[c] = {"min": lo, "span": span, "a": a, "b": b}
            out = out.withColumn(
                c, (qcol(c) - F.lit(lo)) / F.lit(span) * F.lit(b - a) + F.lit(a)
            )
        return out, params

    if method == "robust":
        # exact_quantiles avoids percentile()'s single-reducer distinct-value
        # map (a measured ~11× at 6M rows, an OOM at 100 TB) with identical
        # interpolated values.
        qs = exact_quantiles(df, cols, [0.25, 0.5, 0.75])
        out = df
        for c in cols:
            if any(x is None for x in qs[c]):  # all-null column: leave as-is
                continue
            q1, med, q3 = (float(x) for x in qs[c])
            iqr = (q3 - q1) or 1.0
            params[c] = {"center": med, "scale": iqr}
            out = out.withColumn(c, (qcol(c) - F.lit(med)) / F.lit(iqr))
        return out, params

    # normalize: row-wise L2 across the selected columns (N4). One SELECT so
    # every column divides by the norm of the ORIGINAL row values.
    norm = F.sqrt(sum((F.coalesce(qcol(c), F.lit(0.0)) ** 2 for c in cols), F.lit(0.0)))
    out = df.select(
        *[
            F.when(norm > 0, qcol(c) / norm).otherwise(qcol(c)).alias(c)
            if c in cols
            else qcol(c)
            for c in df.columns
        ]
    )
    return out, params


def inverse_transform(df: DataFrame, params: dict) -> DataFrame:
    """N5 — undo standard/minmax/robust using retained params."""
    method = params.get("__method")
    out = df
    for c, p in params.items():
        if c == "__method" or c not in df.columns:
            continue
        if method == "standard":
            out = out.withColumn(c, qcol(c) * F.lit(p["scale"]) + F.lit(p["mean"]))
        elif method == "minmax":
            out = out.withColumn(
                c,
                (qcol(c) - F.lit(p["a"])) / F.lit(p["b"] - p["a"]) * F.lit(p["span"])
                + F.lit(p["min"]),
            )
        elif method == "robust":
            out = out.withColumn(c, qcol(c) * F.lit(p["scale"]) + F.lit(p["center"]))
        else:
            raise ValueError(f"cannot invert method {method!r}")
    return out


def scaling_statistics_df(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """N6 as a long-format DataFrame (col_name, mean, std, min, max, q25,
    q75, skew, kurt) — SQL-comparable for the oracle. NOTE: skew/kurt use
    Spark's population formulas (m3/m2^1.5, m4/m2²−3), not pandas'
    bias-corrected ones — documented divergence, SURVEY §2.10 N6."""
    stats = scaling_statistics(df, columns)
    data = [
        (c, *[float(s[k]) if s[k] is not None else None
              for k in ("mean", "std", "min", "max", "q25", "q75", "skew", "kurt")])
        for c, s in stats.items()
    ]
    return df.sparkSession.createDataFrame(
        data,
        "col_name string, mean double, std double, min double, max double, "
        "q25 double, q75 double, skew double, kurt double",
    )


def scaling_statistics(df: DataFrame, columns: list[str] | None = None) -> dict:
    """N6 — per-column mean/std/min/max/q25/q75/skewness/kurtosis.
    (pandas skew/kurt are bias-corrected, Spark's are not — metrics only.)"""
    cols = _numeric_cols(df, _data_cols(df, columns))
    aggs = []
    for c in cols:
        aggs += [
            F.avg(qcol(c)).alias(f"mean_{c}"), F.stddev_samp(qcol(c)).alias(f"std_{c}"),
            F.min(qcol(c)).alias(f"min_{c}"), F.max(qcol(c)).alias(f"max_{c}"),
            F.skewness(qcol(c)).alias(f"skew_{c}"), F.kurtosis(qcol(c)).alias(f"kurt_{c}"),
        ]
    if not aggs:
        return {}
    row = df.agg(*aggs).collect()[0]
    qs = exact_quantiles(df, cols, [0.25, 0.75])
    return {
        c: {
            **{k: row[f"{k}_{c}"] for k in ("mean", "std", "min", "max", "skew", "kurt")},
            "q25": qs[c][0],
            "q75": qs[c][1],
        }
        for c in cols
    }
