"""Feature binning / discretization (extension, SURVEY §7.7 class).

pandas-parity semantics:

* ``strategy="quantile"`` ≡ ``pd.qcut(v, n_bins, labels=False,
  duplicates="drop")``: edges are EXACT linear-interpolated quantiles
  (``functions.quantiles.exact_quantiles`` — the distributed exact path,
  not a sketch), interior duplicate edges collapse, intervals are
  right-closed ``(a, b]`` so a value equal to an interior edge falls in
  the LOWER bin.
* ``strategy="uniform"`` ≡ ``pd.cut(v, n_bins, labels=False)``:
  equal-width edges from one min/max aggregate.

Scale: one statistics job for ALL columns (shared quantile/min-max
pass), then a pure projection — the ordinal is a sum of
``(v > edge)`` comparisons over ≤ ``n_bins − 1`` literal edges, fully
whole-stage-codegen'd, zero shuffles, zero Python. NULLs stay NULL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..io import ROW_ID, qcol
from .missing_values import _data_cols, _numeric_cols


def bin_columns(
    df: DataFrame,
    columns: list[str] | None = None,
    n_bins: int = 10,
    strategy: str = "quantile",
    suffix: str = "_bin",
) -> tuple[DataFrame, dict[str, list[float]]]:
    """Add ``{col}{suffix}`` ordinal bin columns (int, NULL-preserving).
    Returns (df, {col: interior_edges}) — the fitted edges, so the same
    binning can be replayed on a second frame (fit/transform)."""
    if strategy not in ("quantile", "uniform"):
        raise ValueError(f"unknown binning strategy: {strategy!r}")
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    cols = _numeric_cols(df, _data_cols(df, columns))
    if not cols:
        return df, {}

    edges: dict[str, list[float]] = {}
    if strategy == "quantile":
        from ..functions.quantiles import exact_quantiles

        # prob 0 rides the same pass: interior edges EQUAL to the column
        # minimum must be dropped (pd.qcut collapses them into the outer
        # edge — with ≥1/n_bins of the mass at the minimum, keeping such
        # an edge shifts every later bin up by one). Max-equal edges are
        # harmless: (v > max) is never true.
        probs = [0.0] + [i / n_bins for i in range(1, n_bins)]
        q = exact_quantiles(df, cols, probs)
        for c in cols:
            mn = q[c][0]
            vals = [v for v in q[c][1:] if v is not None]
            # pd.qcut(duplicates="drop"): collapse equal edges
            edges[c] = sorted(
                set(v for v in vals if mn is None or v > mn)
            )
    else:
        row = df.agg(
            *[F.min(qcol(c).cast("double")).alias(f"mn_{c}") for c in cols],
            *[F.max(qcol(c).cast("double")).alias(f"mx_{c}") for c in cols],
        ).collect()[0]
        for c in cols:
            mn, mx = row[f"mn_{c}"], row[f"mx_{c}"]
            if mn is None or mx is None or mn == mx:
                # degenerate domain (constant or all-null column): a
                # single bin 0 — pd.cut instead widens the point range
                # and lands constants mid-bin; one bucket is the saner
                # contract and is what qcut's duplicates="drop" yields
                edges[c] = []
            else:
                step = (mx - mn) / n_bins
                edges[c] = [mn + i * step for i in range(1, n_bins)]

    return apply_bins(df, edges, suffix=suffix), edges


def apply_bins(
    df: DataFrame, edges: dict[str, list[float]], suffix: str = "_bin"
) -> DataFrame:
    """Transform with pre-fitted interior edges: ordinal = number of
    edges strictly below the value (right-closed intervals, pandas
    ``labels=False`` parity)."""
    out = df
    for c, es in edges.items():
        if c == ROW_ID or c not in out.columns:
            continue
        v = qcol(c).cast("double")
        ordinal = F.lit(0)
        for e in es:
            ordinal = ordinal + (v > F.lit(float(e))).cast("int")
        # NaN (like NULL) has no bin — pd.cut/qcut emit NaN labels for it;
        # without the isnan guard NaN > edge is false and it lands in bin 0
        out = out.withColumn(
            f"{c}{suffix}",
            F.when(v.isNotNull() & ~F.isnan(v), ordinal).cast("int"),
        )
    return out
