"""Isolation-forest outlier detection O4 (SURVEY §2.4).

Reference: sklearn ``IsolationForest(contamination=0.1, random_state=42)``
fit per single column (/root/reference/methods/outliers.py:110-119).

Spark has no isolation forest; the scalable pattern is sample-fit +
broadcast-score: fit sklearn on a driver-side sample (bounded by
``max_fit_rows``), broadcast the fitted model, and score every row with an
Arrow-vectorized pandas UDF. Exact parity with the reference requires
fitting on the FULL column (its fit is whole-column); we do that when the
table is small enough, otherwise sample — flagged approximate.

sklearn is import-gated: the container may not ship it. Without sklearn
the same fit/score flow runs on ``iforest_numpy.NumpyIsolationForest`` —
a pure-numpy implementation of the actual isolation-forest algorithm
(random isolation trees, 2^(−E[h]/c(n)) scores, contamination-quantile
threshold), so O4 keeps its advertised semantics; only sklearn's exact
RNG stream differs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..io import qcol

try:  # pragma: no cover - environment probe
    from sklearn.ensemble import IsolationForest  # type: ignore

    HAVE_SKLEARN = True
except Exception:  # pragma: no cover
    IsolationForest = None
    HAVE_SKLEARN = False


def isolation_forest_mask(
    df: DataFrame,
    cols: list[str],
    contamination: float = 0.1,
    random_state: int = 42,
    max_fit_rows: int = 1_000_000,
) -> Column:
    """Boolean Column, True where ANY target column flags the row."""
    spark = df.sparkSession
    n = df.count()

    def make_scorer(model):
        """Bind the broadcast model per column — a closure capturing the
        loop variable would serialize at action time and score every
        column with the LAST model."""
        bc = spark.sparkContext.broadcast(model)

        @F.pandas_udf("boolean")
        def score(s: pd.Series) -> pd.Series:
            import numpy as np

            m = bc.value
            vals = s.to_numpy(dtype=float).reshape(-1, 1)
            ok = ~np.isnan(vals[:, 0])
            out = pd.Series(False, index=s.index)
            if ok.any():
                out[ok] = m.predict(vals[ok]) == -1
            return out

        return score

    if HAVE_SKLEARN:
        def fit_model(values):
            m = IsolationForest(contamination=contamination, random_state=random_state)
            m.fit(values)
            return m
    else:
        # Pure-numpy isolation forest — same algorithm (Liu et al. '08),
        # same fit/predict surface; not sklearn's RNG stream.
        from .iforest_numpy import NumpyIsolationForest

        def fit_model(values):
            return NumpyIsolationForest(
                contamination=contamination, random_state=random_state
            ).fit(values)

    masks: Column | None = None
    for c in cols:
        col_df = df.select(qcol(c)).where(qcol(c).isNotNull())
        if n > max_fit_rows:
            col_pdf = col_df.sample(fraction=max_fit_rows / n, seed=random_state).toPandas()
        else:
            col_pdf = col_df.toPandas()
        # Sort the fit values: toPandas order follows scan/partition
        # planning, which is NOT part of the operator's contract — with a
        # seeded RNG, fitting on the sorted array makes the model (and so
        # the flagged set) a pure function of the VALUE MULTISET.
        col_pdf = col_pdf.sort_values(c).reset_index(drop=True)
        model = fit_model(col_pdf[[c]].values)
        p = make_scorer(model)(qcol(c).cast("double"))
        masks = p if masks is None else (masks | p)
    return masks if masks is not None else F.lit(False)
