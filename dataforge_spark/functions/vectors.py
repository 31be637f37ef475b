"""Vector math over ``array<float>`` embedding columns — pure Column
expressions (F.zip_with / F.aggregate), JVM-side, no UDFs. These are the
building blocks for similarity search and embedding near-dup detection."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# Arrow-batched scoring — the HOT-PATH variants. The pure-Column versions
# above are the readable reference implementation (and stay exact for
# oracles), but higher-order-function expressions are interpreted, NOT
# whole-stage-codegen'd: per-element lambda dispatch on every pair. For
# similarity scoring over millions of pairs the measured fix (same pattern
# as similarity/lsh.py's bucket matmul) is one numpy matmul per Arrow
# batch.
# ---------------------------------------------------------------------------


def to_matrix(
    vals: list, dim: int | None = None
) -> tuple[np.ndarray, "np.ndarray | None"]:
    """Arrow batch of array-typed values → ``(n, d)`` float64 matrix plus a
    bad-row mask (or None when the batch is clean). NULL, ragged-length,
    or non-numeric rows are zeroed and flagged instead of failing the
    task — shared by every batched vector scorer (cosine, LSH buckets,
    IVF assignment). The clean path is a single vectorized ``np.array``;
    the row-wise salvage only runs when that fails."""
    try:
        X = np.array(vals, dtype=np.float64)
        if X.ndim == 2 and (dim is None or X.shape[1] == dim):
            return X, None
        raise ValueError
    except (ValueError, TypeError):
        if dim is None:
            dims = [len(x) for x in vals if x is not None]
            dim = max(dims, default=1)
        X = np.zeros((len(vals), dim), dtype=np.float64)
        bad = np.zeros(len(vals), dtype=bool)
        for i, x in enumerate(vals):
            if x is None or len(x) != dim:
                bad[i] = True
                continue
            try:
                X[i] = np.asarray(x, dtype=np.float64)
            except (ValueError, TypeError):
                bad[i] = True
        return X, bad


def _row_cosine(X: np.ndarray, Y: np.ndarray) -> np.ndarray:
    """Row-wise cosine of two ``(n, d)`` matrices; zero-norm rows score 0.0."""
    num = np.einsum("nd,nd->n", X, Y)
    den = np.linalg.norm(X, axis=1) * np.linalg.norm(Y, axis=1)
    return np.where(den > 0, num / np.where(den > 0, den, 1.0), 0.0)


def batch_cosine_udf():
    """Pairwise cosine(a, b) as an Arrow-batched pandas UDF: one
    vectorized row-wise dot + norm per batch (float64). Each row scores
    on its own pair, whatever else shares its Arrow batch: zero-norm
    inputs score 0.0, matching ``cosine`` above; a NULL side, a-vs-b
    length mismatch, or non-numeric vector scores NULL instead of
    failing the task. (``cosine`` itself scores a NULL side as 0.0.)"""

    @F.pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        av, bv = a.tolist(), b.tolist()
        X, bad_x = to_matrix(av)
        Y, bad_y = to_matrix(bv)
        if bad_x is None and bad_y is None and X.shape[1] == Y.shape[1]:
            return pd.Series(_row_cosine(X, Y))
        # Salvage: score the valid pairs grouped by their shared width,
        # leave every other row NULL (NaN → null on the Arrow way out).
        width = np.array(
            [
                len(x) if x is not None and y is not None and len(x) == len(y)
                else -1
                for x, y in zip(av, bv)
            ],
            dtype=np.int64,
        )
        out = np.full(len(av), np.nan)
        for d in np.unique(width[width >= 0]):
            idx = np.flatnonzero(width == d)
            X, bad_x = to_matrix([av[i] for i in idx], int(d))
            Y, bad_y = to_matrix([bv[i] for i in idx], int(d))
            s = _row_cosine(X, Y)
            for bad in (bad_x, bad_y):
                if bad is not None:
                    s[bad] = np.nan
            out[idx] = s
        return pd.Series(out)

    return cos
