"""Distributed PCA over an embedding column — dimensionality reduction
ahead of the similarity/dedup stack (project 768-d crawl embeddings to
64-d before IVF/PQ/SemDeDup and every distance gets ~10× cheaper at
near-identical recall; classic public method, e.g. Jolliffe).

No counterpart in the reference; LLM-pipeline extension tier next to
``similarity/{ivf,pq,lsh}``.

Scale design:

- **Fit** is ONE shuffle-free ``mapInPandas`` pass: each Arrow batch
  folds to ``(n, Σx, ΣxxᵀT)`` — a single ``(d+1)×d`` float64 partial
  per batch — and the driver sums partials and runs the ``d×d``
  eigendecomposition once. Exact (not iterative), layout-independent:
  the moments are sums. Practical to ``d`` ≈ a few thousand (the
  ``d×d`` partial is the bound: 2 k-dim → 32 MB per batch); beyond
  that use a sketch/iterative method this module intentionally omits.
- **Projection** broadcasts the ``k×d`` component matrix in one Arrow
  ``pandas_udf`` doing a whole-batch numpy matmul.
- **Determinism**: eigenvector signs are fixed content-wise (largest-
  magnitude coordinate made positive), so refits on reshuffled data
  agree to float tolerance, never up to sign.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class PcaModel:
    """mean (d,), components (k, d) row-major principal axes ordered by
    explained variance, explained_variance (k,), explained_ratio (k,)."""

    def __init__(self, mean, components, explained_variance, total_variance):
        self.mean = np.asarray(mean, dtype=np.float64)
        self.components = np.asarray(components, dtype=np.float64)
        self.explained_variance = np.asarray(
            explained_variance, dtype=np.float64
        )
        self.total_variance = float(total_variance)

    @property
    def k(self) -> int:
        return self.components.shape[0]

    @property
    def d(self) -> int:
        return self.components.shape[1]

    @property
    def explained_ratio(self) -> np.ndarray:
        if self.total_variance <= 0:
            return np.zeros_like(self.explained_variance)
        return self.explained_variance / self.total_variance

    def transform(self, x: np.ndarray, whiten: bool = False) -> np.ndarray:
        y = (np.asarray(x, dtype=np.float64) - self.mean) @ self.components.T
        if whiten:
            y = y / np.sqrt(np.maximum(self.explained_variance, 1e-12))
        return y


def fit_pca(df: DataFrame, col: str, k: int) -> PcaModel:
    """Exact PCA of the ``array<float/double>`` column. NULL or ragged
    vectors (length ≠ the corpus' first seen dimension) are skipped —
    consistent with the NULL carve-outs of the dedup stack; the model
    is fit on the well-formed rows."""
    from pyspark.sql import types as T

    if k <= 0:
        raise ValueError("k must be positive")
    first = df.select(F.size(F.col(col)).alias("d")).where(
        F.col("d") > 0
    ).first()
    if first is None:
        raise ValueError(f"no non-empty vectors in column {col!r}")
    d = int(first["d"])
    if k > d:
        raise ValueError(f"k={k} exceeds vector dimension d={d}")

    schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.BinaryType()),    # Σx  (d,)
            T.StructField("ss", T.BinaryType()),   # Σxxᵀ (d,d)
        ]
    )

    def fold(batches):
        import pandas as pd

        for pdf in batches:
            n = 0
            s = np.zeros(d, dtype=np.float64)
            ss = np.zeros((d, d), dtype=np.float64)
            vecs = [
                np.asarray(v, dtype=np.float64)
                for v in pdf[col]
                if v is not None and len(v) == d
            ]
            if vecs:
                m = np.vstack(vecs)
                n = m.shape[0]
                s = m.sum(axis=0)
                ss = m.T @ m
            yield pd.DataFrame(
                {"n": [n], "s": [s.tobytes()], "ss": [ss.tobytes()]}
            )

    parts = df.select(col).mapInPandas(fold, schema=schema).collect()
    n = 0
    s = np.zeros(d, dtype=np.float64)
    ss = np.zeros((d, d), dtype=np.float64)
    for r in parts:
        n += r["n"]
        s += np.frombuffer(bytes(r["s"]), dtype=np.float64)
        ss += np.frombuffer(bytes(r["ss"]), dtype=np.float64).reshape(d, d)
    if n < 2:
        raise ValueError(f"need ≥2 well-formed vectors, got {n}")

    mean = s / n
    cov = (ss - n * np.outer(mean, mean)) / (n - 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T
    # content-keyed sign convention: largest-|coordinate| positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return PcaModel(
        mean,
        comps,
        np.maximum(evals[order], 0.0),
        total_variance=float(np.maximum(evals, 0.0).sum()),
    )


def project_pca(col, model: PcaModel, whiten: bool = False) -> Column:
    """Project the embedding column onto the model's ``k`` axes
    (``array<double>``): one Arrow batch matmul. NULL/ragged vectors →
    NULL (same carve-out as the fit)."""
    from pyspark.sql.functions import pandas_udf

    mean, comps = model.mean, model.components
    scale = (
        np.sqrt(np.maximum(model.explained_variance, 1e-12))
        if whiten
        else None
    )
    d = model.d

    @pandas_udf("array<double>")
    def proj(s):
        def one(v):
            if v is None or len(v) != d:
                return None
            y = (np.asarray(v, dtype=np.float64) - mean) @ comps.T
            if scale is not None:
                y = y / scale
            return y.tolist()

        return s.map(one)

    return proj(F.col(col) if isinstance(col, str) else col)
