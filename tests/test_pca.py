"""Distributed PCA: numpy-twin parity, variance accounting, sign/
layout determinism, whitening, carve-outs, validation."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from dataforge_spark.similarity.pca import PcaModel, fit_pca, project_pca

D, N = 12, 400


def _data(seed=0):
    rng = np.random.default_rng(seed)
    # anisotropic cloud: variance concentrated along a few axes
    basis = rng.normal(size=(D, D))
    scales = np.array([20, 10, 5] + [0.5] * (D - 3))
    x = rng.normal(size=(N, D)) * scales
    return x @ basis.T / 10 + rng.normal(size=D)


def _df(spark, x, parts=4):
    return spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id bigint, embedding array<double>",
    ).repartition(parts)


@pytest.fixture(scope="module")
def fitted(spark):
    x = _data()
    return x, fit_pca(_df(spark, x), "embedding", k=3)


def test_matches_numpy_twin(fitted):
    x, m = fitted
    mean = x.mean(axis=0)
    cov = np.cov(x, rowvar=False, ddof=1)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:3]
    assert np.allclose(m.mean, mean, atol=1e-9)
    assert np.allclose(m.explained_variance, evals[order], atol=1e-9)
    for i, j in enumerate(order):
        v = evecs[:, j]
        # same axis up to sign; the model's sign convention then pins it
        assert min(
            np.abs(m.components[i] - v).max(),
            np.abs(m.components[i] + v).max(),
        ) < 1e-9
    assert (m.explained_ratio >= 0).all() and m.explained_ratio.sum() <= 1 + 1e-12


def test_variance_ordering_and_projection(spark, fitted):
    x, m = fitted
    df = _df(spark, x)
    proj = df.select(
        "vec_id", project_pca("embedding", m).alias("p")
    ).collect()
    p = np.array([r["p"] for r in sorted(proj, key=lambda r: r["vec_id"])])
    # projected variance per axis equals the eigenvalues, descending
    var = p.var(axis=0, ddof=1)
    assert np.allclose(var, m.explained_variance, rtol=1e-9)
    assert (np.diff(m.explained_variance) <= 1e-9).all()
    # and agrees with the driver-side transform
    assert np.allclose(p, m.transform(x), atol=1e-9)


def test_layout_independent_fit(spark):
    x = _data(seed=7)
    a = fit_pca(_df(spark, x, parts=2), "embedding", k=3)
    b = fit_pca(_df(spark, x[::-1], parts=13), "embedding", k=3)
    assert np.allclose(a.components, b.components, atol=1e-8)
    assert np.allclose(a.mean, b.mean, atol=1e-10)


def test_whiten(spark, fitted):
    x, m = fitted
    p = np.array([
        r["p"] for r in sorted(
            _df(spark, x).select(
                "vec_id", project_pca("embedding", m, whiten=True).alias("p")
            ).collect(),
            key=lambda r: r["vec_id"],
        )
    ])
    assert np.allclose(p.var(axis=0, ddof=1), 1.0, rtol=1e-6)


def test_null_and_ragged_carveout(spark):
    x = _data(seed=3)
    rows = [(i, [float(v) for v in r]) for i, r in enumerate(x)]
    rows += [(900, None), (901, [1.0, 2.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    m = fit_pca(df, "embedding", k=2)
    clean = fit_pca(_df(spark, x), "embedding", k=2)
    assert np.allclose(m.components, clean.components, atol=1e-8)
    got = {r["vec_id"]: r["p"] for r in df.select(
        "vec_id", project_pca("embedding", m).alias("p")).collect()}
    assert got[900] is None and got[901] is None
    assert got[0] is not None


def test_validation(spark):
    df = _df(spark, _data())
    with pytest.raises(ValueError):
        fit_pca(df, "embedding", k=0)
    with pytest.raises(ValueError):
        fit_pca(df, "embedding", k=D + 1)
    empty = spark.createDataFrame([], "embedding array<double>")
    with pytest.raises(ValueError):
        fit_pca(empty, "embedding", k=1)
