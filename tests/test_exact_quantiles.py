"""exact_quantiles must be bit-identical to Spark's percentile() on
NaN-free input — it replaces percentile() in every operator stat job
(IQR/MAD bounds, robust scale, median fill, boundary scrub), so any
deviation would silently shift oracle-checked results."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from dataforge_spark.functions.quantiles import exact_quantiles

PROBS = [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0]


def _reference(df, col, probs):
    arr = ",".join(map(str, probs))
    return df.agg(
        F.expr(f"percentile({col}, array({arr}))").alias("p")
    ).collect()[0]["p"]


@pytest.mark.parametrize(
    "maker",
    [
        lambda rng: rng.standard_normal(20_000) * 100,        # distinct-heavy
        lambda rng: rng.randint(0, 7, 20_000).astype(float),  # duplicate-heavy
        lambda rng: np.repeat(rng.standard_normal(50), 400),  # chunky dups
    ],
    ids=["distinct", "few_values", "chunky"],
)
def test_matches_percentile_bitwise(spark, maker):
    rng = np.random.RandomState(3)
    vals = maker(rng)
    rows = [(float(v),) if i % 11 else (None,) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "x double")
    # force the bracketed (scale) path — small local frames would
    # otherwise take the driver-sort tier
    mine = exact_quantiles(df, ["x"], PROBS, driver_sort_bytes=None)["x"]
    ref = _reference(df, "x", PROBS)
    assert mine == [float(r) for r in ref]
    # the adaptive tiering (default gates) must agree exactly
    fast = exact_quantiles(df, ["x"], PROBS)["x"]
    assert fast == mine


def test_small_and_empty_inputs(spark):
    for rows, expect in [([], [None]), ([(2.5,)], [2.5]),
                         ([(1.0,), (3.0,)], [2.0])]:
        df = spark.createDataFrame(rows, "x double")
        assert exact_quantiles(df, ["x"], [0.5])["x"] == expect


def test_multi_column_one_call(spark, lineitem):
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    for gate in (None, 1 << 40):  # bracketed path and driver-sort tier
        mine = exact_quantiles(lineitem, cols, [0.25, 0.75],
                               driver_sort_bytes=gate)
        for c in cols:
            ref = _reference(lineitem, c, [0.25, 0.75])
            assert mine[c] == [float(r) for r in ref]


def test_refinement_path_still_exact(spark):
    # Force the recursion: cap the collect at 50 so every bracket
    # overflows and must narrow by rank before collecting.
    df = spark.createDataFrame(
        [(float(i),) for i in range(10_000)], "x double"
    )
    mine = exact_quantiles(df, ["x"], [0.25, 0.5], max_collect=50)["x"]
    ref = _reference(df, "x", [0.25, 0.5])
    assert mine == [float(r) for r in ref]


def test_quoted_identifiers(spark):
    """Column names with spaces/hyphens must survive both the driver-sort
    tier and the refine fallback (F.expr interpolation)."""
    rows = [(float(i),) for i in range(1000)]
    df = spark.createDataFrame(rows, "`unit price` double")
    # driver-sort tier (estimate may be unknown -> force via gate)
    got = exact_quantiles(df, ["unit price"], [0.5], driver_sort_bytes=1 << 40)
    assert got["unit price"] == [499.5]
    # bracketed path with max_collect=0 so every pair takes the refine
    # path, and depth exhausted so the percentile fallback (the other
    # F.expr site) fires
    got = exact_quantiles(
        df, ["unit price"], [0.5], driver_sort_bytes=None,
        max_collect=0, max_depth=0,
    )
    assert abs(got["unit price"][0] - 499.5) < 1.0


def test_chunked_collect_many_pairs(spark):
    """Aggregate driver pull is bounded: many (column, prob) pairs with a
    tiny max_collect must chunk the collect pass yet stay exact."""
    import numpy as np

    rng = np.random.RandomState(7)
    cols = [f"c{i}" for i in range(6)]
    data = rng.standard_normal((5000, 6)) * 50
    df = spark.createDataFrame(
        [tuple(map(float, r)) for r in data], ", ".join(f"{c} double" for c in cols)
    )
    probs = [0.25, 0.5, 0.75]
    got = exact_quantiles(
        df, cols, probs, driver_sort_bytes=None, max_collect=2000
    )
    for c in cols:
        ref = _reference(df, c, probs)
        assert got[c] == [float(r) for r in ref]


def test_three_tiers_bit_identical(spark):
    """adaptive default, forced driver-sort numpy, and the bracketed
    sketch path must all return the SAME bits for the same input."""
    rng = np.random.RandomState(3)
    vals = np.concatenate([
        rng.standard_normal(8000) * 1e6,
        rng.randint(-3, 3, 4000).astype(float),
        [np.nan] * 50,
    ])
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    probs = [0.01, 0.25, 0.5, 0.75, 0.99]
    small = exact_quantiles(df, ["x"], probs)  # adaptive (default gates)
    drv = exact_quantiles(df, ["x"], probs, driver_sort_bytes=1 << 40)
    brk = exact_quantiles(df, ["x"], probs, driver_sort_bytes=None)
    assert small == drv == brk


def test_driver_sort_tier_null_column(spark):
    df = spark.createDataFrame([(None,), (None,)], "x double")
    got = exact_quantiles(df, ["x"], [0.5], driver_sort_bytes=1 << 40)
    assert got == {"x": [None]}


@pytest.mark.parametrize("driver_sort_bytes", [1 << 40, None])
def test_null_counts_come_with_the_quantiles(spark, driver_sort_bytes):
    """``null_counts`` is filled on both tiers; NaN counts as NULL."""
    df = spark.createDataFrame(
        [(1, 1.0), (None, float("nan")), (3, None), (None, 2.0)], "i long, x double"
    )
    nulls: dict = {}
    got = exact_quantiles(
        df, ["i", "x"], [0.5], driver_sort_bytes=driver_sort_bytes, null_counts=nulls
    )
    assert got == {"i": [2.0], "x": [1.5]}
    assert nulls == {"i": 2, "x": 2}
