"""Degraded-input robustness for the Arrow-batched vector scorers: NULL /
ragged embeddings and empty query sets must degrade the way the Column
cosine they replaced did (NULL score / empty result), never fail the task."""

from pyspark.sql import functions as F

from dataforge_spark.functions.vectors import batch_cosine_udf
from dataforge_spark.similarity.brute_force import cosine_topk


def _corpus(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [1.0, 1.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id int, embedding array<double>")


def test_cosine_topk_empty_query_set(spark):
    corpus = _corpus(spark)
    empty = corpus.where(F.lit(False))
    out = cosine_topk(corpus, empty, k=2)
    assert out.columns == ["query_id", "neighbor_id", "cos_sim"]
    assert out.count() == 0


def test_cosine_topk_null_vectors_skipped(spark):
    corpus = _corpus(spark).unionByName(
        spark.createDataFrame(
            [(4, None)], "vec_id int, embedding array<double>"
        )
    )
    queries = corpus.where(F.col("vec_id").isin(1, 4))
    out = cosine_topk(corpus, queries, k=10).collect()
    # query 4 (null vector) produces no rows; corpus row 4 is never a neighbor
    assert {r["query_id"] for r in out} == {1}
    assert all(r["neighbor_id"] != 4 for r in out)
    by_n = {r["neighbor_id"]: r["cos_sim"] for r in out}
    assert by_n[3] == round(1 / 2**0.5, 6)


def test_batch_cosine_null_and_ragged(spark):
    rows = [
        ([1.0, 0.0], [1.0, 0.0], 1.0),      # clean pair
        ([1.0, 0.0], [0.0, 1.0], 0.0),      # orthogonal
        (None, [1.0, 0.0], None),           # NULL side
        ([1.0, 0.0, 0.0], [1.0, 0.0], None),  # ragged
        ([0.0, 0.0], [1.0, 0.0], 0.0),      # zero norm scores 0.0
    ]
    df = spark.createDataFrame(
        [(a, b, e) for a, b, e in rows],
        "a array<double>, b array<double>, expect double",
    )
    cos = batch_cosine_udf()
    got = df.select(F.round(cos("a", "b"), 6).alias("s"), "expect").collect()
    for r in got:
        assert r["s"] == r["expect"], (r["s"], r["expect"])


def test_batch_cosine_scores_do_not_depend_on_batch(spark):
    # The same five rows in ONE partition, so one Arrow batch holds the
    # clean, NULL, ragged and zero-norm pairs together: each row must
    # still score on its own, whatever the core count.
    rows = [
        ([1.0, 0.0], [1.0, 0.0], 1.0),
        ([1.0, 0.0], [0.0, 1.0], 0.0),
        (None, [1.0, 0.0], None),
        ([1.0, 0.0, 0.0], [1.0, 0.0], None),
        ([0.0, 0.0], [1.0, 0.0], 0.0),
    ]
    df = spark.createDataFrame(
        rows, "a array<double>, b array<double>, expect double"
    ).coalesce(1)
    cos = batch_cosine_udf()
    got = df.select(F.round(cos("a", "b"), 6).alias("s"), "expect").collect()
    assert [r["s"] for r in got] == [r["expect"] for r in got]


def test_cosine_neardup_pairs_survives_one_ragged_embedding(spark):
    from dataforge_spark.dedup.embedding import cosine_neardup_pairs

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.99, 0.01]),
            (3, [0.0, 1.0]),
            (4, [1.0, 0.0, 0.0]),  # ragged: its pairs score NULL
        ],
        "vec_id int, embedding array<double>",
    ).coalesce(1)
    got = [tuple(r) for r in cosine_neardup_pairs(corpus).collect()]
    assert got == [(1, 2, round(0.99 / (0.99**2 + 0.01**2) ** 0.5, 6))]


def test_batch_cosine_all_null_batch(spark):
    df = spark.createDataFrame(
        [(None, None)] * 3, "a array<double>, b array<double>"
    )
    cos = batch_cosine_udf()
    assert [r["s"] for r in df.select(cos("a", "b").alias("s")).collect()] == [
        None,
        None,
        None,
    ]


def test_fill_median_leaves_all_null_column(spark):
    from dataforge_spark.operators.missing_values import fix_missing_values

    df = spark.createDataFrame(
        [(1.0, None), (2.0, None), (None, None)], "x double, y double"
    )
    out = fix_missing_values(df, strategy="fill_median", columns=["x", "y"])
    rows = sorted(out.collect(), key=lambda r: r["x"])
    assert [r["x"] for r in rows] == [1.0, 1.5, 2.0]  # median fill
    assert all(r["y"] is None for r in rows)  # no invented 0.0


# -- to_matrix property tests (pure numpy, no Spark session) ---------------

from hypothesis import given, settings, strategies as st

from dataforge_spark.functions.vectors import to_matrix

_vec = st.lists(
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    min_size=3, max_size=3,
)
_entry = st.one_of(st.none(), _vec, st.lists(st.floats(width=32), min_size=1, max_size=2))


@settings(max_examples=200, deadline=None)
@given(st.lists(_entry, max_size=30))
def test_to_matrix_never_raises_and_flags_exactly_the_bad_rows(vals):
    X, bad = to_matrix(vals, 3)
    assert X.shape == (len(vals), 3)
    expect_bad = [v is None or len(v) != 3 for v in vals]
    if bad is None:
        assert not any(expect_bad)
    else:
        assert list(bad) == expect_bad
    # good rows round-trip exactly
    import numpy as np

    for i, v in enumerate(vals):
        if not expect_bad[i]:
            assert np.array_equal(X[i], np.asarray(v, dtype=np.float64))
