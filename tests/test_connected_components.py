"""connected_components vs a driver-side union-find oracle, including the
chain case where greedy edge-wise dedup over-deletes."""

from pyspark.sql import functions as F

from dataforge_spark.dedup.components import (
    connected_components,
    dedup_by_components,
)


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _check(spark, edges):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        (r["id"], r["component"])
        for r in connected_components(df).collect()
    }
    want = set(_union_find(edges).items())
    assert got == want


def test_chain_cycle_and_separate_components(spark):
    _check(
        spark,
        [
            (1, 2), (2, 3), (3, 4),          # chain → all comp 1
            (10, 11), (11, 12), (12, 10),    # cycle → comp 10
            (20, 21),                        # pair
        ],
    )


def test_long_chain_converges(spark):
    _check(spark, [(i, i + 1) for i in range(0, 40)])


def test_star_and_reversed_ids(spark):
    _check(spark, [(5, 1), (5, 2), (5, 3), (9, 5)])


def test_dedup_by_components_keeps_one_per_cluster(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(8)], "doc_id long, text string"
    )
    # chain 0-1-2 plus pair 5-6: survivors = {0, 3, 4, 5, 7}
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "id_a long, id_b long"
    )
    out = dedup_by_components(docs, pairs)
    assert sorted(r["doc_id"] for r in out.collect()) == [0, 3, 4, 5, 7]


def test_string_ids_preserved(spark):
    """String/uuid ids must cluster natively (a numeric cast would NULL
    them and silently disable the dedup)."""
    edges = [("doc-a", "doc-b"), ("doc-b", "doc-c"), ("doc-x", "doc-y")]
    df = spark.createDataFrame(edges, "id_a string, id_b string")
    got = {(r["id"], r["component"]) for r in connected_components(df).collect()}
    assert got == {
        ("doc-a", "doc-a"), ("doc-b", "doc-a"), ("doc-c", "doc-a"),
        ("doc-x", "doc-x"), ("doc-y", "doc-x"),
    }
    docs = spark.createDataFrame(
        [("doc-a",), ("doc-b",), ("doc-c",), ("doc-x",), ("doc-y",), ("solo",)],
        "doc_id string",
    )
    kept = {r["doc_id"] for r in dedup_by_components(docs, df).collect()}
    assert kept == {"doc-a", "doc-x", "solo"}


def test_fractional_double_ids_not_truncated(spark):
    """Fractional double ids must NOT be long-cast (1.1 and 2.5 are
    distinct nodes; a truncating cast would merge them) and take the
    exact changed-row convergence branch — a double SUM can absorb late
    sub-ulp label drops and falsely signal convergence at scale."""
    edges = [(1.1, 2.5), (2.5, 3.25), (10.75, 11.5)]
    df = spark.createDataFrame(edges, "id_a double, id_b double")
    got = {(r["id"], r["component"]) for r in connected_components(df).collect()}
    assert got == {
        (1.1, 1.1), (2.5, 1.1), (3.25, 1.1),
        (10.75, 10.75), (11.5, 10.75),
    }


def test_mixed_integral_and_double_ids_skip_cast(spark):
    """Integral id_a paired with fractional double id_b: the long cast
    must be gated on BOTH columns, else id_b truncates and 7.5 / 7.25
    collapse onto node 7."""
    edges = [(7, 7.5), (8, 7.25)]
    df = spark.createDataFrame(edges, "id_a int, id_b double")
    got = {(r["id"], r["component"]) for r in connected_components(df).collect()}
    assert got == {
        (7.0, 7.0), (7.5, 7.0),
        (8.0, 7.25), (7.25, 7.25),
    }


def test_long_string_chain_uses_changed_row_branch(spark):
    """A >1-round string-id chain forces the non-numeric convergence
    branch through multiple iterations (guards the numeric/integral
    flag pair against refactors breaking one branch)."""
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(16)]
    df = spark.createDataFrame(edges, "id_a string, id_b string")
    got = {(r["id"], r["component"]) for r in connected_components(df).collect()}
    assert got == {(f"n{i:03d}", "n000") for i in range(17)}


def test_mixed_large_integral_and_double_ids_raise(spark):
    """Mixed integral x double ids >= 2^53: the implicit long->double
    union coercion is lossy there (2^53 and 2^53+1 coerce to the same
    double and distinct nodes merge), so the guard must raise instead
    of silently corrupting components."""
    import pytest

    big = (1 << 53) + 1
    df = spark.createDataFrame([(big, 7.5)], "id_a long, id_b double")
    with pytest.raises(ValueError, match="2\\^53"):
        connected_components(df)


def test_mixed_small_int_types_skip_the_guard_job(spark, monkeypatch):
    """int/short/byte cannot reach 2^53, so the mixed-pair guard must not
    spend an aggregate job on them (review r8) — and the result is still
    correct through the double coercion."""
    edges = [(7, 7.5), (8, 7.25)]
    df = spark.createDataFrame(edges, "id_a int, id_b double")
    calls = []
    orig = type(df).agg
    monkeypatch.setattr(type(df), "agg",
                        lambda self, *a, **k: (calls.append(1), orig(self, *a, **k))[1])
    got = {(r["id"], r["component"]) for r in connected_components(df).collect()}
    assert got == {(7.0, 7.0), (7.5, 7.0), (8.0, 7.25), (7.25, 7.25)}
    # non-long mixed pairs take the changed-row branch and no DataFrame-
    # level agg anywhere => the 2^53 probe must not have fired
    assert calls == []


def test_string_ids_cost_no_more_jobs_than_integral_ids(spark):
    """String ids take the same one-aggregate fixpoint check per round as
    integral ids. A limit action there (isEmpty) computed only part of
    the round's lazy checkpoint, and the checkpoint then ran a fill-in
    job for the rest (81 jobs on this chain against 71 for long ids)."""
    import uuid

    sc = spark.sparkContext

    def jobs(edges, schema):
        group = f"cc_jobs_{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            connected_components(spark.createDataFrame(edges, schema)).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    ints = [(i, i + 1) for i in range(64)]
    strs = [(f"n{a:03d}", f"n{b:03d}") for a, b in ints]
    jobs(strs, "id_a string, id_b string")  # first-run planning noise out
    on_strings = jobs(strs, "id_a string, id_b string")
    on_ints = jobs(ints, "id_a long, id_b long")
    assert on_strings <= on_ints, (on_strings, on_ints)
