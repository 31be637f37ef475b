"""minhash_dedup over an unmaterialized input plan: the quality gate in
front of it (``quality_filter(docs).where("keep")``, a plan with its own
shuffles) must run once, not once per read, and the survivors must not
depend on whether the input is such a plan or a plain scan."""

import uuid

import pytest
from pyspark.sql import functions as F

from dataforge_spark.curation import quality_filter
from dataforge_spark.dedup.minhash import minhash_dedup


@pytest.fixture(scope="module")
def gate_and_copy(spark, documents, tmp_path_factory):
    """(gate, parquet_copy): ``gate()`` builds the quality gate's
    survivors as a fresh lazy plan (a Dataset that has run keeps its
    adaptive plan's finished shuffle stages, so each measurement needs
    its own); ``parquet_copy`` is the same rows written to Parquet and
    read back. Planted: a near-copy of every 10th document (the dedup
    drops them) and junk repetition pages (the gate drops them)."""
    docs = documents.select("doc_id", "text")
    copies = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat("text", F.lit(" extra tail words")).alias("text"),
    )
    junk = docs.limit(5).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.lit("aa bb " * 200).alias("text"),
    )
    corpus = docs.unionByName(copies).unionByName(junk)

    def gate():
        return quality_filter(corpus).where("keep").select("doc_id", "text")

    path = str(tmp_path_factory.mktemp("gated") / "gated.parquet")
    gate().write.parquet(path)
    return gate, spark.read.parquet(path)


def _ids(df):
    return {r["doc_id"] for r in df.select("doc_id").collect()}


@pytest.mark.parametrize("transitive", [False, True])
def test_survivors_match_a_parquet_copy_of_the_input(gate_and_copy, transitive):
    gate, copy = gate_and_copy
    from_plan = _ids(minhash_dedup(gate(), transitive=transitive))
    from_copy = _ids(minhash_dedup(copy, transitive=transitive))
    assert from_plan == from_copy
    n_copies = len({i for i in _ids(copy) if i >= 100000})
    assert n_copies > 0
    # the planted near-copies are what the dedup removes
    assert len(from_copy) <= copy.count() - n_copies


def _jobs(spark, action):
    sc = spark.sparkContext
    group = f"minhash_input_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_input_plan_runs_once(spark, gate_and_copy):
    """Deduping the gate's plan may start at most the jobs of deduping
    the Parquet copy plus those of running the gate once. Re-running the
    gate per read of the input (signatures, verification, anti-join, and
    the parallelism gates' ``df.rdd``) costs about five gate runs."""
    gate, copy = gate_and_copy
    minhash_dedup(gate()).collect()  # first-run planning noise out
    on_plan = _jobs(spark, lambda: minhash_dedup(gate()).collect())
    on_copy = _jobs(spark, lambda: minhash_dedup(copy).collect())
    once = _jobs(spark, lambda: gate().collect())
    assert on_plan <= on_copy + once, (on_plan, on_copy, once)
