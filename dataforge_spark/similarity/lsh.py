"""Random-hyperplane (signed random projection) LSH for cosine ANN —
the scale path next to brute_force (extension, SURVEY §7.7; Charikar '02).

``num_planes`` seeded Gaussian hyperplanes are generated ONCE on the
driver (numpy, fixed seed → deterministic across runs) and BROADCAST;
bucket assignment is one Arrow-batched pandas UDF computing
``bits(sign(P · v))`` per batch — a dim×planes matmul. (A pure-Column
literal formulation was measured 3-5× slower: dim×planes literal terms
per table blow up the analyzed plan and the codegen units; the matmul is
the same legitimate dense-linear-algebra UDF case as the IVF assigner.)
The only shuffle is the bucket equi-join.

Recall tuning: ``num_tables`` independent bucketings OR'd together —
probe the union of buckets (multi-table LSH); each extra table costs one
more join of the (tiny) query side.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import batch_cosine_udf, to_matrix


def stacked_planes(
    dim: int, num_planes: int, num_tables: int, seed: int
) -> np.ndarray:
    """(num_tables, num_planes, dim) independent hyperplane sets.

    num_planes is capped at 62: bucket ids are signed-int64 bit weights
    (1 << p), so 63+ planes silently wrap in numpy — and 2^62 buckets is
    already astronomically past useful LSH granularity."""
    if num_planes > 62:
        raise ValueError("num_planes must be <= 62 (int64 bucket-id bits)")
    return np.stack([
        np.random.default_rng(seed + 1000 * t).standard_normal(
            (num_planes, dim)
        )
        for t in range(num_tables)
    ])


def multi_bucket_udf(spark, planes: np.ndarray):
    """Arrow-batched multi-table bucket assignment: ONE stacked matmul per
    batch returns every table's bucket id (array<long>, one per table) —
    one UDF pass instead of num_tables separate stages."""
    bc = spark.sparkContext.broadcast(planes)
    weights = 1 << np.arange(planes.shape[1], dtype=np.int64)

    @F.pandas_udf("array<long>")
    def assign_all(v: pd.Series) -> pd.Series:
        P = bc.value  # (T, P, dim)
        X, bad = to_matrix(v.tolist(), P.shape[2])  # (n, dim)
        bits = np.einsum("nd,tpd->ntp", X, P) > 0  # (n, T, P)
        ids = bits @ weights  # (n, T)
        if bad is None:
            return pd.Series(list(ids.astype(np.int64)))
        # NULL/ragged vectors get NULL buckets → excluded from joins
        return pd.Series(
            [None if bad[i] else row for i, row in
             enumerate(ids.astype(np.int64).tolist())]
        )

    return assign_all


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 12,
    num_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only same-bucket pairs, union over
    ``num_tables`` independent hashings. Same output contract as
    brute_force.cosine_topk (query_id, neighbor_id, cos_sim).

    Plan shape: the query side (small by contract) is collected once —
    its buckets become a bare ``(query_id, table, bucket)`` key table
    broadcast into a map-side join against the corpus's exploded bucket
    keys, and its vector matrix is broadcast separately for scoring.
    Each candidate is scored map-side by a broadcast-matrix lookup, so
    the ONLY pair-sized shuffle (the cross-table dedup) moves bare
    ``(query_id, neighbor_id, cos_sim)`` triples. The previous
    formulation carried BOTH 64-dim vectors on every candidate row
    through that dedup — ~40× the shuffle bytes, measured 20 s vs 3 s at
    500k × 50k sides."""
    dim = len(corpus.select(vec_col).first()[0])
    spark = corpus.sparkSession
    P = stacked_planes(dim, num_planes, num_tables, seed)
    weights = 1 << np.arange(num_planes, dtype=np.int64)

    q_pdf = queries.select(F.col(id_col).alias("query_id"), vec_col).toPandas()
    keep = [
        (r_id, v) for r_id, v in zip(q_pdf["query_id"], q_pdf[vec_col])
        if v is not None and len(v) == dim
    ]
    id_type = corpus.schema[id_col].dataType.simpleString()
    if not keep:
        return spark.createDataFrame(
            [], f"query_id {id_type}, neighbor_id {id_type}, cos_sim double"
        )
    qids = [r for r, _ in keep]
    Q = np.array([v for _, v in keep], dtype=np.float64)
    # same bucket function as multi_bucket_udf, computed once on the driver
    qb = (np.einsum("nd,tpd->ntp", Q, P) > 0) @ weights  # (nq, T)
    nq, T = qb.shape
    qkeys = spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": np.repeat(np.array(qids), T),
                "_t": np.tile(np.arange(T, dtype=np.int64), nq),
                "_b": qb.ravel(),
            }
        )
    )
    qnorm = np.linalg.norm(Q, axis=1)
    bc = spark.sparkContext.broadcast(
        ({q: i for i, q in enumerate(qids)}, Q, qnorm)
    )

    @F.pandas_udf("double")
    def score(qid: pd.Series, v: pd.Series) -> pd.Series:
        qidx, Qm, qn = bc.value
        X, bad = to_matrix(v.tolist(), Qm.shape[1])
        idx = qid.map(qidx).to_numpy(dtype=np.int64)
        num = np.einsum("nd,nd->n", X, Qm[idx])
        den = np.linalg.norm(X, axis=1) * qn[idx]
        out = np.where(den > 0, num / np.where(den > 0, den, 1.0), 0.0)
        if bad is not None:
            return pd.Series(
                [None if bad[i] else float(x) for i, x in enumerate(out)],
                dtype="float64",
            )
        return pd.Series(out)

    # ONE UDF pass computes every corpus row's bucket in all tables
    # (stacked matmul, array<long>); explode to (table, bucket) keys.
    assign_all = multi_bucket_udf(spark, P)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cvec"),
        F.posexplode(assign_all(F.col(vec_col))).alias("_t", "_b"),
    )
    cand = c.join(F.broadcast(qkeys), ["_t", "_b"]).where(
        F.col("neighbor_id") != F.col("query_id")
    )
    dedup = cand.select(
        "query_id",
        "neighbor_id",
        F.round(score(F.col("query_id"), F.col("_cvec")), 6).alias("cos_sim"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        dedup.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )
