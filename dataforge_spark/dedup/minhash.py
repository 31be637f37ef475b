"""MinHash + LSH near-dup detection (extension, SURVEY §7.7).

Classic shingle → minhash → band → bucket-join pipeline (Broder '97,
Leskovec/Rajaraman/Ullman ch.3), expressed as DataFrame ops:

1. distinct word shingles per doc (array column, no explode),
2. ``num_perm`` minhash values per doc = ``array_min`` over
   ``transform(shingles, s -> xxhash64(seed_i, s))`` — a PURE PROJECTION,
   zero shuffles: the signature is a per-row function of the document,
   (an explode + groupBy(doc) formulation computes the same thing but
   shuffles |docs|·|shingles| rows for nothing),
3. signature split into ``bands`` bands of ``rows_per_band``; docs
   sharing any band bucket are candidates (groupBy band+band-hash),
4. candidates optionally verified with exact Jaccard.

Scale: no n² anywhere and ONE shuffle total (the banding groupBy of
|docs|·bands rows); bucket blow-up is bounded by ``max_bucket`` (skip
degenerate buckets — boilerplate shingle sets). Probability a pair with
Jaccard j becomes a candidate: 1 − (1 − j^r)^b.

``minhash_dedup`` reads its input three times (signatures, verification,
the final anti-join), so it materializes the input once with an eager
``localCheckpoint`` first: an unmaterialized input plan (a quality gate
with its own shuffles) would otherwise run once per read. The frame it
returns holds four local checkpoints (the input, the band keys, the
candidate pairs, the verify-side shingles). Their blocks stay until the
frame is dropped AND the JVM has garbage-collected the checkpointed RDDs,
when Spark's ContextCleaner unpersists them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ngram_jaccard import shingles_for

# Fixed seeds: deterministic across runs/partitionings (NOT Python's
# hash() — Spark's xxhash64 is stable and seedable).


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
) -> DataFrame:
    """(id, sig: array<bigint>[num_perm]) — map-only, no shuffle.

    Docs with fewer than ``n`` words (empty shingle set) are dropped, as
    a groupBy-over-exploded-shingles formulation would drop them.
    """
    # Explode once, hash each distinct shingle ONCE (string → long), then
    # derive the num_perm permutations from that long with fixed-width
    # re-hashing — whole-stage-codegen'd.
    # (Alternatives measured at sf0.1: higher-order-function transforms are
    # interpreted, not codegen'd — 167 s; 64 separate xxhash64(string)
    # aggregates — 16 s; this formulation — see BENCH.)
    # r14 (guide §2.4): the parallelism rebalance hash-partitions by the
    # doc id instead of round-robin — explode preserves the
    # partitioning, so the groupBy(id) below reuses THIS exchange
    # instead of adding a second one over the partial aggregates
    # (executed plan 2 Exchanges → 1; A/B min-of-6: 0.979 → 0.874 s at
    # sf0.1). When the input is already parallel the rebalance no-ops
    # and the aggregate exchanges exactly as before.
    from ..partitioning import ensure_parallelism

    base = ensure_parallelism(df.select(id_col, text_col), key=id_col)
    sh = base.select(
        F.col(id_col).alias("id"),
        F.explode(shingles_for(base, F.col(text_col), n)).alias("s"),
    ).select("id", F.xxhash64("s").alias("h"))
    mins = sh.groupBy("id").agg(
        *[F.min(F.xxhash64(F.lit(i), F.col("h"))).alias(f"h{i}") for i in range(num_perm)]
    )
    return mins.select(
        "id", F.array(*[F.col(f"h{i}") for i in range(num_perm)]).alias("sig")
    )


def banded_keys(
    signatures: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """(id, band, bucket) — one row per doc per band, pure projection.
    Shared by the in-corpus pair path below and the persisted-index
    path (``dedup.index``)."""
    return signatures.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def candidate_pairs(
    signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket: int = 1000,
    stats: dict | None = None,
) -> DataFrame:
    """LSH banding: (id_a, id_b) candidate pairs, id_a < id_b, distinct.

    Buckets with more than ``max_bucket`` members (hash collisions /
    boilerplate shingle sets) are pruned BEFORE the self-join — correct
    engineering, but an invisible recall hole if unreported. Pass a dict
    as ``stats`` to have it filled with ``dropped_buckets`` /
    ``dropped_members`` (one extra small aggregate job over the bucket
    sizes; opt-in so the production pair path stays single-shuffle)."""
    # banded is referenced FOUR times downstream (self-join a/b + the
    # bucket-sizes aggregate under each): without materialization Spark
    # re-executes the whole signature lineage — scan, shingle explode,
    # num_perm-way min aggregate and its exchange — once per reference
    # (measured plan: 4 copies of the subtree). localCheckpoint cuts
    # the lineage to one computation per invocation; it is NOT a
    # CacheManager entry, so a fresh invocation recomputes from the
    # parquet inputs (no cross-run result reuse). Size is |docs|·bands
    # small rows — negligible storage at any scale.
    banded = banded_keys(signatures, bands, rows_per_band).localCheckpoint(
        eager=False
    )
    # Self-join within buckets; prune degenerate buckets first. NO
    # broadcast hint on the sizes table: it has one row per surviving
    # (band, bucket) — proportional to the number of duplicate clusters,
    # i.e. to the corpus. A mandatory broadcast of that is a driver OOM
    # at 100 TB; unhinted, AQE broadcasts it only when it measures small
    # and falls back to a shuffled join otherwise.
    sizes = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("n"))
    if stats is not None:
        dropped = (
            sizes.where(F.col("n") > max_bucket)
            .agg(
                F.count(F.lit(1)).alias("db"),
                F.coalesce(F.sum("n"), F.lit(0)).alias("dm"),
            )
            .collect()[0]
        )
        stats["dropped_buckets"] = int(dropped["db"])
        stats["dropped_members"] = int(dropped["dm"])
    ok = banded.join(
        sizes.where((F.col("n") > 1) & (F.col("n") <= max_bucket)),
        ["band", "bucket"],
    )
    a, b = ok.alias("a"), ok.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket: int = 1000,
    stats: dict | None = None,
) -> DataFrame:
    """Candidates via LSH, then EXACT Jaccard verification of candidates
    only — output (id_a, id_b, jaccard ≥ threshold). The verify join
    touches candidate docs only, so precision is exact and recall is the
    LSH probability curve. ``stats`` (opt-in) reports pruned degenerate
    buckets — see candidate_pairs."""
    rows_per_band = num_perm // bands
    sigs = minhash_signatures(df, text_col, id_col, n, num_perm)
    # Checkpoint the candidate pairs: they are referenced twice below
    # (id pruning + the verify join) and are output-sized — without the
    # checkpoint each reference re-runs the whole LSH subtree.
    cands = candidate_pairs(sigs, bands, rows_per_band, max_bucket, stats)
    cands = cands.localCheckpoint(eager=False)

    from ..partitioning import ensure_parallelism

    # Verify touches CANDIDATE docs only, so prune the corpus to the
    # candidate ids BEFORE the shingle computation: an unpruned verify
    # side re-shingles the ENTIRE corpus twice (once per join side),
    # while candidates are output-sized — usually orders of magnitude
    # smaller. Unhinted semi-join: AQE broadcasts the id list while it
    # is small and falls back to a shuffled join when a pathological
    # corpus makes it large. The pruned (id, shingles) frame is
    # checkpointed so the a/b aliases below read it instead of
    # re-running the semi-join + shingle pass per side.
    cand_ids = (
        cands.select(F.col("id_a").alias("id"))
        .unionByName(cands.select(F.col("id_b").alias("id")))
        .distinct()
    )
    vbase = ensure_parallelism(
        df.select(F.col(id_col).alias("id"), text_col)
    ).join(cand_ids, "id", "left_semi")
    sh = vbase.select(
        "id", shingles_for(vbase, F.col(text_col), n).alias("sh")
    ).localCheckpoint(eager=False)
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    verified = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return verified


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    transitive: bool = False,
    **kwargs,
) -> DataFrame:
    """Drop near-duplicates.

    Default (greedy): from every verified pair, the larger id is dropped
    — connected-component-free, standard at corpus scale. ``transitive=
    True`` instead collapses each CONNECTED COMPONENT of the verified
    pair graph to its smallest id (dedup/components pointer-jumping):
    stricter on "star" shapes like pairs (A,C),(B,C) where the greedy
    pass keeps both A and B but transitivity says A~C~B are one cluster.
    Costs the component propagation's extra O(log diameter) rounds.
    The policy lives in ``dedup.drop.drop_near_duplicates`` — the same
    helper applies to simhash/jaccard/embedding pair frames.

    The input is materialized ONCE, by an eager ``localCheckpoint``,
    before anything reads it: the pair search and the final anti-join
    then read stored blocks, so an upstream plan (a quality gate with
    shuffles) runs exactly once, and the parallelism gates in the pair
    search see a materialized frame and start no job. The returned frame
    holds that checkpoint and the pair search's three until it is
    dropped (see the module docstring)."""
    df = df.localCheckpoint(eager=True)
    pairs = minhash_dedup_pairs(df, text_col, id_col, **kwargs)
    from .drop import drop_near_duplicates

    return drop_near_duplicates(df, pairs, id_col=id_col, transitive=transitive)
