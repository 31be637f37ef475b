"""Distributed connected components for near-dup clustering (extension).

Near-duplicate PAIRS are not a dedup policy: similarity chains
(A~B, B~C, A≁C) must collapse to one representative, which is a
connected-components problem over the pair graph. The greedy edge-wise
drop (``minhash_dedup``) over-deletes on chains — C loses to B even
though B itself loses to A; component-wise dedup keeps exactly one doc
per transitive cluster.

Algorithm: iterative min-label propagation — every node starts labeled
with its own id; each round takes the min label over itself and its
neighbors; fixpoint = every node carries the min id of its component.
Each round also pointer-jumps (comp(u) ← comp(comp(u))), which halves
the remaining path length — O(log diameter) rounds total, the same
convergence class as alternating large-star/small-star [Kiveris et al.,
"Connected Components in MapReduce and Beyond"] with a lower constant
on the short-diameter graphs near-dup detection produces (cliques and
short chains). Each round is one edge join + one groupBy(min) + one
label self-join — all shuffling on the node id, no driver-side graph
state — and the label frame is ``localCheckpoint``-ed per round so the
plan does not grow with iterations. Convergence is detected from one
tiny aggregate per round: the count of nodes whose label changed in it,
for every id type — no diff against the previous round's labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(id, component) for every node appearing in ``pairs``;
    ``component`` is the smallest id in the node's connected component
    (numeric min for numeric ids, lexicographic min for strings — min-label
    propagation only needs an orderable id type, so ids keep their native
    type; a forced numeric cast would silently NULL string/uuid ids and
    turn the downstream dedup into a no-op).
    Deterministic regardless of partitioning."""
    import pyspark.sql.types as T

    dt_a = pairs.schema[id_a].dataType
    dt_b = pairs.schema[id_b].dataType
    # Only INTEGRAL ids are width-normalized to long (so int id_a unions
    # cleanly with bigint id_b). A blanket NumericType cast would truncate
    # fractional double ids (distinct nodes merge) and NULL decimal ids
    # past ±2^63 — double/decimal ids are orderable as-is, so they keep
    # their native type like strings do (same integral-only rule as
    # spans.py's keep-first packing). BOTH columns must be integral: the
    # cast is applied to both, so an integral id_a paired with a double
    # id_b must not trigger it (truncating id_b would merge distinct
    # nodes — the very bug the integral gate exists to prevent).
    _INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    _FRACTIONAL = (T.FloatType, T.DoubleType)
    integral = isinstance(dt_a, _INTEGRAL) and isinstance(dt_b, _INTEGRAL)
    # Mixed integral × float/double pairs: unionByName coerces the
    # integral side to double. That coercion is exact only below 2^53 —
    # above it distinct integral ids can collapse onto one double value
    # (the same node-merging bug class the integral gate prevents), and
    # no decimal type represents arbitrary doubles exactly, so there is
    # no lossless common cast. Guard with one tiny aggregate over the
    # integral column(s) and raise instead of silently merging.
    # (probe only LongType: byte/short/int cannot reach 2^53, so the
    # extra aggregate job would be pure waste on those mixed pairs)
    mixed_cols = []
    if isinstance(dt_a, T.LongType) and isinstance(dt_b, _FRACTIONAL):
        mixed_cols = [id_a]
    elif isinstance(dt_b, T.LongType) and isinstance(dt_a, _FRACTIONAL):
        mixed_cols = [id_b]
    if mixed_cols:
        lim = 1 << 53
        row = pairs.agg(
            *[F.max(F.abs(F.col(c).cast("long"))).alias(c) for c in mixed_cols]
        ).collect()[0]
        for c in mixed_cols:
            if row[c] is not None and row[c] >= lim:
                raise ValueError(
                    f"connected_components: integral id column {c!r} holds "
                    f"values >= 2^53 while the paired column is "
                    f"float/double; the implicit long->double union "
                    f"coercion would lose precision and merge distinct "
                    f"nodes. Cast both id columns to a common exact type "
                    f"(decimal or string) before calling."
                )
    key = (lambda c: F.col(c).cast("long")) if integral else (lambda c: F.col(c))
    half = pairs.select(key(id_a).alias("u"), key(id_b).alias("v"))
    edges = (
        half.unionByName(half.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = edges.select("u").distinct().select("u", F.col("u").alias("comp"))

    for _ in range(max_iter):
        nbr_min = (
            edges.join(
                labels.select(F.col("u").alias("v"), F.col("comp").alias("vcomp")),
                "v",
            )
            .groupBy("u")
            .agg(F.min("vcomp").alias("ncomp"))
        )
        # ``prev`` carries the round's starting label through both steps,
        # so the fixpoint check below needs no join against last round.
        step = labels.join(nbr_min, "u", "left").select(
            "u",
            F.least(F.col("comp"), F.coalesce(F.col("ncomp"), F.col("comp"))).alias(
                "comp"
            ),
            F.col("comp").alias("prev"),
        )
        # Pointer jumping: comp(u) ← comp(comp(u)). Neighbor-min alone
        # moves a label one hop per round (diameter rounds on a chain);
        # the extra self-join halves remaining path length every round,
        # giving O(log diameter) total rounds.
        hop = step.select(F.col("u").alias("comp"), F.col("comp").alias("hcomp"))
        # LAZY checkpoint: the convergence aggregate right below is the
        # action that materializes this round's labels. It reads every
        # partition, so no fill-in job runs after it (a limit action such
        # as isEmpty() computes only some partitions, and the checkpoint
        # then runs a second job for the rest).
        labels = (
            step.join(hop, "comp", "left")
            .select(
                "u",
                F.least(F.col("comp"), F.coalesce(F.col("hcomp"), F.col("comp"))).alias(
                    "comp"
                ),
                "prev",
            )
            .localCheckpoint(eager=False)
        )
        # Fixpoint = no label changed this round: an exact changed-row
        # count for every id type (a sum of labels would be exact only
        # for integral ids).
        changed = labels.select(
            F.count(F.when(F.col("comp") != F.col("prev"), F.lit(1))).alias("n")
        ).collect()[0]["n"]
        labels = labels.select("u", "comp")
        if changed == 0:
            break
    return labels.select(F.col("u").alias("id"), F.col("comp").alias("component"))


def dedup_by_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Component-wise near-dup removal: keep the smallest-id document of
    every connected component of the pair graph, plus every unpaired
    document. Unlike the greedy edge-wise drop this is chain-correct:
    a transitive cluster of any shape keeps exactly one survivor."""
    comps = connected_components(pairs, id_a, id_b)
    losers = comps.where(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")
