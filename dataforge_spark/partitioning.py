"""Partitioning / shuffle toolkit for cluster-scale runs (extension).

The operators in this engine are shuffle-minimal by construction; this
module holds the remaining levers a 100 TB deployment needs explicitly:

- **salted joins**: a skewed key (one user with 10% of all rows) turns a
  shuffle join into one straggler task. Salting replicates the SMALL side
  ``salt`` times and scatters the big side's hot keys across salt
  buckets, so the hot key's rows land on ``salt`` tasks. AQE's skew-join
  handles sort-merge joins it can see; salting also covers aggregations
  and deliberate repartitions.
- **two-phase (salted) aggregation**: partial aggregate on (key, salt),
  final aggregate on key — the map-side-combine trick made explicit for
  aggregates whose partials are algebraic (count/sum/min/max).
- **bucketed writes**: pre-shuffling both sides of a recurring join into
  the same bucketing (sorted, hash-distributed files) makes later joins
  shuffle-free (`spark.read.table` of two tables bucketed by the same
  key + ``spark.sql.sources.bucketing.enabled``). File-based bucketing
  requires a metastore table; ``write_bucketed`` wraps saveAsTable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's estimated byte size of the frame — parquet footer stats
    propagated through the optimized plan, NO job. ``None`` (→ caller
    must assume big) if the internal surface moves. py4j already converts
    the scala BigInt to a Python int."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def ensure_parallelism(
    df: DataFrame, factor: int = 1, key: str | None = None
) -> DataFrame:
    """Rebalance an under-partitioned input to cluster parallelism before
    CPU-bound per-row work (shingling, hashing, Arrow matmuls).

    A single-row-group parquet file scans as ONE task no matter how
    ``maxPartitionBytes`` is set — Spark can only split scans at row-group
    boundaries — so a compute-heavy projection over such a file runs on
    one core of the whole cluster. At production scale inputs arrive as
    many files/row groups and this is a no-op (gated on the ACTUAL scan
    partition count, so it never adds a shuffle to an already-parallel
    plan).

    ``key`` (r14, guide §2.4 "two operations keyed the same way can
    share one exchange"): when the caller's downstream plan aggregates
    or joins on a column of ``df``, hash-repartition by it instead of
    round-robin — explode/projections preserve the partitioning, so the
    downstream groupBy reuses this exchange instead of adding its own
    (minhash/simhash signatures: 2 exchanges → 1, and the aggregate
    runs single-phase on co-located keys). Only sound as the SAME
    gated rebalance: when the gate no-ops (already-parallel input) the
    downstream exchange happens exactly as before. Skew caveat: the key
    should spread rows ~uniformly (unique doc ids do); a hot key would
    make a straggler where round-robin would not.

    Cost of the gate: it reads ``df.rdd``'s partition count, and on an
    adaptive (AQE) plan with shuffles ``df.rdd`` runs every shuffle stage
    of the plan as its own job. Call it on a scan or on a materialized
    (eagerly checkpointed) frame, where it starts no job."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * factor
    if df.rdd.getNumPartitions() >= target:
        return df
    if key is not None:
        return df.repartition(target, F.col(key))
    return df.repartition(target)


def with_salt(df: DataFrame, salt: int, col_name: str = "_salt") -> DataFrame:
    """Deterministic per-row salt in [0, salt): hash of the whole row —
    no RNG, so retries/recomputes agree."""
    return df.withColumn(
        col_name, F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt))
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    salt: int = 8,
    how: str = "inner",
    auto_salt: bool = False,
    min_share: float = 0.01,
    hot: list | None = None,
) -> DataFrame:
    """Join a skew-keyed big side against a small side by scattering each
    big-side key across ``salt`` partitions and replicating the small
    side once per salt value. Output equals ``big.join(small, on, how)``
    for inner/left-shaped joins ONLY — a right/full outer join would emit
    each unmatched small-side row once per salt value, so those are
    rejected instead of silently returning wrong results.

    Default (``auto_salt=False``, ``hot=None``): EVERY key is salted —
    the small side is replicated ``salt``× in full. Right when most keys
    are hot, wasteful when one is.

    ``auto_salt=True`` (VERDICT r11 task 7): one zero-shuffle
    Misra-Gries pass over the big side (``functions.heavy_hitters
    .hot_keys``) detects keys provably holding ≥ ``min_share`` of the
    rows, and ONLY those are salted — cold keys join under salt bucket 0
    with no small-side replication, so the plan pays salt-factor
    replication only on the rows that need it. No hot keys detected →
    falls through to the plain join (zero overhead beyond the sketch
    pass). Callers that already know the hot keys (e.g. from a previous
    batch's sketch) pass ``hot=[...]`` and skip the detection pass —
    the amortization a recurring 100 TB join wants.

    **Salt-derivation limitation (ADVICE r12)**: the big-side salt is
    ``xxhash64`` over EVERY big-side column, so byte-identical
    duplicate rows of a hot key all land in ONE salt bucket — exactly
    the duplicate-document skew common in raw dedup corpora — and that
    straggler stays unsplit. When hot rows may be verbatim duplicates,
    disambiguate BEFORE salting (add ``monotonically_increasing_id``
    or a file/offset column so the salt input differs per row) or
    dedup first. ``xxhash64`` also rejects MapType columns — project
    maps away (or through ``map_entries``) before calling. Both limits
    are inherited from :func:`with_salt` and apply to the ``auto_salt``
    path too."""
    safe = {"inner", "left", "leftouter", "left_outer", "left_semi",
            "leftsemi", "left_anti", "leftanti"}
    if how.lower().replace("_", "") not in {h.replace("_", "") for h in safe}:
        raise ValueError(
            f"salted_join is only correct for inner/left-shaped joins, got how={how!r}; "
            "right/full outer would duplicate unmatched small-side rows per salt value"
        )
    spark = big.sparkSession
    if hot is None and auto_salt:
        from .functions.heavy_hitters import hot_keys

        hot = hot_keys(big, on, min_share=min_share)
    if hot is not None:
        if not hot:
            return big.join(small, on=on, how=how)
        is_hot_big = F.col(on).isin(list(hot))
        big_s = big.withColumn(
            "_salt",
            F.when(
                F.coalesce(is_hot_big, F.lit(False)),
                F.pmod(
                    F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(salt)
                ),
            )
            .otherwise(F.lit(0))
            .cast("int"),
        )
        salts = spark.range(salt).select(F.col("id").cast("int").alias("_salt"))
        is_hot_small = F.coalesce(F.col(on).isin(list(hot)), F.lit(False))
        small_r = (
            small.where(is_hot_small)
            .crossJoin(F.broadcast(salts))
            .unionByName(
                small.where(~is_hot_small).withColumn(
                    "_salt", F.lit(0).cast("int")
                )
            )
        )
        return big_s.join(small_r, on=[on, "_salt"], how=how).drop("_salt")
    big_s = with_salt(big, salt)
    salts = spark.range(salt).select(F.col("id").cast("int").alias("_salt"))
    small_r = small.crossJoin(F.broadcast(salts))
    joined = big_s.join(small_r, on=[on, "_salt"], how=how)
    return joined.drop("_salt")


def salted_aggregate_counts(
    df: DataFrame, key: str, salt: int = 16, value: str | None = None
) -> DataFrame:
    """Two-phase skew-safe aggregation: count (and optionally sum of
    ``value``) per key, partials computed on (key, salt) so one hot key
    spreads over ``salt`` reducers before the tiny final combine."""
    aggs1 = [F.count(F.lit(1)).alias("_n")]
    aggs2 = [F.sum("_n").alias("n")]
    if value is not None:
        aggs1.append(F.sum(value).alias("_s"))
        aggs2.append(F.sum("_s").alias(f"sum_{value}"))
    partial = with_salt(df, salt).groupBy(key, "_salt").agg(*aggs1)
    return partial.groupBy(key).agg(*aggs2)


def skew_metrics(df: DataFrame, key: str, top: int = 5) -> dict:
    """Quick skew diagnosis: total rows, distinct keys, and the heaviest
    keys' share — drive the decision to salt."""
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("n"))
    row = counts.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("distinct")
    ).collect()[0]
    heavy = counts.orderBy(F.desc("n")).limit(top).collect()
    total = int(row["total"] or 0)
    return {
        "total_rows": total,
        "distinct_keys": int(row["distinct"] or 0),
        "top_keys": [
            {"key": r[key], "rows": int(r["n"]), "share": (int(r["n"]) / total) if total else 0.0}
            for r in heavy
        ],
    }


def write_bucketed(
    df: DataFrame, table: str, key: str, buckets: int = 64,
    sort_by: str | None = None, path: str | None = None,
    align: bool = False,
) -> None:
    """Persist hash-bucketed (and optionally sorted) — recurring joins
    or aggs on ``key`` against tables bucketed the same way become
    shuffle-free exchanges, and a groupBy on ``key`` over the bucketed
    scan aggregates WITHOUT an exchange and with each task's hash map
    bounded by its bucket's key count (the partial-agg-spill fix for
    high-cardinality dedup — VERDICT r12 task 1).

    ``path`` makes the table EXTERNAL at that location: the files
    outlive the (in-memory-catalog) session and a later session
    re-attaches with ``CREATE TABLE ... USING PARQUET CLUSTERED BY
    (key) INTO n BUCKETS LOCATION path`` — see
    :func:`register_bucketed`. ``align=True`` repartitions to exactly
    ``buckets`` partitions on ``key`` first (same murmur3 hash family
    as the bucket spec), so each task writes exactly one bucket file
    instead of up-to-``tasks×buckets`` small files."""
    if align:
        df = df.repartition(buckets, F.col(key))
    writer = df.write.mode("overwrite").bucketBy(buckets, key)
    if sort_by:
        writer = writer.sortBy(sort_by)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def register_bucketed(
    spark, table: str, path: str, key: str, buckets: int, schema_ddl: str
) -> None:
    """Re-attach an external bucketed table written by
    :func:`write_bucketed` (same ``key``/``buckets`` — the bucket spec
    is metadata, so it MUST match what the files were written with) to
    a session whose catalog no longer lists it (the default in-memory
    catalog forgets on restart; the files don't)."""
    if not spark.catalog.tableExists(table):
        spark.sql(
            f"CREATE TABLE {table} ({schema_ddl}) USING PARQUET "
            f"CLUSTERED BY ({key}) INTO {buckets} BUCKETS "
            f"LOCATION '{path}'"
        )


def partition_stats(df: DataFrame) -> dict:
    """Rows per partition — spot empty/oversized partitions after a
    repartition decision (diagnostic; one cheap job)."""
    sizes = (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid").agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    counts = sorted(int(r["n"]) for r in sizes)
    return {
        "partitions": len(counts),
        "min": counts[0] if counts else 0,
        "max": counts[-1] if counts else 0,
        "rows": sum(counts),
    }


# ------------------------------------------------------------- z-order


def _zorder_bucket(df: DataFrame, col: str, bits: int) -> tuple[DataFrame, str]:
    """Map one column onto a ``[0, 2**bits)`` bucket id that preserves
    the locality a min/max-pruning scan exploits.

    - numeric/timestamp: QUANTILE buckets (edges from one
      ``percentile_approx`` sketch aggregate) via ``ml.Bucketizer`` —
      skew-robust where a linear min/max mapping would pile 99% of rows
      into one bucket; edges ride the plan as a broadcast literal.
    - string/binary: ``xxhash64`` buckets — no range locality exists to
      preserve, but clustering EQUAL values tightens each row group's
      string min/max, so equality predicates still prune.
    - nulls → the dedicated top bucket ``2**bits`` (clustered last).
    """
    out = f"_zb_{col}"
    dt = dict(df.dtypes)[col]
    if dt in ("string", "binary"):
        return (
            df.withColumn(
                out,
                F.when(
                    F.col(col).isNull(), F.lit(1 << bits)
                ).otherwise(F.pmod(F.xxhash64(col), F.lit(1 << bits))),
            ),
            out,
        )
    from pyspark.ml.feature import Bucketizer

    num = F.col(col).cast("double")
    probs = [i / (1 << bits) for i in range(1, 1 << bits)]
    edges = df.agg(
        F.percentile_approx(num, probs, 10_000).alias("e")
    ).collect()[0]["e"]
    uniq = sorted({e for e in (edges or []) if e is not None})
    splits = [float("-inf")] + uniq + [float("inf")]
    tmp_in, tmp_out = f"_zin_{col}", f"_zout_{col}"
    bucketed = Bucketizer(
        splits=splits, inputCol=tmp_in, outputCol=tmp_out,
        handleInvalid="keep",  # NaN → bucket len(splits)-1; null → null
    ).transform(df.withColumn(tmp_in, num))
    null_bucket = len(splits) - 1
    scale = max(len(splits) - 2, 1)  # real buckets after edge dedup
    return (
        bucketed.withColumn(
            out,
            F.when(
                F.col(tmp_out).isNull() | (F.col(tmp_out) >= null_bucket),
                F.lit(1 << bits),
            ).otherwise(
                # stretch the (possibly deduplicated) bucket range back
                # over [0, 2**bits) so every column contributes the same
                # bit weight to the interleave
                (F.col(tmp_out).cast("long") * ((1 << bits) - 1) / scale)
                .cast("long")
            ),
        ).drop(tmp_in, tmp_out),
        out,
    )


def zorder_value(df: DataFrame, cols: list[str], bits: int = 10) -> DataFrame:
    """Append ``_zvalue``: the Morton (bit-interleaved) code of the
    columns' bucket ids — rows close in _zvalue are close in EVERY
    keyed dimension at once, which is what makes multi-column min/max
    pruning work after a sort. Null buckets (``2**bits``) overflow the
    interleave range on purpose: an extra high bit per column pushes
    all-null rows to the very end of the layout. Pure bitwise
    expressions — whole-stage codegen, no UDF."""
    if not cols:
        raise ValueError("zorder_value needs at least one column")
    if (bits + 1) * len(cols) > 63:  # +1: the per-column null bit
        raise ValueError(f"bits={bits} x {len(cols)} columns exceeds long range")
    work = df
    bucket_cols = []
    for c in cols:
        work, bc = _zorder_bucket(work, c, bits)
        bucket_cols.append(bc)
    k = len(cols)
    z = F.lit(0).cast("long")
    for j, bc in enumerate(bucket_cols):
        b = F.col(bc).cast("long")
        for i in range(bits + 1):  # +1 carries the null bucket's bit
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), i * k + j)
            )
    return work.withColumn("_zvalue", z).drop(*bucket_cols)


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 10,
    target_files: int | None = None,
) -> None:
    """Cluster ``df`` on the Morton code of ``cols`` and write parquet:
    ``repartitionByRange(_zvalue)`` + ``sortWithinPartitions`` so every
    file AND every row group inside it covers a tight hyper-box of the
    key space — a reader filtering on ANY subset of ``cols`` prunes
    row groups by footer min/max stats alone. The layout lever for
    100 TB point-lookup/box scans that don't justify a metastore
    bucketing contract. ``target_files`` defaults to the frame's
    current parallelism."""
    work = zorder_value(df, cols, bits)
    n = target_files or df.rdd.getNumPartitions()
    (
        work.repartitionByRange(max(n, 1), "_zvalue")
        .sortWithinPartitions("_zvalue")
        .drop("_zvalue")
        .write.mode("overwrite")
        .parquet(path)
    )


def rowgroup_skip_stats(path: str, predicates: dict[str, tuple]) -> dict:
    """Footer-only pruning audit: for each parquet row group under
    ``path``, test whether its min/max stats could be SKIPPED for the
    conjunction of ``{col: (lo, hi)}`` range predicates (the exact
    check a Spark/engine scan performs). Returns total vs skippable
    row groups — the direct measure of what a layout buys. Driver-side
    metadata read only; no data pages touched."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as pq

    files = sorted(
        _glob.glob(_os.path.join(path, "*.parquet"))
        if _os.path.isdir(path) else [path]
    )
    total = skippable = 0
    for f in files:
        meta = pq.ParquetFile(f).metadata
        names = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
        for rg in range(meta.num_row_groups):
            total += 1
            for col, (lo, hi) in predicates.items():
                st = meta.row_group(rg).column(names[col]).statistics
                if st is None or not st.has_min_max:
                    continue
                if st.min > hi or st.max < lo:
                    skippable += 1
                    break
    return {
        "row_groups": total,
        "skippable": skippable,
        "skip_ratio": skippable / total if total else 0.0,
    }
