"""Missing-value strategies M1–M9 (SURVEY §2.2).

Reference: ``MissingValues.fix_missing_values``
(/root/reference/methods/missingValues.py:12-191), dispatched from
/root/reference/pipeline.py:253-266. Nine strategies; exactness notes that
matter for oracle matching:

* fill_median uses pandas ``median`` = linear-interpolated exact quantile →
  Spark ``percentile`` (exact), NOT ``percentile_approx``.
* mode ties break to the SMALLEST value (pandas sorts mode results,
  methods/missingValues.py:112) → deterministic groupBy + (count desc,
  value asc) ordering, never ``F.mode`` (tie-nondeterministic).
* ffill/bfill depend on row order → ``_row_id`` window.

Scale notes: all fill statistics are computed in ONE aggregate job across
every target column (the reference loops per column). ffill/bfill over a
global ``Window.orderBy`` serializes into one task; ``ffill``/``bfill``
here use the scalable two-pass scheme: per-partition last/first non-null
(mapInPandas-free, pure window over ``_row_id`` ranges) — see
``_ordered_fill``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io import ROW_ID, qcol

NUMERIC_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)

STRATEGIES = [
    "drop_rows", "drop_rows_threshold", "drop_columns", "drop_columns_threshold",
    "fill_mean", "fill_median", "fill_mode", "forward_fill", "backward_fill",
]


def _fill_expr(df: DataFrame, c: str, v):
    """Null-fill expression replacing ``na.fill`` (whose subset/column
    resolution breaks on names containing dots/backticks). Matches
    na.fill/pandas-fillna semantics: float columns also fill NaN. One
    deliberate difference from na.fill: an int column filled with a
    float literal promotes to double instead of silently truncating the
    fill — pandas parity (int columns holding NaN are float64 there)."""
    col = qcol(c)
    dt = df.schema[c].dataType
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return F.when(col.isNull() | F.isnan(col), F.lit(v)).otherwise(col)
    return F.coalesce(col, F.lit(v))


def _numeric_cols(df: DataFrame, cols: list[str]) -> list[str]:
    by_name = {f.name: f.dataType for f in df.schema.fields}
    return [c for c in cols if isinstance(by_name[c], NUMERIC_TYPES)]


def _data_cols(df: DataFrame, columns: list[str] | None) -> list[str]:
    cols = columns if columns else [c for c in df.columns if c != ROW_ID]
    return [c for c in cols if c in df.columns and c != ROW_ID]


def modes(df: DataFrame, cols: list[str]) -> dict[str, object]:
    """Per-column mode with pandas tie-break (smallest value first), for all
    columns in ONE shuffle: melt to (col_name, value) then rank.

    Reference: ``Series.mode().iloc[0]`` (methods/missingValues.py:112,153).
    """
    if not cols:
        return {}
    # Melt: one row per (column, stringified value); a parallel numeric cast
    # carries the tie-break key so numeric ties break NUMERICALLY smallest
    # (pandas Series.mode() sorts in the value's own type — '10' < '9' as
    # strings would pick the wrong one).
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    numeric = {c for c in cols if isinstance(dtypes[c], NUMERIC_TYPES)}
    pairs = []
    for c in cols:
        pairs += [F.lit(c), qcol(c).cast("string")]
    melted = df.select(F.explode(F.create_map(*pairs)).alias("col", "val")).where(
        F.col("val").isNotNull()
    )
    num_key = F.when(
        F.col("col").isin(sorted(numeric)), F.col("val").cast("double")
    ).otherwise(F.lit(None))
    w = Window.partitionBy("col").orderBy(
        F.desc("cnt"), F.asc("num_key"), F.asc("val")
    )
    top = (
        melted.groupBy("col", "val").agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("num_key", num_key)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .collect()
    )
    out: dict[str, object] = {}
    for r in top:
        dt = dtypes[r["col"]]
        v: object = r["val"]
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            v = int(float(v))
        elif isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
            v = float(v)
        out[r["col"]] = v
    return out


def _order_key(df: DataFrame, order_col: str):
    """(key expression, is_numeric_surrogate) for bucket-boundary math.
    Numeric columns are their own key; timestamps/dates map to a MONOTONE
    numeric surrogate (so the quantile sketch — numeric-only — still works);
    strings (or anything else orderable) return ``None`` → sampled literal
    boundaries in the column's own comparison domain."""
    dt = df.schema[order_col].dataType
    if isinstance(dt, NUMERIC_TYPES):
        return qcol(order_col).cast("double")
    if isinstance(dt, T.TimestampType):
        return F.unix_micros(qcol(order_col)).cast("double")
    if isinstance(dt, (T.DateType,)):
        return F.unix_date(qcol(order_col)).cast("double")
    return None


# Below this Catalyst size estimate a single-partition window beats the
# sketch+buckets+carry plan. Retuned r13 (the 512 MiB original missed
# that parquet-derived plan stats run ~7 B/row compressed, so it kept
# the serial window up to ~75 M rows — the m8_m9 sf1 drift): measured
# at 1 M events rows (est 6.9 MB) the serial window costs 4.7 s vs
# 3.1 s bucketed, at 100 k rows (0.7 MB) 0.6 s vs 2.4 s; with the
# boundary sketch now a single approx job the crossover sits near
# ~300 k rows ≈ 2 MiB of estimate. Module-level so tests can
# monkeypatch.
FAST_FILL_MAX_BYTES = 2 * 1024 * 1024


def _plan_size_bytes(df: DataFrame) -> int | None:
    from ..partitioning import plan_size_bytes

    return plan_size_bytes(df)


def _ordered_fill(df: DataFrame, cols: list[str], direction: str, order_col: str) -> DataFrame:
    """ffill (M8) / bfill (M9) in ``order_col`` order.

    Uses last/first-ignorenulls over an unbounded window. A plain
    ``Window.orderBy`` with no partition runs in ONE task; that is exact but
    a scale cliff. The scale-safe plan: split the ``order_col`` domain into
    ordered buckets, fill inside each bucket with a local window, then fix
    bucket boundaries with a tiny driver-side carry map (one value per
    bucket per column, broadcast back). Bucket boundaries are applied as
    LITERALS, so the bucket id is a deterministic function of the row —
    the fill pass and the edge pass are guaranteed to agree
    (``repartitionByRange`` + ``spark_partition_id`` would re-sample per
    job and could disagree between the two passes). Boundaries come from
    the codegen quantile sketch on a monotone numeric key (numeric/timestamp/date
    order columns) or from a seeded deterministic sample (string order
    columns, where no numeric surrogate exists).

    The boundary sketch is ONE ``approx_percentile`` aggregate job at
    coarse accuracy (r13 — it was the 3-job exact-quantile machinery at
    rank error 1e-3, ~0.9 s per fill at sf1 for boundaries whose
    precision buys nothing): splits only steer load balance, the output
    is bit-identical for ANY split literals because in-bucket fills and
    the carry map reconstruct the same global order either way.

    Size-gated fast path: when Catalyst's size estimate is under
    ``FAST_FILL_MAX_BYTES`` the boundary machinery costs more than it
    saves, so we use zero splits — one bucket, one window task — which is
    the same code path and therefore bit-identical output. Unknown
    estimate → assume big (the safe direction).

    Rows whose order key is NULL have no position in the fill order; they
    are left UNTOUCHED (not filled, never contributing carry values) —
    defined semantics instead of silently joining a broken bucket.
    """
    spark = df.sparkSession
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    est = _plan_size_bytes(df)
    fast = est is not None and est <= FAST_FILL_MAX_BYTES
    key = _order_key(df, order_col)
    if fast:
        splits: list = []
        key_col = qcol(order_col)
    elif key is not None:
        probs = [i / n_buckets for i in range(1, n_buckets)]
        dfk = df.withColumn("_ord_key", key)
        if probs:
            # accuracy 1/eps: rank error ~1/(8·n_buckets) keeps buckets
            # within ~±12% of even — plenty for load balance, one job.
            row = dfk.agg(
                F.approx_percentile(
                    "_ord_key",
                    F.array(*[F.lit(p) for p in probs]),
                    F.lit(8 * n_buckets),
                ).alias("q")
            ).first()
            splits = sorted(set(row["q"] or []))
        else:
            splits = []
        key_col = key
    else:
        # String (or other non-numeric orderable) order column: pick
        # boundary literals from a deterministic seeded sample — same
        # literal-application guarantee, comparison in the column's own
        # domain.
        non_null = df.select(qcol(order_col)).where(qcol(order_col).isNotNull())
        n = non_null.count()
        frac = min(1.0, 50_000 / n) if n else 1.0
        sampled = sorted(
            r[0] for r in non_null.sample(fraction=frac, seed=42).collect()
        )
        step = max(1, len(sampled) // n_buckets)
        splits = sorted(set(sampled[step::step]))
        key_col = qcol(order_col)
    bucket = F.lit(0)
    for b in splits:
        bucket = bucket + (key_col > F.lit(b)).cast("int")
    bucket = F.when(qcol(order_col).isNull(), F.lit(-1)).otherwise(bucket)
    dfp = df.withColumn("_bucket", bucket)

    if direction == "ffill":
        local_w = (
            Window.partitionBy("_bucket").orderBy(qcol(order_col).asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        pick = lambda c: F.last(qcol(c), ignorenulls=True).over(local_w)  # noqa: E731
        edge_agg = lambda c: F.max_by(qcol(c), F.when(qcol(c).isNotNull(), qcol(order_col)))  # noqa: E731
    else:
        # bfill = DESC order + a RUNNING frame, NOT ASC + (currentRow,
        # unboundedFollowing): Spark's UnboundedFollowingWindowFunctionFrame
        # re-evaluates the aggregate from scratch per row — O(rows²) per
        # window partition (measured: 1M rows in one bucket never finishes;
        # ~100 s spread across 32 buckets at sf1). The running DESC frame is
        # incremental O(rows) and selects the same value: last non-null
        # at-or-before current in DESC order == first non-null at-or-after
        # current in ASC order. (For TIED order keys either formulation
        # picks an arbitrary tie member — order among ties is not part of
        # the contract.)
        local_w = (
            Window.partitionBy("_bucket").orderBy(qcol(order_col).desc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        pick = lambda c: F.last(qcol(c), ignorenulls=True).over(local_w)  # noqa: E731
        edge_agg = lambda c: F.min_by(qcol(c), F.when(qcol(c).isNotNull(), qcol(order_col)))  # noqa: E731

    filled = dfp.select(
        "*", *[pick(c).alias(f"_f_{c}") for c in cols]
    )
    if not splits:
        # Single bucket (fast path, or degenerate 1-partition config): no
        # boundaries to fix, so no edge/carry jobs at all.
        for c in cols:
            filled = filled.withColumn(
                c, F.when(F.col("_bucket") == -1, qcol(c)).otherwise(qcol(f"_f_{c}"))
            )
        return filled.drop("_bucket", *[f"_f_{c}" for c in cols])
    # Per-bucket edge values (last non-null for ffill / first for bfill);
    # NULL-order rows (_bucket = -1) never contribute carry values.
    edges = dfp.where(F.col("_bucket") >= 0).groupBy("_bucket").agg(
        *[edge_agg(c).alias(c) for c in cols]
    )
    # Carry-in per bucket = nearest prior (ffill) / next (bfill) bucket's
    # edge value, resolved LAZILY as a window over the tiny edge aggregate
    # (#buckets rows, single-partition window is fine at that size). This
    # stays inside the one plan — the previous driver-side collect forced
    # an extra full scan of the upstream lineage per fill call, which
    # compounds badly when fills are chained.
    if direction == "ffill":
        carry_w = (
            Window.orderBy("_bucket")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        carry_pick = lambda c: F.last(qcol(c), ignorenulls=True).over(carry_w)  # noqa: E731
    else:
        # same running-frame-in-DESC trick as the bucket window (the edges
        # frame is tiny, but no reason to keep the O(n²) frame shape)
        carry_w = (
            Window.orderBy(F.desc("_bucket"))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        carry_pick = lambda c: F.last(qcol(c), ignorenulls=True).over(carry_w)  # noqa: E731
    carry_df = edges.select(
        "_bucket", *[carry_pick(c).alias(f"_c_{c}") for c in cols]
    )
    out = filled.join(F.broadcast(carry_df), "_bucket", "left")
    for c in cols:
        out = out.withColumn(
            c,
            F.when(F.col("_bucket") == -1, qcol(c)).otherwise(
                F.coalesce(qcol(f"_f_{c}"), qcol(f"_c_{c}"))
            ),
        )
    return out.drop("_bucket", *[f"_f_{c}" for c in cols], *[f"_c_{c}" for c in cols])


def fix_missing_values(
    df: DataFrame,
    strategy: str = "fill_mean",
    threshold: float = 0.5,
    columns: list[str] | None = None,
    order_col: str = ROW_ID,
) -> DataFrame:
    """Apply one of the 9 strategies (advertised contract, SURVEY §2.2)."""
    if strategy not in STRATEGIES:
        raise ValueError(f"unknown strategy {strategy!r}; one of {STRATEGIES}")
    cols = _data_cols(df, columns)

    if strategy == "drop_rows":
        # hand-rolled instead of df.na.drop: its subset resolution breaks
        # on column names containing dots/backticks (CSV headers can)
        cond = F.lit(True)
        for c in cols:
            cond = cond & qcol(c).isNotNull()
        return df.where(cond)

    if strategy == "drop_rows_threshold":
        # pandas: keep rows with >= int(threshold * ncols) non-null
        # (methods/missingValues.py:78-81); df.na.drop(thresh=) matches.
        non_null = sum(
            (qcol(c).isNotNull().cast("int") for c in cols), F.lit(0)
        )
        return df.where(non_null >= int(threshold * len(cols)))

    if strategy in ("drop_columns", "drop_columns_threshold"):
        counts = df.agg(
            F.count(F.lit(1)).alias("__n"),
            *[F.count(qcol(c)).alias(c) for c in cols],
        ).collect()[0]
        n = counts["__n"]
        min_non_null = int(threshold * n) if strategy == "drop_columns_threshold" else n
        drop = [c for c in cols if counts[c] < min_non_null]
        return df.drop(*drop)

    if strategy in ("fill_mean", "fill_median"):
        num = _numeric_cols(df, cols)
        cat = [c for c in cols if c not in num]
        fills: dict[str, object] = {}
        out = df
        if num:
            # NULL counts come from the same statistics pass: a column that
            # cannot hold NaN and holds no NULL is left as it is, so an int
            # column keeps its type (pandas keeps such a column int64).
            nulls: dict[str, int] = {}
            if strategy == "fill_mean":
                # NaN-safe mean (pandas .mean() skips NaN; Spark avg
                # propagates it — a single NaN would poison the fill)
                def nan_safe(c):
                    col = qcol(c)
                    if isinstance(df.schema[c].dataType, (T.DoubleType, T.FloatType)):
                        return F.when(~F.isnan(col), col)
                    return col
                row = df.agg(
                    F.count(F.lit(1)),
                    *[F.avg(nan_safe(c)) for c in num],
                    *[F.count(qcol(c)) for c in num],
                ).collect()[0]
                stats = {c: row[1 + i] for i, c in enumerate(num)}
                nulls = {c: row[0] - row[1 + len(num) + i] for i, c in enumerate(num)}
            else:
                # exact linear-interpolated median (pandas parity) via the
                # bracketed order-statistic path — percentile()'s
                # distinct-value map is a single-reducer scale cliff.
                from ..functions.quantiles import exact_quantiles

                stats = {
                    c: v[0]
                    for c, v in exact_quantiles(df, num, [0.5], null_counts=nulls).items()
                }
            dtypes = {f.name: f.dataType for f in df.schema.fields}
            for c in num:
                if stats[c] is None:
                    # all-null column: no statistic to fill from — leave the
                    # NULLs (pandas fillna(NaN) likewise leaves NaN) rather
                    # than inventing 0.0.
                    continue
                if not nulls[c] and not isinstance(dtypes[c], (T.DoubleType, T.FloatType)):
                    continue
                # an int column holding NULL becomes double, as pandas
                # upcasts it to float64 (see _fill_expr)
                fills[c] = float(stats[c])
        if cat:
            cat_modes = modes(df, cat)
            for c in cat:
                fills[c] = cat_modes.get(c, "Unknown")
        for c, v in fills.items():
            out = out.withColumn(c, _fill_expr(out, c, v))
        return out

    if strategy == "fill_mode":
        m = modes(df, cols)
        fills = {c: m.get(c, "Unknown") for c in cols}
        out = df
        for c, v in fills.items():
            out = out.withColumn(c, _fill_expr(out, c, v))
        return out

    if strategy in ("forward_fill", "backward_fill"):
        direction = "ffill" if strategy == "forward_fill" else "bfill"
        if order_col not in df.columns:
            raise ValueError(
                f"{strategy} requires an order column (got {order_col!r}); "
                "ingest with io.with_row_id"
            )
        return _ordered_fill(df, cols, direction, order_col)

    raise AssertionError("unreachable")
