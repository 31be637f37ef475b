"""Categorical encoding E1–E3 (SURVEY §2.8).

Reference: ``Encoding.encode_categorical_data``
(/root/reference/methods/encoding.py:22-192).

* E1 label: codes assigned in sorted lexicographic order of unique values
  (sklearn LabelEncoder), nulls mapped to ``'__MISSING__'`` first.
* E2 onehot: ``pd.get_dummies`` semantics — one 0/1 column per category in
  SORTED order, ``_nan`` null-indicator column, skip columns with >50
  categories, optional ``drop_first``.
* E3 "target" is actually FREQUENCY encoding (no target variable exists,
  reference :167): relative frequency mapped to ``{col}_freq_encoded``.

Scale: every distinct-domain decision is made from ONE melted scan of the
input for ALL requested columns (explode → distinct → per-column sizes),
and domains are only collected to the driver AFTER their size passed the
cardinality gate — a near-unique string column (user ids at 100 TB) never
ships its domain to the driver. High-cardinality label codes are assigned
distributedly without a global-window scale cliff (see ``encode_label``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io import ROW_ID, qcol

MISSING_TOKEN = "__MISSING__"


def _categorical_cols(df: DataFrame, columns: list[str] | None) -> list[str]:
    if columns is not None:
        return [c for c in columns if c in df.columns]
    return [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, T.StringType) and f.name != ROW_ID
    ]


def _domains(
    df: DataFrame, cols: list[str], val_expr, limit: int
) -> tuple[dict[str, int], dict[str, list[str]]]:
    """One melted pass over ``df`` for ALL columns: returns per-column
    distinct counts and, ONLY for columns whose domain is ≤ ``limit``,
    the sorted collected domain. Two jobs total (sizes + bounded collect)
    instead of 2 jobs per column; domains above the gate never reach the
    driver."""
    pairs = []
    for c in cols:
        pairs += [F.lit(c), val_expr(c)]
    # r13: the distinct (col, val) pairs feed BOTH the sizes aggregate
    # and the bounded domain collect; un-checkpointed, the melted scan +
    # distinct shuffle executed once per consumer. The materialized set
    # is the distinct pairs — the same volume the distinct shuffle
    # already spills — and is released with the lineage (localCheckpoint,
    # not cache), with no cross-run reuse.
    melted = (
        df.select(F.explode(F.create_map(*pairs)).alias("col", "val"))
        .where(F.col("val").isNotNull())
        .distinct()
        # eager=False (r14): the sizes collect right below is the
        # materializing action — the checkpoint costs no dedicated job
        .localCheckpoint(eager=False)
    )
    sizes = {
        r["col"]: r["n"]
        for r in melted.groupBy("col").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    small = [c for c in cols if sizes.get(c, 0) <= limit]
    doms: dict[str, list[str]] = {c: [] for c in small}
    if small:
        for r in melted.where(F.col("col").isin(small)).collect():
            doms[r["col"]].append(r["val"])
    return sizes, {c: sorted(v) for c, v in doms.items()}


def _distributed_codes(dv: DataFrame, prefix_len: int = 3) -> DataFrame:
    """(__v, __code) with codes in sorted order of ``__v``, computed WITHOUT
    a global ``Window.orderBy`` (which would pull every distinct value into
    one task). Values are bucketed by a lexicographic PREFIX — a
    deterministic function of the value, so no sampling and no cross-job
    nondeterminism (unlike ``repartitionByRange``) — ranked inside each
    bucket, and shifted by per-bucket offsets (cumulative counts over the
    sorted bucket list, tiny, broadcast back). Prefix comparison is
    order-consistent with full-string comparison, so the codes equal the
    global sorted assignment.

    Skew caveat: one bucket per distinct ``prefix_len``-char prefix; a
    domain sharing a single long prefix degrades toward one task — raise
    ``prefix_len`` for such domains."""
    # dv is a distinct() over the full column — the heaviest scan here.
    # It is consumed twice (bucket counts + the ranked join) and its output
    # feeds a third join back to the caller's frame; checkpoint so the
    # distinct shuffle runs once instead of per consumer.
    dv = dv.localCheckpoint(eager=False)
    prefix = F.substring(F.col("__v"), 1, prefix_len)
    bucket_counts = (
        dv.groupBy(prefix.alias("__p")).agg(F.count(F.lit(1)).alias("__n")).collect()
    )
    offsets: list[tuple[str, int]] = []
    acc = 0
    for r in sorted(bucket_counts, key=lambda r: r["__p"]):
        offsets.append((r["__p"], acc))
        acc += r["__n"]
    off_df = dv.sparkSession.createDataFrame(offsets, "__p string, __off long")
    w = Window.partitionBy("__p").orderBy("__v")
    return (
        dv.withColumn("__p", prefix)
        .join(F.broadcast(off_df), "__p")
        .select(
            "__v",
            (F.col("__off") + F.row_number().over(w) - 1).cast("long").alias("__code"),
        )
    )


def encode_label(
    df: DataFrame,
    columns: list[str] | None = None,
    max_literal_categories: int = 10_000,
) -> tuple[DataFrame, dict]:
    """E1. Returns (encoded df, {col: {value: code}}) for inverse_transform
    (reference keeps encoders, :242-264).

    Dictionary-sized domains become a literal ``create_map`` (no join, no
    shuffle). Above ``max_literal_categories`` a literal map would explode
    the plan/driver (think user-id columns at 100 TB), so codes are
    assigned distributedly via prefix-bucketed ranking
    (``_distributed_codes`` — same sorted code assignment, no global
    window) and applied via join; the returned mapping dict is then empty
    for that column (too large to hold on the driver).
    """
    cols = _categorical_cols(df, columns)
    mappings: dict[str, dict[str, int]] = {}
    if not cols:
        return df, mappings
    val = lambda c: F.coalesce(qcol(c).cast("string"), F.lit(MISSING_TOKEN))  # noqa: E731
    _sizes, doms = _domains(df, cols, val, max_literal_categories)
    out = df
    for c in cols:
        if c in doms:
            m = {v: i for i, v in enumerate(doms[c])}
            mappings[c] = m
            mapping_expr = F.create_map(
                *[x for kv in m.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
            )
            out = out.withColumn(c, mapping_expr[val(c)].cast("int"))
        else:
            codes = _distributed_codes(df.select(val(c).alias("__v")).distinct())
            mappings[c] = {}
            out = (
                out.withColumn("__v", val(c))
                .join(codes, "__v", "left")
                .withColumn(c, F.col("__code"))
                .drop("__v", "__code")
            )
    return out, mappings


def encode_onehot(
    df: DataFrame,
    columns: list[str] | None = None,
    drop_first: bool = False,
    max_categories: int = 50,
) -> DataFrame:
    """E2, get_dummies parity: sorted category order, ``_nan`` indicator,
    original column dropped; columns with >max_categories skipped.

    The cardinality gate is applied BEFORE any domain reaches the driver
    (one melted size pass for all columns) — a high-cardinality column is
    skipped without collecting its domain."""
    cols = _categorical_cols(df, columns)
    if not cols:
        return df
    _sizes, doms = _domains(
        df, cols, lambda c: qcol(c).cast("string"), max_categories
    )
    out = df
    for c in cols:
        if c not in doms:
            continue
        cats = doms[c]
        keep = cats[1:] if drop_first else cats
        dummies = [
            F.when(qcol(c).cast("string") == v, 1).otherwise(0).alias(f"{c}_{v}")
            for v in keep
        ] + [qcol(c).isNull().cast("int").alias(f"{c}_nan")]
        out = out.select(*[qcol(x) for x in out.columns if x != c], *dummies)
    return out


def encode_frequency(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """E3: ``value_counts(normalize=True, dropna=False)`` → new column
    ``{col}_freq_encoded``; original kept; unmapped→0 can't occur in a
    same-table fit/transform.

    ONE scan computes every column's value counts (melt → single groupBy),
    instead of one count + one groupBy per column. The counts table is
    ``localCheckpoint``-ed (materialized once, lineage truncated) so the
    per-column broadcast joins don't re-scan the input — and unlike
    ``cache()`` the blocks are released by the ContextCleaner when the
    result DataFrame is garbage-collected, instead of pinning executor
    memory for the rest of the session."""
    cols = _categorical_cols(df, columns)
    if not cols:
        return df
    pairs = []
    for c in cols:
        pairs += [F.lit(c), qcol(c).cast("string")]
    counts = (
        df.select(F.explode(F.create_map(*pairs)).alias("col", "val"))
        .groupBy("col", "val")
        .agg(F.count(F.lit(1)).alias("n"))
        # eager=False (r14): the n_total collect right below materializes
        .localCheckpoint(eager=False)
    )
    n_total = counts.where(F.col("col") == cols[0]).agg(F.sum("n")).collect()[0][0]
    out = df
    for c in cols:
        key = f"__key_{c}"
        # Unhinted join: the frequency table is one row per DISTINCT value
        # of the column — tiny for true categoricals, but a user can pass
        # a high-cardinality column, and a forced broadcast of that is an
        # OOM cliff. AQE broadcasts it whenever it measures small.
        freqs = counts.where(F.col("col") == c).select(
            F.col("val").alias(key),
            (F.col("n") / F.lit(float(n_total))).alias(f"{c}_freq_encoded"),
        )
        out = out.join(
            freqs, on=qcol(c).cast("string").eqNullSafe(qcol(key)), how="left"
        ).drop(key)
    return out
