"""Dataset-curation operators for LLM training pipelines (extension,
SURVEY §7.7 class — no reference analogue; the reference stops at
single-table cleaning).

Three operations every large-scale training-data pipeline needs and the
engine's other modules don't cover:

1. **Deterministic hash splits / stratified sampling** (`hash_split`,
   `stratified_sample`). Spark's ``randomSplit``/``sample``/``sampleBy``
   draw per-partition RNG streams: the assignment changes under
   repartitioning, AQE re-plans, and task RETRIES — at 100 TB a retried
   stage can emit a different sample than its first attempt, silently
   corrupting a train/test split. Here the bucket is a pure function of
   the row's key (md5 → first 8 hex digits → int, mod 1e6), so the split
   is reproducible forever, retry-safe, joinable after the fact, and
   leakage-safe when keyed by a group column (all docs of one URL/domain
   land in the same split). Map-only: zero shuffles, zero state.

2. **Benchmark-contamination check** (`contamination`). Counts word
   n-gram overlap between every corpus document and an evaluation set —
   the standard train/test-contamination sweep (GPT-3 appendix C /
   PaLM-style 'dirty' docs). The eval side is tiny by construction, so
   its distinct n-grams travel as a broadcast hash relation; the corpus
   side streams map-only through explode → broadcast-join → partial
   count. The corpus is never shuffled by value: the only exchange
   carries one row per (doc, matched-gram) AFTER the broadcast join
   prunes non-matches, then partial aggregation collapses it to one row
   per doc.

3. **Sequence packing** (`pack_sequences`). Concat-and-chunk packing
   (the GPT-style pretraining layout): documents are laid out in a
   deterministic order (by id), token offsets are assigned by prefix
   sum, and a document's pack is ``start_offset // budget``. The prefix
   sum is computed WITHOUT a global-order window (an unpartitioned
   ``Window.orderBy`` serializes 100 TB into one task): ids are bucketed
   by a deterministic range function, each bucket cumsums locally, and
   the tiny per-bucket totals are broadcast back as offsets — the same
   two-phase pattern as ``encoding._distributed_codes``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions.text_analysis import token_count
from .dedup.ngram_jaccard import shingles_for

# Bucket space for hash splits: md5's first 8 hex digits give 32 uniform
# bits; mod 1e6 keeps fraction resolution at 1e-6 while staying exactly
# representable in every engine (DuckDB oracle:
# ('0x' || substr(md5(k),1,8))::UBIGINT % 1000000).
SPLIT_BUCKETS = 1_000_000
# Unit separator — cannot appear in normal keys, so concatenated
# multi-column keys cannot collide ("a","bc" vs "ab","c").
_SEP = "\x1f"
# sample_n_per_group collects one row per group driver-side; cap it.
_MAX_SAMPLE_GROUPS = 100_000


def split_bucket(key_cols: list[str], seed: int = 0) -> Column:
    """Deterministic bucket in [0, SPLIT_BUCKETS) from the row's key.

    Pure function of (seed, key values) — stable across partitionings,
    retries, Spark versions, and engines (md5 is md5 everywhere).
    NULL key parts map to a sentinel BEFORE concatenation: ``concat_ws``
    silently drops NULL arguments, which would make ("a", NULL) and
    (NULL, "a") hash identically.
    """
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in key_cols
    ]
    key = F.concat_ws(_SEP, F.lit(str(seed)), *parts)
    return (F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint")
            % SPLIT_BUCKETS)


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    key_cols: list[str],
    seed: int = 0,
    split_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split by deterministic key hash.

    ``weights`` maps split name → fraction (must sum to ~1; insertion
    order defines the bucket ranges). Key by a GROUP column (url, domain,
    source) to keep correlated rows in one split — the train/test-leakage
    guard ``randomSplit`` cannot give you.
    """
    total = sum(weights.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split weights must sum to 1, got {total}")
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    bucket = split_bucket(key_cols, seed)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name]
        cond = bucket < int(round(acc * SPLIT_BUCKETS))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = F.lit(names[0]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn(split_col, expr)


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float] | float,
    strata_col: str | None,
    key_cols: list[str],
    seed: int = 0,
) -> DataFrame:
    """Deterministic stratified sampling: keep a row iff its key bucket
    falls below its stratum's fraction. Unlike ``df.stat.sampleBy`` the
    result is identical under retries/repartitioning, and the SAME rows
    are kept every run — resumable pipelines sample once, forever.

    ``fractions``: per-stratum dict (missing strata → dropped), or one
    global float (``strata_col`` may then be None). Map-only, 0 shuffles.
    """
    bucket = split_bucket(key_cols, seed)
    if isinstance(fractions, dict):
        if strata_col is None:
            raise ValueError("per-stratum fractions need a strata_col")
        thr = None
        for val, frac in fractions.items():
            cond = F.col(strata_col) == val
            lim = F.lit(int(round(frac * SPLIT_BUCKETS)))
            thr = F.when(cond, lim) if thr is None else thr.when(cond, lim)
        thr = thr.otherwise(F.lit(0))
    else:
        thr = F.lit(int(round(float(fractions) * SPLIT_BUCKETS)))
    return df.where(bucket < thr)


# Bloom sizing for the oversized-eval contamination fallback: ~12 bits
# per gram with 6 hash probes gives fpp ≈ 0.4%; the bitmap is capped at
# 2^28 bits (32 MB broadcast) — past ~22M grams fpp degrades gracefully
# and false positives only cost extra rows in the exact confirm join.
_BLOOM_BITS_PER_ITEM = 12
_BLOOM_MAX_BITS = 1 << 28
_BLOOM_MIN_BITS = 1 << 16
_BLOOM_HASHES = 6


def _bloom_positions(gram: Column, m_bits: int) -> list[Column]:
    """k int64 bit positions per gram — JVM codegen xxhash64, salted by
    probe index (double-hashing via the seed column)."""
    return [
        F.pmod(F.xxhash64(gram, F.lit(i)), F.lit(m_bits)).cast("long")
        for i in range(_BLOOM_HASHES)
    ]


def _build_gram_bloom(eval_grams: DataFrame, m_bits: int):
    """Distributed bloom build: every gram's k positions become
    (word_index, bit) pairs, OR-aggregated per 64-bit word JVM-side
    (``bit_or`` — partial map-side combine), and only the touched words
    (≤ m/64 rows) reach the driver. Returns a broadcast numpy uint64
    bitmap."""
    import numpy as np

    words = (
        eval_grams.select(
            F.explode(F.array(*_bloom_positions(F.col("g"), m_bits))).alias("pos")
        )
        .select(
            (F.col("pos") / 64).cast("long").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
    )
    pdf = words.toPandas()
    bm = np.zeros(m_bits // 64, dtype=np.uint64)
    bm[pdf["w"].to_numpy(dtype=np.int64)] = (
        pdf["bits"].to_numpy(dtype=np.int64).view(np.uint64)
    )
    return eval_grams.sparkSession.sparkContext.broadcast(bm)


def _bloom_might_contain(bitmap_bc, gram: Column, m_bits: int) -> Column:
    """Arrow-vectorized membership test over the broadcast bitmap; the k
    hash positions are computed JVM-side so Python only does numpy bit
    lookups per batch."""
    # fixed arity = _BLOOM_HASHES (pandas_udf can't infer varargs hints)
    @F.pandas_udf("boolean")
    def bloom_probe(
        c0: pd.Series, c1: pd.Series, c2: pd.Series,
        c3: pd.Series, c4: pd.Series, c5: pd.Series,
    ) -> pd.Series:
        import numpy as np

        bm = bitmap_bc.value
        ok = np.ones(len(c0), dtype=bool)
        for s in (c0, c1, c2, c3, c4, c5):
            p = s.to_numpy(dtype=np.int64)
            hit = (bm[p >> 6] >> (p & 63).astype(np.uint64)) & np.uint64(1)
            ok &= hit.astype(bool)
        return pd.Series(ok)

    return bloom_probe(*_bloom_positions(gram, m_bits))


def contamination(
    corpus: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    broadcast_grams: int = 10_000_000,
) -> DataFrame:
    """Per-document n-gram overlap with an evaluation set.

    Returns (id, n_grams, n_hits, contaminated): distinct word-``n``-gram
    count, how many of them appear anywhere in ``eval_set``, and the
    contamination flag. Decontamination = ``where(~contaminated)``.

    Scale: eval n-grams are deduped and — when the deduped set is at or
    under ``broadcast_grams`` (gated with ``limit(n+1).count()``, so an
    over-limit set never pays a full count) — BROADCAST: the corpus side
    is then a map-only explode into a broadcast hash join, never shuffled
    by gram, and the one real exchange is the per-doc partial-aggregated
    count.

    A pathologically large eval set (many snapshots at once) takes the
    BLOOM fallback: a bitmap over eval gram hashes is built with a
    JVM-side ``bit_or`` aggregation, broadcast (≤ 32 MB), and applied as
    a map-only prefilter on corpus grams; only the surviving candidates
    (true hits + ~0.4% false positives) travel into an exact semi-join,
    so the full exploded corpus is never shuffled by gram at ANY eval
    size and the result stays exact. The corpus is scanned twice in this
    mode (per-doc gram counts; candidate confirm) — both map-side-partial.
    Docs with < n words have zero grams and are kept with n_grams = 0
    (explode_outer).
    """
    eval_grams = (
        eval_set.select(F.explode(shingles_for(eval_set, F.col(text_col), n)).alias("g"))
        .distinct()
        .withColumn("__hit", F.lit(1))
        # lazy localCheckpoint: the gate count below materializes the
        # deduped grams once and the join reuses them (blocks are
        # released by the ContextCleaner, same pattern as encoding's
        # frequency table) — without it the distinct would run twice.
        .localCheckpoint(eager=False)
    )
    # Tiered by eval-gram cardinality (both gates limit-counted, so an
    # oversized set never pays a full count): a PYTHON set broadcast is
    # the fastest probe but pickles every gram onto the driver and each
    # worker, so it is capped well below the JVM broadcast-join gate.
    py_set_cap = min(2_000_000, broadcast_grams)
    n_probe = eval_grams.limit(broadcast_grams + 1).count()
    tiny = n_probe <= py_set_cap
    small = n_probe <= broadcast_grams
    # CPU-bound shingling/probing over the corpus: rebalance an
    # unsplittable (single-row-group) input before the per-doc work —
    # the tiny tier's Arrow pass otherwise runs on ONE core of 32
    # (measured 5.6 s vs 3.1 s for 10x the data on a split corpus).
    # Gated no-op on already-parallel production inputs.
    from .partitioning import ensure_parallelism

    # key=id (r14): the small/bloom tiers below broadcast-join the grams
    # and then groupBy(id) — hash-partitioning the rebalance by id lets
    # that aggregate reuse this exchange (broadcast joins and explodes
    # preserve partitioning); the tiny tier is partitioning-indifferent.
    corpus = ensure_parallelism(corpus, key=id_col)
    doc_grams = corpus.select(
        F.col(id_col).alias("id"),
        F.explode_outer(shingles_for(corpus, F.col(text_col), n)).alias("g"),
    )
    if tiny:
        # Set-membership in ONE Arrow pass over the per-doc shingle
        # ARRAYS: the gram set is a Python broadcast and each doc's
        # (n_grams, n_hits) comes straight off its array — no explode,
        # no join, no shuffle at all (the broadcast-join path below
        # pushes |corpus|·|grams per doc| exploded rows through the join
        # and a per-doc aggregate; measured 4.7 s → ~3.3 s at 50k docs).
        # Identical counts: shingles_for arrays are already per-doc
        # DISTINCT, exactly the rows the explode produces.
        # One Arrow transfer (toPandas) instead of row-by-row py4j decode
        # — the same ~10x fetch-path win fit_centroids measured; at the
        # 2M-gram cap the py4j path was eating the tier's advantage.
        ev_set = set(eval_grams.select("g").toPandas()["g"])
        bc = corpus.sparkSession.sparkContext.broadcast(ev_set)

        @F.pandas_udf("n_grams bigint, n_hits bigint")
        def count_hits(arr: pd.Series) -> pd.DataFrame:
            ev = bc.value
            ns: list[int] = []
            hs: list[int] = []
            for a in arr:
                if a is None or len(a) == 0:
                    ns.append(0)
                    hs.append(0)
                else:
                    ns.append(len(a))
                    hs.append(sum(1 for g in a if g in ev))
            return pd.DataFrame({"n_grams": ns, "n_hits": hs})

        return (
            corpus.select(
                F.col(id_col).alias("id"),
                count_hits(shingles_for(corpus, F.col(text_col), n)).alias("__c"),
            )
            .select(
                "id",
                F.col("__c.n_grams").alias("n_grams"),
                F.col("__c.n_hits").alias("n_hits"),
            )
            .withColumn("contaminated", F.col("n_hits") > 0)
        )
    if small:
        # Mid-size eval sets: compact JVM broadcast-hash join on the
        # exploded grams — no Python materialization of the gram set.
        joined = doc_grams.join(F.broadcast(eval_grams), "g", "left")
        return (
            joined.groupBy("id")
            .agg(
                F.count(F.col("g")).alias("n_grams"),
                F.coalesce(F.sum("__hit"), F.lit(0)).cast("bigint").alias("n_hits"),
            )
            .withColumn("contaminated", F.col("n_hits") > 0)
        )
    # Bloom fallback: exact count of the (over-gate) gram set is one cheap
    # aggregate over the checkpointed grams; it sizes the bitmap.
    n_eval = eval_grams.count()
    m_bits = 1 << min(
        _BLOOM_MAX_BITS.bit_length() - 1,
        max(_BLOOM_MIN_BITS.bit_length() - 1,
            (_BLOOM_BITS_PER_ITEM * n_eval).bit_length()),
    )
    bitmap_bc = _build_gram_bloom(eval_grams, m_bits)
    per_doc = doc_grams.groupBy("id").agg(F.count(F.col("g")).alias("n_grams"))
    cand = doc_grams.where(F.col("g").isNotNull()).where(
        _bloom_might_contain(bitmap_bc, F.col("g"), m_bits)
    )
    hits = cand.join(eval_grams.select("g"), "g", "left_semi")
    hit_counts = hits.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits")
    )
    return (
        per_doc.join(hit_counts, "id", "left")
        .withColumn("n_hits", F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint"))
        .withColumn("contaminated", F.col("n_hits") > 0)
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str | None = "text",
    token_col: str | None = None,
    n_buckets: int | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing: (id, n_tokens, start_offset,
    pack_id) where documents are concatenated in ``id_col`` order and
    chunked every ``budget`` tokens; ``pack_id = start_offset // budget``.

    The global prefix sum avoids the unpartitioned-window scale cliff:

    1. one aggregate gets the id span; rows are bucketed by a
       deterministic range of the id (a pure function — no sampling, so
       recomputes agree, unlike ``repartitionByRange``),
    2. a window cumsum runs WITHIN each bucket (parallel),
    3. per-bucket token totals (≤ n_buckets rows) are collected, turned
       into cumulative offsets on the driver, and broadcast-joined back.

    Requires unique ids (the packing order must be total); token counts
    are whitespace tokens of ``text_col`` unless ``token_col`` is given.
    """
    if token_col is None:
        if text_col is None:
            raise ValueError("need text_col or token_col")
        tok = F.coalesce(token_count(F.col(text_col)), F.lit(0))
    else:
        tok = F.coalesce(F.col(token_col), F.lit(0))
    base = df.select(
        F.col(id_col).alias("id"), tok.cast("bigint").alias("n_tokens")
    )

    if n_buckets is None:
        n_buckets = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    span = base.agg(
        F.min("id").alias("lo"), F.max("id").alias("hi")
    ).collect()[0]
    if span["lo"] is None:
        return base.select(
            "id", "n_tokens",
            F.lit(0).cast("bigint").alias("start_offset"),
            F.lit(0).cast("bigint").alias("pack_id"),
        )
    width = max(1, (int(span["hi"]) - int(span["lo"])) // n_buckets + 1)
    # the explicit isnotnull matches the inner join's inferred null
    # filter, so BOTH window consumers below share one byte-identical
    # Exchange subtree and ReuseExchange fires (null ids never packed:
    # the final inner join drops them either way)
    bucketed = base.withColumn(
        "__b", ((F.col("id") - F.lit(int(span["lo"]))) / F.lit(width)).cast("bigint")
    ).where(F.col("__b").isNotNull())

    # Within-bucket exclusive cumsum AND the bucket total as two frames
    # of ONE window spec (same partition+order): the bucket-total table
    # then derives from the byte-identical Exchange subtree, so
    # ReuseExchange computes the text scan + token count + shuffle ONCE
    # — where the former groupBy-totals collect + driver prefix-sum loop
    # + createDataFrame round-trip cost a second full text scan, an
    # extra job, and a driver hop in the data path. Only 24 B/row of
    # (id, n_tokens, __b) proxy ever crosses the exchange; the heavy
    # text column never shuffles.
    w = (
        Window.partitionBy("__b")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wtot = (
        Window.partitionBy("__b")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    local = bucketed.select(
        "id", "n_tokens", "__b",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("__local"),
        F.sum("n_tokens").over(wtot).alias("__t"),
    )
    # per-bucket totals -> EXCLUSIVE running offsets: a single-partition
    # window over <= n_buckets rows (the tiny bucket-total table, not
    # the data). Bigint accumulation in __b order = exactly the former
    # Python-int driver loop (token counts stay far below 2^63 at any
    # realistic corpus size).
    woff = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    off = (
        local.select("__b", "__t").distinct()
        .select(
            "__b",
            F.coalesce(F.sum("__t").over(woff), F.lit(0))
            .cast("bigint").alias("__off"),
        )
    )
    return (
        local.join(F.broadcast(off), "__b")
        .select(
            "id", "n_tokens",
            (F.col("__local") + F.col("__off")).alias("start_offset"),
        )
        # integer DIV: exact on bigints (float division + cast truncates
        # wrongly once offsets exceed 2^53 — reachable at 100 TB of text)
        .withColumn("pack_id", F.expr(f"start_offset DIV {int(budget)}"))
    )


def chunk_documents(
    df: DataFrame,
    max_tokens: int,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split long documents into training-window chunks of at most
    ``max_tokens`` whitespace tokens, consecutive chunks sharing
    ``overlap`` tokens (the standard context-window preprocessing step).

    Returns (id, chunk_id, chunk_n_tokens, chunk_text); documents with no
    tokens emit zero chunks. Chunk i covers token range
    ``[i·stride, i·stride + max_tokens)`` with ``stride = max_tokens −
    overlap``; the final chunk may be shorter but never empty.

    Scale: pure codegen — tokens split once, chunk count is arithmetic,
    chunks explode from a ``sequence`` and slice the token array; no
    shuffle, no Python, ~(1 + overlap/max_tokens)× output amplification.
    """
    if max_tokens < 1:
        raise ValueError("max_tokens must be >= 1")
    if not 0 <= overlap < max_tokens:
        raise ValueError("overlap must satisfy 0 <= overlap < max_tokens")
    stride = max_tokens - overlap
    toks = F.when(
        F.trim(F.col(text_col)) == "", F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(F.col(text_col)), r"\s+"))
    n = F.size(toks)
    # smallest k with k*stride + overlap >= n  ==  ceil((n - overlap)/stride)
    n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
        F.greatest(F.lit(1), F.ceil((n - F.lit(overlap)) / F.lit(stride)).cast("int"))
    )
    return (
        df.select(
            F.col(id_col).alias("id"), toks.alias("__toks"), n_chunks.alias("__k")
        )
        .where(F.col("__k") > 0)
        .select(
            "id",
            F.explode(F.sequence(F.lit(0), F.col("__k") - 1)).alias("chunk_id"),
            "__toks",
        )
        .select(
            "id",
            "chunk_id",
            F.slice(
                F.col("__toks"), F.col("chunk_id") * stride + 1, max_tokens
            ).alias("__chunk"),
        )
        .select(
            "id",
            "chunk_id",
            F.size("__chunk").cast("int").alias("chunk_n_tokens"),
            F.array_join("__chunk", " ").alias("chunk_text"),
        )
    )


def sample_n_per_group(
    df: DataFrame,
    n: int,
    group_col: str,
    key_cols: list[str],
    seed: int = 0,
) -> DataFrame:
    """Deterministic "N rows per group" (eval-set construction: '500 docs
    per language'): rows rank inside their group by their hash bucket
    (ties by key), and the first ``n`` survive. Same rows every run,
    under retries and repartitioning — ``sampleBy`` can guarantee
    neither exact counts nor stability.

    Scale: a naive per-group ``row_number`` sorts EVERY row of a group in
    one task — a cliff for billion-row groups. Two phases instead:
    (1) per-group counts (one aggregate), then a hash-bucket prefilter
    keeping ≈ ``4n`` expected rows per oversized group; (2) the exact
    window runs on the prefiltered survivors only. Groups whose
    prefilter undershoots ``n`` (hash unluck, ~never at 4× margin) fall
    back to the unfiltered window for that group — correctness is never
    probabilistic, only the fast path is.

    The group domain is collected driver-side (one row per group) for
    the per-group thresholds — guarded at ``_MAX_SAMPLE_GROUPS`` so a
    mistakenly high-cardinality group column fails loudly instead of
    OOMing the driver.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    bucket = split_bucket(key_cols, seed)
    gdf = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    if gdf.limit(_MAX_SAMPLE_GROUPS + 1).count() > _MAX_SAMPLE_GROUPS:
        raise ValueError(
            f"{group_col!r} has more than {_MAX_SAMPLE_GROUPS} groups - "
            "not a sampling stratum; use hash_split/stratified_sample"
        )
    counts = {r[group_col]: r["__n"] for r in gdf.collect()}
    # fraction per group targeting 4n expected survivors
    frac = None
    for g, cnt in counts.items():
        # clamp to >=1: for huge groups (4n/cnt*BUCKETS < 0.5) a rounded-to-0
        # threshold would keep zero rows and force the naive full-group
        # window fallback — the exact scale cliff the prefilter exists to avoid
        lim = SPLIT_BUCKETS if cnt <= 4 * n else max(1, int(round(4 * n / cnt * SPLIT_BUCKETS)))
        cond = F.col(group_col).eqNullSafe(F.lit(g))
        frac = F.when(cond, F.lit(lim)) if frac is None else frac.when(cond, F.lit(lim))
    if frac is None:
        return df.limit(0)
    pre = df.where(bucket < frac)

    w = Window.partitionBy(group_col).orderBy(bucket.asc(), *[F.col(c) for c in key_cols])
    ranked = pre.withColumn("__rk", F.row_number().over(w))
    picked = ranked.where(F.col("__rk") <= n).drop("__rk")

    # undershoot check: groups where the prefilter kept fewer than n rows
    # although the group itself has >= n — redo those without prefilter
    got = {
        r[group_col]: r["__g"]
        for r in picked.groupBy(group_col).agg(F.count(F.lit(1)).alias("__g")).collect()
    }
    short = [
        g for g, cnt in counts.items()
        if got.get(g, 0) < min(n, cnt)
    ]
    if short:
        non_null = [g for g in short if g is not None]
        conds = []
        if non_null:
            conds.append(F.col(group_col).isin(non_null))
        if any(g is None for g in short):
            conds.append(F.col(group_col).isNull())
        redo_cond = conds[0]
        for c in conds[1:]:
            redo_cond = redo_cond | c
        ranked2 = df.where(redo_cond).withColumn("__rk", F.row_number().over(w))
        fixed = ranked2.where(F.col("__rk") <= n).drop("__rk")
        # NULL-group rows make isin() evaluate to NULL; coalesce keeps
        # them in `picked` when they are not part of the redo set
        picked = picked.where(
            F.coalesce(~redo_cond, F.lit(True))
        ).unionByName(fixed)
    return picked


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.5,
    max_rep_top: float = 0.3,
    max_rep_dup: float = 0.5,
    compression_band: tuple[float, float] | None = None,
    ngram_n: int = 2,
) -> DataFrame:
    """Composite document-quality gate (the Gopher/C4-style keep/drop
    pass): heuristic quality score, top/duplicate n-gram occupancy, and
    (opt-in) the zlib compression-ratio band. Adds the individual signal
    columns plus a ``keep`` boolean — callers filter ``where(keep)`` or
    keep the flags for audit.

    Scale: quality is a pure projection; repetition is the two
    map-side-combined aggregations of ``repetition_metrics`` joined back
    on id; compression (``compression_band`` set) adds the engine's one
    deliberate Arrow/Python stage. Nothing collects to the driver.
    """
    from .functions.text_analysis import (
        compression_ratio,
        quality_score,
        repetition_metrics,
    )

    rep = repetition_metrics(df, text_col=text_col, id_col=id_col, n=ngram_n)
    out = (
        df.withColumn("quality", quality_score(F.col(text_col)))
        .join(
            rep.select(
                F.col("id").alias(id_col), "rep_top_frac", "rep_dup_frac"
            ),
            id_col,
            "left",
        )
    )
    keep = (
        (F.col("quality") >= min_quality)
        & (F.coalesce(F.col("rep_top_frac"), F.lit(0.0)) <= max_rep_top)
        & (F.coalesce(F.col("rep_dup_frac"), F.lit(0.0)) <= max_rep_dup)
    )
    if compression_band is not None:
        lo, hi = compression_band
        out = out.withColumn("zlib_ratio", compression_ratio(F.col(text_col)))
        keep = keep & F.col("zlib_ratio").between(float(lo), float(hi))
    return out.withColumn("keep", keep)


def mix_corpora(
    sources: dict[str, tuple[DataFrame, float]],
    key_cols: list[str],
    seed: int = 0,
    source_col: str = "mix_source",
    epoch_col: str = "mix_epoch",
) -> DataFrame:
    """Deterministic training-mixture assembly (the Pile/DoReMi "epoch
    weight" semantics): ``weight w`` means every document of that
    source appears ``floor(w)`` times plus once more for a
    deterministic ``frac(w)`` key-hash subset — so w=2.5 yields 2 or 3
    appearances per doc, exactly reproducible under retries and
    repartitioning (``sample()`` is neither). Schemas must match
    across sources (unionByName).

    Scale: pure projections + one hash-filter per fractional epoch —
    ZERO shuffles, no sampling jobs; the union is plan-level. Key by a
    stable id (or a group col to keep correlated docs' multiplicity
    aligned). Output adds ``mix_source`` and ``mix_epoch`` (0-based)
    so downstream packing can interleave or audit proportions.
    """
    if not sources:
        raise ValueError("mix_corpora needs at least one source")
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    out = None
    for name in sorted(sources):
        df, w = sources[name]
        if w < 0:
            raise ValueError(f"negative weight for source {name!r}")
        full = int(w)
        frac = w - full
        # per-source bucket stream: fold the source name into the seed
        # key so the fractional subsets of different sources are
        # independent
        bucket = split_bucket(key_cols, seed=f"{seed}\x1f{name}")
        legs = []
        for e in range(full):
            legs.append((e, None))
        if frac > 0:
            legs.append((full, int(round(frac * SPLIT_BUCKETS))))
        for e, cut in legs:
            leg = df if cut is None else df.where(bucket < cut)
            leg = leg.withColumn(source_col, F.lit(name)).withColumn(
                epoch_col, F.lit(e)
            )
            out = leg if out is None else out.unionByName(leg)
    if out is None:
        raise ValueError("all sources have zero weight")
    return out


def temperature_weights(
    sizes: dict[str, int], alpha: float = 0.3, target_total: int | None = None
) -> dict[str, float]:
    """Exponentiated-smoothing mixture weights from source sizes — the
    multilingual sampling rule of mBERT/XLM-R (Conneau et al. 2020,
    public): sampling share ``p_i ∝ (n_i/N)^alpha`` so low-resource
    sources are upsampled as ``alpha`` → 0 and natural proportions kept
    at ``alpha = 1``. Returns per-source EPOCH weights (expected
    appearances per document) summing to ``target_total`` documents
    (default: the natural total N) — feed straight into
    :func:`mix_corpora`."""
    if not sizes:
        raise ValueError("sizes is empty")
    if any(n < 0 for n in sizes.values()):
        raise ValueError("negative source size")
    if alpha < 0:
        raise ValueError("alpha must be ≥ 0")
    live = {k: n for k, n in sizes.items() if n > 0}
    if not live:
        raise ValueError("all sources are empty")
    total = sum(live.values())
    if target_total is None:
        target_total = total
    p = {k: (n / total) ** alpha for k, n in live.items()}
    z = sum(p.values())
    return {
        k: (p[k] / z) * target_total / live[k] if k in live else 0.0
        for k in sizes
    }


def temperature_mix(
    sources: dict[str, DataFrame],
    key_cols: list[str],
    alpha: float = 0.3,
    target_total: int | None = None,
    seed: int = 0,
    source_col: str = "mix_source",
    epoch_col: str = "mix_epoch",
) -> tuple[DataFrame, dict[str, float]]:
    """Count each source once, derive temperature weights, assemble the
    deterministic mixture via :func:`mix_corpora`. Returns
    ``(mixture, weights)`` so the caller can audit/refit the mix."""
    sizes = {name: df.count() for name, df in sorted(sources.items())}
    weights = temperature_weights(sizes, alpha=alpha, target_total=target_total)
    mixture = mix_corpora(
        {name: (df, weights[name]) for name, df in sources.items()},
        key_cols=key_cols,
        seed=seed,
        source_col=source_col,
        epoch_col=epoch_col,
    )
    return mixture, weights
