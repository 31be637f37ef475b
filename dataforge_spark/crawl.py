"""End-to-end crawl → training-data pipeline: the composition that
turns a directory of WARC/WET files into tokenized, fixed-length,
TFRecord-packed training samples — the workload this engine's
extension tiers exist for, wired together:

    read_warc (warc.py)                  crawl ingestion
      → html_to_text (functions/html.py) boilerplate strip for HTML
      → fix_mojibake + NFKC (functions/textfix.py, optional) encoding
        repair / unicode normalization
      → canonicalize_url (functions/urls.py) + keep-first URL dedup
      → c4_filter (functions/c4.py, optional) C4 line/page cleaning
      → quality_filter (curation.py)     Gopher-style heuristics
      → gopher_filter (functions/gopher.py, optional) full Gopher rule set
      → filter_by_perplexity (functions/charlm.py, optional) CCNet gate
      → quality_prob / pareto_keep (functions/quality_classifier.py,
        optional)                        GPT-3-style classifier gate
      → minhash_dedup (dedup/minhash.py) near-duplicate removal
      → train_bpe / bpe_encode (functions/bpe.py) tokenization
      → fixed-length chunking (in-row, no cross-doc attention bleed)
      → write_tfrecord (tfrecord.py)     training-ready shards

Every stage is the already-tested scale-safe operator; this module
adds only the glue and a per-stage count report. Chunking is
document-local (posexplode of in-row slices — zero extra shuffle);
cross-document concat packing is available separately via
``curation.pack_sequences`` when attention contamination is
acceptable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def crawl_to_training_data(
    spark: SparkSession,
    warc_path: str,
    out_path: str,
    *,
    tokenizer=None,
    vocab_size: int = 1024,
    seq_len: int = 256,
    keep_langs: list[str] | None = None,
    fix_text: bool = False,
    min_quality: float = 0.3,
    c4: bool = False,
    gopher: bool = False,
    ppl_model=None,
    max_perplexity: float | None = None,
    quality_model=None,
    quality_min_prob: float = 0.5,
    quality_pareto_alpha: float | None = None,
    quality_seed: int = 0,
    minhash_threshold: float = 0.8,
    min_chunk_tokens: int = 1,
) -> dict:
    """Run the full pipeline; returns ``(report, tokenizer)`` — the
    per-stage count report (the numbers an operator watches: how much
    each gate removed) and the tokenizer used, so the caller can decode
    samples or reuse the vocabulary on the next crawl increment.

    ``tokenizer=None`` trains BPE on the POST-FILTER corpus (the
    standard order: tokenize what you keep). ``gopher=True`` adds the
    full seven-rule Gopher gate; ``ppl_model`` + ``max_perplexity``
    enable the CCNet gate; ``quality_model`` (a trained
    ``HashedTextClassifier``) enables the GPT-3-style classifier gate —
    a hard ``quality_min_prob`` threshold, or Pareto importance
    sampling when ``quality_pareto_alpha`` is set (derandomized by
    ``doc_id`` + ``quality_seed``). Deterministic end-to-end: URL-keyed
    ids, md5/xxhash orderings, hash-derandomized sampling."""
    from dataforge_spark.curation import quality_filter
    from dataforge_spark.dedup.minhash import minhash_dedup
    from dataforge_spark.functions.bpe import bpe_encode, train_bpe
    from dataforge_spark.functions.html import html_extract
    from dataforge_spark.functions.urls import canonicalize_url
    from dataforge_spark.tfrecord import write_tfrecord
    from dataforge_spark.warc import read_warc

    report: dict = {}

    # Every stage boundary below is consumed TWICE or more (its count()
    # for the report, plus everything downstream — and minhash/BPE each
    # re-scan their input internally). Without pinning, each count
    # re-executes the whole upstream DAG from the WARC read: O(stages²)
    # total work (measured 3× the row cost at sf0.01). Boundaries
    # persist MEMORY_AND_DISK (spill-safe at cluster scale — same
    # policy as pipeline.py's auto-persist at re-scanned boundaries)
    # and all pins are released before returning.
    pinned: list[DataFrame] = []

    def _pin(df: DataFrame) -> DataFrame:
        pinned.append(df.persist())
        return df

    # Stage counts are DEFERRED (r13): an inline .count() per stage is
    # a full pipeline barrier per stage — ~9 actions whose fixed job
    # cost dominates at small SF and whose barrier cost compounds on a
    # cluster. Instead each counted stage is pinned and queued; the
    # terminal write materializes every cache in ONE pass through the
    # pipeline, then all stage counts run as ONE unioned aggregate job
    # over the (already-populated) caches.
    counted: list[tuple[str, DataFrame]] = []

    def _stage(name: str, df: DataFrame) -> DataFrame:
        df = _pin(df)
        counted.append((name, df))
        return df

    def _flush_counts() -> None:
        import functools

        aggs = [
            d.agg(F.count(F.lit(1)).cast("long").alias("n")).select(
                F.lit(i).alias("i"), "n"
            )
            for i, (_, d) in enumerate(counted)
        ]
        rows = functools.reduce(lambda a, b: a.unionAll(b), aggs).collect()
        by_i = {int(r["i"]): int(r["n"]) for r in rows}
        for i, (name, _) in enumerate(counted):
            report[name] = by_i[i]

    recs = read_warc(spark, warc_path).where(
        F.col("warc_type").isin("conversion", "response", "resource")
    )
    is_html = F.lower(F.coalesce(F.col("content_type"), F.lit(""))).contains(
        "html"
    )
    raw = recs.select(
        F.col("target_uri").alias("uri"),
        F.col("language").alias("lang"),
        F.col("payload").cast("string").alias("raw_text"),
        is_html.alias("is_html"),
    ).where(F.col("uri").isNotNull() & F.col("raw_text").isNotNull())
    raw = _stage("records_in", raw)

    # boilerplate strip only where the payload is HTML
    text = raw.withColumn(
        "text",
        F.when(F.col("is_html"), html_extract("raw_text")["text"]).otherwise(
            F.col("raw_text")
        ),
    ).drop("raw_text", "is_html")

    if fix_text:
        from dataforge_spark.functions.textfix import (
            fix_mojibake,
            normalize_unicode,
        )

        text = text.withColumn(
            "text", normalize_unicode(fix_mojibake("text"), "NFKC")
        )

    if keep_langs:
        text = _stage("after_lang_filter",
                      text.where(F.col("lang").isin(*keep_langs)))

    # canonical-URL keep-first dedup (first = smallest raw URI string:
    # deterministic under retries, unlike dropDuplicates)
    canon = text.withColumn("canon_url", canonicalize_url("uri")).where(
        F.col("canon_url").isNotNull()
    )
    w = Window.partitionBy("canon_url").orderBy("uri")
    deduped_url = (
        canon.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
        .withColumn("doc_id", F.xxhash64("canon_url"))
    )
    deduped_url = _stage("after_url_dedup", deduped_url)

    if c4:
        from dataforge_spark.functions.c4 import c4_filter

        deduped_url = _stage("after_c4", c4_filter(deduped_url, text_col="text"))

    kept = quality_filter(
        deduped_url, text_col="text", id_col="doc_id",
        min_quality=min_quality,
    ).where(F.col("keep")).select("doc_id", "canon_url", "lang", "text")
    kept = _stage("after_quality", kept)

    if gopher:
        from dataforge_spark.functions.gopher import gopher_filter

        kept = _stage("after_gopher", gopher_filter(kept, text_col="text"))

    if ppl_model is not None and max_perplexity is not None:
        from dataforge_spark.functions.charlm import filter_by_perplexity

        kept = _stage("after_perplexity",
                      filter_by_perplexity(kept, "text", ppl_model, max_perplexity))

    if quality_model is not None:
        from dataforge_spark.functions.quality_classifier import (
            pareto_keep,
            quality_prob,
        )

        scored = kept.withColumn("_qp", quality_prob("text", quality_model))
        if quality_pareto_alpha is not None:
            kept = pareto_keep(
                scored, "_qp", alpha=quality_pareto_alpha,
                seed=quality_seed, key_cols=["doc_id"],
            ).drop("_qp")
        else:
            kept = scored.where(
                F.col("_qp") >= F.lit(quality_min_prob)
            ).drop("_qp")
        kept = _stage("after_classifier", kept)

    corpus = _stage("after_near_dedup", minhash_dedup(
        kept, text_col="text", id_col="doc_id", threshold=minhash_threshold
    ))
    # fill the pinned corpus once: BPE training, chunking and the edge
    # aggregates each re-scan it
    corpus.count()

    if tokenizer is None:
        tokenizer = train_bpe(corpus, "text", vocab_size=vocab_size)
    report["vocab_size"] = tokenizer.vocab_size

    toks = corpus.select(
        "doc_id", bpe_encode("text", tokenizer).alias("ids")
    ).withColumn("n_tokens", F.size("ids"))
    # document-local fixed-length chunking: slice boundaries computed
    # in-row (sequence(0, n-1, seq_len) + slice), posexplode — no
    # shuffle, no cross-document attention bleed
    chunks = (
        toks.where(F.col("n_tokens") >= min_chunk_tokens)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.greatest(F.col("n_tokens") - 1, F.lit(0)),
                        F.lit(seq_len),
                    ),
                    lambda start: F.slice(F.col("ids"), start + 1, seq_len),
                )
            ).alias("chunk_idx", "input_ids"),
        )
        .where(F.size("input_ids") >= min_chunk_tokens)
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.col("input_ids").cast("array<long>").alias("input_ids"),
            F.size("input_ids").cast("long").alias("n_tokens"),
        )
    )
    # chunks is consumed twice (the sample/token aggregate + the
    # TFRecord write) — pin it so the write doesn't re-run BPE encoding
    chunks = _pin(chunks)
    try:
        agg = chunks.agg(
            F.count(F.lit(1)).alias("n"), F.sum("n_tokens").alias("t")
        ).collect()[0]
        report["samples_out"] = int(agg["n"])
        report["tokens_out"] = int(agg["t"] or 0)

        write_tfrecord(chunks, out_path, compression="gzip")
        _flush_counts()
    finally:
        for df in pinned:
            df.unpersist()
    report["out_path"] = out_path
    return report, tokenizer
