"""Typo fixing Y1–Y3 (SURVEY §2.9).

Reference: ``TypoFix.fix_typos``
(/root/reference/methods/spellingFix.py:52-268). Three methods:

* Y1 ``common_typos``: builtin 26-entry typo→fix dict (:22-50) ∪ custom
  dict, case-insensitive whole-word replace. The reference loops per cell
  in Python; here it is a chain of ``regexp_replace`` — fully vectorized,
  codegen'd, no Python in the hot path.
* Y2 ``fuzzy_match``: pairwise difflib ratio over UNIQUE values, unify to
  the more frequent spelling. Distinct domains are tiny relative to data →
  groupBy-count, collect to driver, reuse difflib for bit-exact ratios,
  broadcast the replacement map. (Scale path for huge domains: MinHashLSH
  over char n-grams — see dataforge_spark.dedup.minhash — approximate.)
* Y3 ``spell_check``: corpus-frequency dictionary + closest-match
  replacement of rare words; word frequencies via explode/groupBy, the
  small vocabulary corrected on the driver, applied as regexp chain.
"""

from __future__ import annotations

import difflib
import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io import ROW_ID, qcol

# Builtin dictionary — the reference's exact 26 entries
# (/root/reference/methods/spellingFix.py:22-50); behavioral constants must
# match for oracle parity.
COMMON_TYPOS = {
    "teh": "the", "adn": "and", "thier": "their", "recieve": "receive",
    "seperate": "separate", "definately": "definitely", "occured": "occurred",
    "begining": "beginning", "untill": "until", "mispelled": "misspelled",
    "accomodate": "accommodate", "embarass": "embarrass",
    "goverment": "government", "liesure": "leisure",
    "maintainance": "maintenance", "necesary": "necessary",
    "occassion": "occasion", "posession": "possession",
    "priviledge": "privilege", "recomend": "recommend",
    "unitd": "united", "managment": "management", "deparment": "department",
    "devlopment": "development", "busness": "business", "finace": "finance",
}


METHODS = ["common_typos", "fuzzy_match", "spell_check"]


def _text_cols(df: DataFrame, columns: list[str] | None) -> list[str]:
    if columns is not None:
        return [c for c in columns if c in df.columns]
    return [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, T.StringType) and f.name != ROW_ID
    ]


_MAX_REGEX_CHAIN = 50
_MIN_ALTERNATION = 8


def replace_words_expr(col: Column, mapping: dict[str, str]) -> Column:
    """Case-insensitive whole-word replacement.

    Preferred plan: ONE Arrow-batched pandas UDF with a single compiled
    alternation regex + dict lookup — one pass per row, measured 2x the
    26-entry JVM chain at 50k docs (each chained ``regexp_replace`` is a
    full scan-and-rebuild of the string; ~300 nested expressions also
    overflow the JVM analyzer stack).

    The sequential JVM chain is kept for two cases where it is the right
    plan: tiny maps (≤ ``_MIN_ALTERNATION`` — codegen beats a Python
    round-trip), and CASCADING or KEY-OVERLAPPING maps — some fix
    introduces a word that is itself a typo key, or two keys share a
    word and can claim overlapping text regions — there the chain's
    apply-in-order semantics (later entries re-process earlier fixes;
    earlier entries win contested regions) differ from single-pass, so
    the chain is authoritative up to ``_MAX_REGEX_CHAIN``; past that an
    alternation map is applied single-pass with leftmost-longest match
    (documented semantics for oversized cascading/overlapping maps).
    """
    # Cascade = some fix TEXT matches another key's \b-delimited regex —
    # tested with the actual pattern, not a whitespace split, so keys
    # adjacent to punctuation in a fix ('anti-bug' vs key 'bug') and
    # multi-word keys are caught. Only evaluated for maps small enough
    # that the chain is even an option (≤ _MAX_REGEX_CHAIN → ≤ 2.5k
    # pattern probes); larger maps are single-pass by construction.
    # (a key inside its OWN fix is not a cascade: a single
    # regexp_replace never reprocesses its output, only LATER entries do)
    small = len(mapping) <= _MAX_REGEX_CHAIN
    cascades = small and any(
        k != src and re.search(rf"(?i)\b{re.escape(k)}\b", str(fix))
        for src, fix in mapping.items()
        for k in mapping
    )
    # Key-vs-key overlap: two keys sharing a word can claim overlapping
    # text regions, where the chain's apply-in-order result differs from
    # a single leftmost-longest pass ({'b c': 'Y', 'a b': 'X'} on
    # 'a b c': chain → 'a Y', alternation → 'X c'). Route those through
    # the chain too; oversized overlapping maps (> _MAX_REGEX_CHAIN) get
    # the documented single-pass leftmost-longest semantics.
    overlaps = False
    if small and not cascades:
        words = [set(re.findall(r"\w+", k.lower())) for k in mapping]
        overlaps = any(
            words[i] & words[j]
            for i in range(len(words))
            for j in range(i + 1, len(words))
        )
    if len(mapping) <= _MIN_ALTERNATION or ((cascades or overlaps) and small):
        c = col
        for typo, fix in mapping.items():
            c = F.regexp_replace(c, f"(?i)\\b{re.escape(typo)}\\b", fix)
        return c

    lowered = {k.lower(): v for k, v in mapping.items()}
    pattern = re.compile(
        r"\b(" + "|".join(re.escape(k) for k in sorted(lowered, key=len, reverse=True)) + r")\b",
        re.IGNORECASE,
    )

    @F.pandas_udf("string")
    def apply_map(s: pd.Series) -> pd.Series:
        def fix_cell(t):
            if t is None:
                return None
            return pattern.sub(lambda m: lowered[m.group(0).lower()], t)

        return s.map(fix_cell)

    return apply_map(col)


def _fuzzy_map(values_with_counts: list[tuple[str, int]], threshold: float) -> dict[str, str]:
    """Pairwise difflib over unique values; less frequent → more frequent
    (reference :145-199, incl. the 30% length-difference prefilter :172)."""
    mapping: dict[str, str] = {}
    vals = [(v, n) for v, n in values_with_counts if v]
    for i in range(len(vals)):
        for j in range(i + 1, len(vals)):
            a, na = vals[i]
            b, nb = vals[j]
            if min(len(a), len(b)) == 0:
                continue
            if abs(len(a) - len(b)) / max(len(a), len(b)) > 0.3:
                continue
            if difflib.SequenceMatcher(None, a.lower(), b.lower()).ratio() >= threshold:
                src, dst = (a, b) if na < nb else (b, a)
                mapping[src] = dst
    return mapping


def _lsh_fuzzy_map(
    domain: DataFrame,
    threshold: float,
    num_perm: int = 32,
    bands: int = 8,
    max_bucket: int = 200,
    max_pairs: int = 50_000,
) -> tuple[dict[str, str], dict]:
    """Y2 scale path, for domains past the O(u²) driver gate: char-3-gram
    MinHash LSH proposes candidate value pairs distributedly — the same
    banding construction as ``dedup.minhash.candidate_pairs`` but over the
    distinct VALUE domain with CHARACTER shingles (typos differ inside a
    single word, so word shingles can't see them). Candidates pass the
    exact path's 30% length-difference prefilter Spark-side, then are
    verified on the driver with the SAME difflib ratio — so precision
    equals the exact path's; recall is the LSH collision curve (a
    threshold-similar typo pair shares most of its 3-grams). Only
    candidate PAIRS ever reach the driver, bounded by ``max_pairs``.

    Returns (mapping, info) where info records pair volume and truncation
    for the caller's report."""
    rows_per_band = num_perm // bands
    grams = (
        domain.where(F.length("v") > 0)
        .select(
            "v",
            "n",
            F.explode(
                F.expr(
                    "transform(sequence(1, greatest(length(lower(v))-2, 1)),"
                    " i -> substring(lower(v), i, 3))"
                )
            ).alias("g"),
        )
        .select("v", "n", F.xxhash64("g").alias("h"))
    )
    sigs = grams.groupBy("v", "n").agg(
        *[
            F.min(F.xxhash64(F.lit(i), F.col("h"))).alias(f"h{i}")
            for i in range(num_perm)
        ]
    )
    banded = sigs.select(
        "v",
        "n",
        F.length("v").alias("len"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                qcol(f"h{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("v", "n", "len", "bb.band", "bb.bucket")
    # Unhinted join (mirrors dedup/minhash.candidate_pairs): the sizes
    # table grows with the distinct-value domain, so a mandatory
    # broadcast is a scale cliff — let AQE broadcast it only when small.
    sizes = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("bn"))
    ok = banded.join(
        sizes.where((F.col("bn") > 1) & (F.col("bn") <= max_bucket)),
        ["band", "bucket"],
    )
    a = ok.select(
        F.col("v").alias("va"), F.col("n").alias("na"),
        F.col("len").alias("la"), "band", "bucket",
    )
    b = ok.select(
        F.col("v").alias("vb"), F.col("n").alias("nb"),
        F.col("len").alias("lb"), "band", "bucket",
    )
    pairs = (
        a.join(b, ["band", "bucket"])
        .where(F.col("va") < F.col("vb"))
        .where(
            F.abs(F.col("la") - F.col("lb"))
            / F.greatest(F.col("la"), F.col("lb"))
            <= 0.3
        )
        .select("va", "vb", "na", "nb")
        .distinct()
    )
    rows = pairs.limit(max_pairs + 1).collect()
    truncated = len(rows) > max_pairs
    mapping: dict[str, str] = {}
    # Deterministic application order regardless of collect order.
    for r in sorted(rows[:max_pairs], key=lambda r: (r["va"], r["vb"])):
        va, vb = r["va"], r["vb"]
        if difflib.SequenceMatcher(None, va.lower(), vb.lower()).ratio() >= threshold:
            src, dst = (va, vb) if r["na"] < r["nb"] else (vb, va)
            mapping[src] = dst
    return mapping, {
        "pairs_considered": min(len(rows), max_pairs),
        "truncated": truncated,
    }


_MAX_LITERAL_MAP = 10_000


def _apply_value_map(out: DataFrame, c: str, mapping: dict[str, str]) -> DataFrame:
    """Replace whole-cell values of ``c`` per ``mapping``. Literal
    ``create_map`` below _MAX_LITERAL_MAP entries (no join); broadcast
    left join above it (a 100k-literal map would bloat the plan)."""
    if len(mapping) <= _MAX_LITERAL_MAP:
        map_expr = F.create_map(
            *[x for kv in mapping.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
        )
        return out.withColumn(c, F.coalesce(map_expr[qcol(c)], qcol(c)))
    key, val = f"__typo_key_{c}", f"__typo_val_{c}"
    m_df = F.broadcast(
        out.sparkSession.createDataFrame(
            list(mapping.items()),
            T.StructType([T.StructField(key, T.StringType()), T.StructField(val, T.StringType())]),
        )
    )
    return (
        out.join(m_df, on=qcol(c) == qcol(key), how="left")
        .withColumn(c, F.coalesce(qcol(val), qcol(c)))
        .drop(key, val)
    )


def fix_typos(
    df: DataFrame,
    columns: list[str] | None = None,
    method: str = "common_typos",
    similarity_threshold: float = 0.8,
    custom_dict: dict[str, str] | None = None,
    max_distinct: int = 5000,
    max_vocab: int = 50000,
    report: dict | None = None,
) -> DataFrame:
    """``report`` (optional out-param): filled with one entry per processed
    column — for fuzzy_match, which path ran (``exact`` | ``lsh_approx``),
    pair volume, and correction count — so a high-cardinality column is
    never a SILENT approximation or no-op."""
    cols = _text_cols(df, columns)
    out = df
    rep = report if report is not None else {}

    if method == "common_typos":
        mapping = {**COMMON_TYPOS, **(custom_dict or {})}
        for c in cols:
            out = out.withColumn(c, replace_words_expr(qcol(c), mapping))
        return out

    if method == "fuzzy_match":
        for c in cols:
            domain = df.groupBy(qcol(c).alias("v")).agg(
                F.count(F.lit(1)).alias("n")
            ).where(F.col("v").isNotNull())
            # Cardinality gate BEFORE collecting: the O(u²) driver-side
            # matcher is only sane on dictionary-sized domains. Past the
            # gate (user-id-like columns at 100 TB), switch to the LSH
            # candidate path instead of silently skipping the column.
            if domain.limit(max_distinct + 1).count() > max_distinct:
                mapping, info = _lsh_fuzzy_map(domain, similarity_threshold)
                rep[c] = {
                    "method": "lsh_approx",
                    "corrections": len(mapping),
                    **info,
                }
            else:
                # Deterministic pair-iteration order regardless of collect
                # order: descending frequency then value — the reference's
                # value_counts iteration order (spellingFix.py:145).
                counts = sorted(
                    ((r["v"], r["n"]) for r in domain.collect()),
                    key=lambda t: (-t[1], t[0]),
                )
                mapping = _fuzzy_map(counts, similarity_threshold)
                rep[c] = {
                    "method": "exact",
                    "n_distinct": len(counts),
                    "corrections": len(mapping),
                }
            if not mapping:
                continue
            out = _apply_value_map(out, c, mapping)
        return out

    if method == "spell_check":
        for c in cols:
            words = (
                df.select(F.explode(F.split(F.lower(qcol(c)), r"\W+")).alias("w"))
                .where(F.length("w") > 0)
                .groupBy("w")
                .agg(F.count(F.lit(1)).alias("n"))
            )
            # Spark-side cutoffs — never collect the full corpus vocabulary:
            # the dictionary is the top-K frequent repeated words, the
            # correction candidates are the K rarest singletons. At 100 TB
            # both stay bounded; at reference scale both are exhaustive.
            dict_rows = (
                words.where(F.col("n") > 1)
                .orderBy(F.desc("n"), F.asc("w"))
                .limit(max_vocab)
                .collect()
            )
            if not dict_rows:
                dict_rows = words.orderBy(F.desc("n"), F.asc("w")).limit(50).collect()
            dictionary = {r["w"] for r in dict_rows}
            rare_rows = (
                words.where((F.col("n") == 1) & (F.length("w") > 2))
                .orderBy(F.asc("w"))
                .limit(max_vocab)
                .collect()
            )
            dict_list = sorted(dictionary)
            corrections: dict[str, str] = {}
            for r in rare_rows:
                w = r["w"]
                if w in dictionary:
                    continue
                best = difflib.get_close_matches(w, dict_list, n=1, cutoff=similarity_threshold)
                if best and abs(len(best[0]) - len(w)) <= 2:
                    corrections[w] = best[0]
            if corrections:
                out = out.withColumn(c, replace_words_expr(qcol(c), corrections))
        return out

    raise ValueError(f"unknown typo method {method!r}")


def typo_statistics(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Per-column typo indicators (reference ``get_typo_statistics``,
    /root/reference/methods/spellingFix.py:307-330): unique/total counts,
    uniqueness ratio, mean and variance of value length. One aggregate
    pass for all columns; pandas ``var`` is ddof=1 → ``var_samp``."""
    cols = _text_cols(df, columns)
    if not cols:
        return df.sparkSession.createDataFrame(
            [], "col_name string, unique_values bigint, total_values bigint, "
                "uniqueness_ratio double, avg_length double, length_variance double"
        )
    aggs = []
    for c in cols:
        v = qcol(c)
        ln = F.length(v.cast("string"))
        aggs += [
            F.count_distinct(v).alias(f"u_{c}"),
            F.count(v).alias(f"n_{c}"),
            F.avg(ln).alias(f"al_{c}"),
            F.var_samp(ln.cast("double")).alias(f"lv_{c}"),
        ]
    row = df.agg(*aggs).collect()[0]
    data = []
    for c in cols:
        n = int(row[f"n_{c}"] or 0)
        data.append((
            c, int(row[f"u_{c}"] or 0), n,
            (int(row[f"u_{c}"] or 0) / n) if n else 0.0,
            float(row[f"al_{c}"]) if row[f"al_{c}"] is not None else 0.0,
            float(row[f"lv_{c}"]) if row[f"lv_{c}"] is not None else 0.0,
        ))
    return df.sparkSession.createDataFrame(
        data, "col_name string, unique_values bigint, total_values bigint, "
              "uniqueness_ratio double, avg_length double, length_variance double"
    )
