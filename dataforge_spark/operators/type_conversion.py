"""Type conversion T1–T6 (SURVEY §2.5).

Reference: ``convert_data_types``
(/root/reference/methods/dataTypeConversion.py:17-191). Manual cast map
with errors∈{coerce,raise,ignore}, plus auto-detection passes over string
columns: numeric (>70% parse), datetime (>50% parse), boolean (value-set
⊆ truthy/falsy vocabulary), category (<50% unique & <100 distinct — a
storage hint only in Spark; Parquet dictionary-encodes for free).

Scale: all detection ratios for all candidate columns are computed in ONE
full-data aggregate job. The datetime format list is elected from a
driver-side sample first (SURVEY §7.3 item 3), so the full pass parses
only the elected formats (usually one) instead of probing all 8 per
value; the ≥2-distinct boolean test uses min≠max instead of an exact
count_distinct (which would force an Expand-based multi-distinct plan —
a row-multiplying full extra scan at 100 TB). Casts are pure projections.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io import ROW_ID, qcol

_BOOL_TRUE = ["true", "1", "yes", "y", "t"]
_BOOL_FALSE = ["false", "0", "no", "n", "f"]
_BOOL_VOCAB = set(_BOOL_TRUE) | set(_BOOL_FALSE)

# Prioritized timestamp formats reproducing pandas' per-value inference
# deterministically (SURVEY §7.3 item 3).
DATETIME_FORMATS = [
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd",
    "MM/dd/yyyy",
    "dd/MM/yyyy",
    "yyyy/MM/dd",
    "MM-dd-yyyy",
    "dd-MM-yyyy",
]

# Python strptime equivalents used ONLY for driver-side format election on
# a bounded sample. strptime is slightly laxer than Java's strict patterns
# (accepts unpadded fields), which errs in the safe direction: a format the
# sample matches is still gated by the Java-side full-data parse ratio.
_PY_FORMATS = {
    "yyyy-MM-dd HH:mm:ss": "%Y-%m-%d %H:%M:%S",
    "yyyy-MM-dd'T'HH:mm:ss": "%Y-%m-%dT%H:%M:%S",
    "yyyy-MM-dd": "%Y-%m-%d",
    "MM/dd/yyyy": "%m/%d/%Y",
    "dd/MM/yyyy": "%d/%m/%Y",
    "yyyy/MM/dd": "%Y/%m/%d",
    "MM-dd-yyyy": "%m-%d-%Y",
    "dd-MM-yyyy": "%d-%m-%Y",
}

# The other direction, for a user's date_format: the reference passes it
# to pandas, so it is a strftime pattern. Only codes Spark can PARSE map
# (Spark rejects e.g. day-of-week letters in parse patterns).
_STRFTIME_TO_SPARK = {
    "Y": "yyyy", "y": "yy", "m": "MM", "d": "dd", "H": "HH", "I": "hh",
    "M": "mm", "S": "ss", "f": "SSSSSS", "p": "a", "b": "MMM", "B": "MMMM",
    "j": "DDD", "z": "Z", "%": "%",
}


def _strftime_to_spark(fmt: str) -> str:
    """Spark datetime pattern for a strftime ``fmt`` ('%Y-%m-%d' →
    'yyyy-MM-dd'); a pattern without '%' is taken as Spark's already.
    Literal letters and Spark's reserved characters are quoted. Raises
    ValueError on a code Spark cannot parse, so a bad config fails inside
    the op that builds the plan, not at write time."""
    if "%" not in fmt:
        return fmt
    out, lit = [], []

    def flush():
        if lit:
            text = "".join(lit)
            if any(ch.isalpha() or ch in "'[]{}#" for ch in text):
                text = "'" + text.replace("'", "''") + "'"
            out.append(text)
            lit.clear()

    i = 0
    while i < len(fmt):
        if fmt[i] != "%":
            lit.append(fmt[i])
            i += 1
            continue
        code = fmt[i + 1:i + 2]
        if code not in _STRFTIME_TO_SPARK:
            raise ValueError(
                f"unsupported strftime code %{code} in date_format {fmt!r}"
            )
        if code == "%":
            lit.append("%")
        else:
            flush()
            out.append(_STRFTIME_TO_SPARK[code])
        i += 2
    flush()
    return "".join(out)


DETECT_SAMPLE_ROWS = 10_000

# Strict-padding regexes mirroring Java's strict DateTimeFormatter field
# widths — pandas strptime alone accepts unpadded fields Java rejects, so
# the Arrow detector guards each format with its exact shape.
_FMT_RE = {
    "yyyy-MM-dd HH:mm:ss": r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}",
    "yyyy-MM-dd'T'HH:mm:ss": r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}",
    "yyyy-MM-dd": r"\d{4}-\d{2}-\d{2}",
    "MM/dd/yyyy": r"\d{2}/\d{2}/\d{4}",
    "dd/MM/yyyy": r"\d{2}/\d{2}/\d{4}",
    "yyyy/MM/dd": r"\d{4}/\d{2}/\d{2}",
    "MM-dd-yyyy": r"\d{2}-\d{2}-\d{4}",
    "dd-MM-yyyy": r"\d{2}-\d{2}-\d{4}",
}

_TYPE_ALIASES = {
    "int": "bigint", "int64": "bigint", "integer": "bigint",
    "float": "double", "float64": "double",
    "str": "string", "object": "string", "category": "string",
    "bool": "boolean", "datetime": "timestamp", "datetime64": "timestamp",
}


def parse_timestamp_expr(col, formats: list[str] | None = None):
    """First-match-wins timestamp parse over a fixed format list."""
    formats = formats or DATETIME_FORMATS
    return F.coalesce(*[F.try_to_timestamp(col, F.lit(f)) for f in formats])


def convert_data_types(
    df: DataFrame,
    type_mapping: dict[str, str] | None = None,
    auto_detect: bool = True,
    errors: str = "coerce",
) -> DataFrame:
    out = df

    # T1 — manual cast map
    cast_exprs: dict[str, tuple[str, object]] = {}
    for col, target in (type_mapping or {}).items():
        if col not in out.columns:
            continue
        spark_type = _TYPE_ALIASES.get(target.lower(), target.lower())
        src = qcol(col)
        if spark_type == "timestamp":
            casted = parse_timestamp_expr(src)
        elif spark_type == "boolean":
            casted = (
                F.when(F.lower(F.trim(src)).isin(_BOOL_TRUE), F.lit(True))
                .when(F.lower(F.trim(src)).isin(_BOOL_FALSE), F.lit(False))
                .otherwise(F.lit(None).cast("boolean"))
            )
        else:
            casted = src.try_cast(spark_type)
        cast_exprs[col] = (target, casted)

    if cast_exprs and errors in ("ignore", "raise"):
        # pandas astype(errors='ignore') leaves the column UNCHANGED when
        # any value fails (never a silent partial null-out); 'raise'
        # errors out. Both need failure counts — computed for ALL mapped
        # columns in ONE aggregate pass, not a full scan per column.
        bad = out.agg(
            *[
                F.sum((qcol(c).isNotNull() & casted.isNull()).cast("long")).alias(c)
                for c, (_, casted) in cast_exprs.items()
            ]
        ).collect()[0]
        for c, (target, _) in list(cast_exprs.items()):
            n_bad = int(bad[c] or 0)
            if n_bad:
                if errors == "raise":
                    raise ValueError(f"{n_bad} values of {c!r} fail cast to {target}")
                del cast_exprs[c]  # ignore: skip this column entirely

    for c, (_, casted) in cast_exprs.items():
        out = out.withColumn(c, casted)

    if not auto_detect:
        return out

    str_cols = [
        f.name
        for f in out.schema.fields
        if isinstance(f.dataType, T.StringType) and f.name != ROW_ID
    ]
    if not str_cols:
        return out

    # Format election: one bounded sample job (limit → first partitions
    # only), then per-column keep the formats (priority order) that parse
    # ≥1 sampled value. A column whose sample matches nothing skips the
    # datetime detector entirely; the full pass below then pays only the
    # elected formats instead of an 8-way per-cell probe.
    fmts = _elect_datetime_formats(out, str_cols)

    # ONE full-data pass: per column — non-null count, numeric-parse
    # count, integral count, min/max (≥2-distinct test), bool-vocab
    # count, elected-format datetime-parse count. Computed by an
    # Arrow-batched kernel (_detect_stats): the JVM single-aggregate
    # formulation paid ~1.1 µs/cell in try_cast('double') string parses
    # — 4.6 s of a 6.6 s detection at 4 cols × 1M rows — where pandas'
    # C parser does the same counts in ~0.3 s. Partial stats per Arrow
    # batch, combined by a tiny JVM aggregate; parse-semantics parity
    # with try_cast/try_to_timestamp is pinned by
    # test_detect_stats_matches_jvm_semantics.
    s = _detect_stats(out, str_cols, fmts)

    for c in str_cols:
        nn = s[f"nn_{c}"]
        if not nn:
            continue
        v = qcol(c)
        # T4 auto-boolean: every non-null value in vocabulary, ≥2 distinct
        # (min≠max over non-nulls ⇔ count_distinct ≥ 2, without the
        # multi-distinct Expand plan).
        if s[f"bool_{c}"] == nn and s[f"mn_{c}"] != s[f"mx_{c}"]:
            out = out.withColumn(
                c,
                F.when(F.lower(F.trim(v)).isin(_BOOL_TRUE), True)
                .when(F.lower(F.trim(v)).isin(_BOOL_FALSE), False),
            )
        # T2 auto-numeric: >70% of non-null parse
        elif s[f"num_{c}"] / nn > 0.70:
            if s[f"int_{c}"] == s[f"num_{c}"]:
                out = out.withColumn(c, v.try_cast("double").try_cast("bigint"))
            else:
                out = out.withColumn(c, v.try_cast("double"))
        # T3 auto-datetime: >50% of non-null parse with elected formats
        elif fmts[c] and s[f"dt_{c}"] / nn > 0.50:
            out = out.withColumn(c, parse_timestamp_expr(v, fmts[c]))
        # T5 auto-category: metadata-only in Spark (dictionary encoding is a
        # Parquet storage concern, not a logical type) — no-op.
    return out


def _detect_stats(df: DataFrame, str_cols: list[str], fmts: dict) -> dict:
    """Per-column detection statistics in ONE Arrow-batched pass over the
    string columns (column-pruned scan → mapInPandas partials → tiny JVM
    combine). Returns ``{nn_c, num_c, int_c, mn_c, mx_c, bool_c, dt_c}``
    keyed like the old JVM aggregate.

    Parse-semantics parity with the JVM casts the APPLY step still uses:

    - numeric  = ``try_cast('double')``: pd.to_numeric, plus Java's extras
      it rejects — literal nan words (parse to NaN, non-null in Spark),
      float-literal suffixes ('5f'/'5d'), exponents past the double
      range ('0e1000' → 0.0, '1e1000' → Infinity) and hex floats
      ('0x1p3' → 8.0, '-0x1.8p1f' → -3.0); whitespace both engines
      strip.
    - integral matches ``num == floor(num)`` with a finite + long-range
      guard (Java's floor(double)→bigint overflows past ±2^63; such
      values stay on the double path).
    - boolean  = ``lower(trim(v)) in vocab`` — trim strips 0x20 only,
      so the kernel strips ' ' only, not all whitespace.
    - datetime = ``try_to_timestamp(v, fmt)``: strptime validity AND the
      format's exact field widths (_FMT_RE) — strptime alone accepts
      unpadded fields Java rejects. Rows pandas NaT-coerces solely for
      its ns Timestamp range (1677–2262 — Java parses the full proleptic
      range) re-check through datetime.strptime, and the one year
      strptime itself cannot represent, 0000 (valid in Java's ISO
      chronology), validates via a year-2000 substitution — 0 and 2000
      are both %400 leap years, so month/day validity is identical.
      (r8: the hypothesis differential found '0000-01-01' counted 0 by
      the kernel, 1 by the JVM.)
    - ≥2-distinct = min ≠ max over the raw strings — exact, unlike the
      old xxhash64 probe (UTF-8 byte order vs code-point order differ in
      neither equality nor this gate).
    """
    import numpy as np
    import pandas as pd
    from datetime import datetime as _dt

    from ..partitioning import ensure_parallelism

    n = len(str_cols)
    src = ensure_parallelism(
        df.select(*[qcol(c).alias(f"c{i}") for i, c in enumerate(str_cols)])
    )
    out_schema = ", ".join(
        f"nn{i} long, num{i} long, int{i} long, mn{i} string, mx{i} string, "
        f"bool{i} long, dt{i} long"
        for i in range(n)
    )
    import re as _re

    # field-width regexes compiled ASCII so \d rejects non-ASCII digits,
    # like Java's strict DecimalStyle
    fmt_specs = [
        [(_PY_FORMATS[f], _re.compile(_FMT_RE[f], _re.ASCII))
         for f in fmts.get(c) or []]
        for c in str_cols
    ]
    vocab = sorted(_BOOL_VOCAB)
    LONG_MAX = float(2**63 - 1)
    # Java's parseDouble trims chars <= 0x20 (ASCII control + space),
    # NOT Unicode whitespace — pandas' default str.strip() is wider and
    # would count NBSP-wrapped values the JVM apply-cast then nulls.
    JAVA_WS = "".join(map(chr, range(0x21)))
    # Java's decimal-with-exponent grammar, ASCII digits only (float()
    # would also take Unicode digits and '_' separators Java rejects)
    JAVA_EXP_RE = r"[+-]?(?:[0-9]+\.?[0-9]*|\.[0-9]+)[eE][+-]?[0-9]+[fFdD]?"
    # Java's hex-float grammar ('0x1p3', '-0x1.8p1f'): the binary exponent
    # is mandatory, so '0x1A' stays non-numeric as in Java
    JAVA_HEX_RE = (
        r"[+-]?0[xX](?:[0-9a-fA-F]+\.?[0-9a-fA-F]*|\.[0-9a-fA-F]+)"
        r"[pP][+-]?[0-9]+[fFdD]?"
    )

    def from_hex(h: str) -> float:
        # float.fromhex raises where Java rounds past the range to ±Infinity
        try:
            return float.fromhex(h)
        except OverflowError:
            return float("-inf") if h.startswith("-") else float("inf")

    def stats(batches):
        for pdf in batches:
            row = {}
            for i in range(n):
                ss = pdf[f"c{i}"].dropna()
                row[f"nn{i}"] = len(ss)
                if len(ss) == 0:
                    row.update({f"num{i}": 0, f"int{i}": 0, f"mn{i}": None,
                                f"mx{i}": None, f"bool{i}": 0, f"dt{i}": 0})
                    continue
                num = pd.to_numeric(ss, errors="coerce")
                n_nan_lit = 0
                un = num.isna()
                if un.any():
                    miss = ss[un]
                    stripped = miss.str.strip(JAVA_WS)
                    # The retry exists only for Java's extras to_numeric
                    # rejects: float-literal suffixes ('5f'/'5d'), bare
                    # nan words (non-null NaN in Spark; to_numeric's own
                    # NaN is indistinguishable from a parse miss), and
                    # control-char padding (Java trims <=0x20, to_numeric
                    # is narrower). Gate on those candidates — a column
                    # of 'yes'/'no' or dates would otherwise pay 3 more
                    # full string passes for nothing.
                    low = stripped.str.lower()
                    exp_form = stripped.str.fullmatch(JAVA_EXP_RE)
                    hex_form = stripped.str.fullmatch(JAVA_HEX_RE)
                    cand = (
                        stripped.str[-1:].isin(["f", "F", "d", "D"])
                        | (low == "nan")
                        | (stripped != miss)
                        | exp_form
                        | hex_form
                    )
                    if cand.any():
                        t = stripped[cand]
                        bare = t.str.replace(
                            r"(?<=[\d.])[fFdD]$", "", regex=True
                        )
                        num.loc[t.index] = pd.to_numeric(bare, errors="coerce")
                        # to_numeric rejects exponents past the double
                        # range; Java parses them to ±Infinity or ±0.0,
                        # as float() does
                        far = num.loc[t.index].isna() & exp_form[cand]
                        if far.any():
                            num.loc[far[far].index] = bare[far].map(float)
                        # hex floats, which to_numeric never parses
                        hx = hex_form[cand]
                        if hx.any():
                            num.loc[hx[hx].index] = bare[hx].map(from_hex)
                        # bare (unsigned) nan only: '+nan'/'-nan' are
                        # rejected by Spark's string→double parse
                        n_nan_lit = int((t.str.lower() == "nan").sum())
                v = num.to_numpy(dtype=float)
                ok = np.isfinite(v)  # NaN (unparsed or nan-literal) is not
                row[f"num{i}"] = int(num.notna().sum()) + n_nan_lit
                row[f"int{i}"] = int(
                    (ok & (np.abs(v) <= LONG_MAX) & (v == np.floor(v))).sum()
                )
                row[f"mn{i}"] = ss.min()
                row[f"mx{i}"] = ss.max()
                row[f"bool{i}"] = int(
                    ss.str.strip(" ").str.lower().isin(vocab).sum()
                )
                dt_mask = None
                for pyfmt, rx in fmt_specs[i]:
                    shaped = ss.str.fullmatch(rx)
                    parsed = pd.to_datetime(
                        ss, format=pyfmt, errors="coerce"
                    ).notna()
                    m = shaped & parsed
                    # pandas' ns range (1677-2262) is narrower than
                    # Java's proleptic parser: re-check shaped-but-NaT
                    # rows with strptime (years 1-9999), and year 0000
                    # via a 2000 substitution (same %400 leap status);
                    # the year field is leading or trailing in every
                    # supported format
                    gap = shaped & ~parsed
                    if gap.any():
                        lead_year = pyfmt.startswith("%Y")
                        for pos in np.flatnonzero(gap.to_numpy()):
                            val = ss.iloc[pos]
                            try:
                                _dt.strptime(val, pyfmt)
                                m.iloc[pos] = True
                                continue
                            except ValueError:
                                pass
                            y = val[:4] if lead_year else val[-4:]
                            if y == "0000":
                                sub = (
                                    "2000" + val[4:]
                                    if lead_year
                                    else val[:-4] + "2000"
                                )
                                try:
                                    _dt.strptime(sub, pyfmt)
                                    m.iloc[pos] = True
                                except ValueError:
                                    pass
                    dt_mask = m if dt_mask is None else (dt_mask | m)
                row[f"dt{i}"] = int(dt_mask.sum()) if dt_mask is not None else 0
            yield pd.DataFrame([row])

    partials = src.mapInPandas(stats, out_schema)
    aggs = []
    for i in range(n):
        aggs += [
            F.sum(f"nn{i}").alias(f"nn{i}"), F.sum(f"num{i}").alias(f"num{i}"),
            F.sum(f"int{i}").alias(f"int{i}"), F.min(f"mn{i}").alias(f"mn{i}"),
            F.max(f"mx{i}").alias(f"mx{i}"), F.sum(f"bool{i}").alias(f"bool{i}"),
            F.sum(f"dt{i}").alias(f"dt{i}"),
        ]
    r = partials.agg(*aggs).collect()[0]
    s: dict = {}
    for i, c in enumerate(str_cols):
        for k in ("nn", "num", "int", "bool", "dt"):
            s[f"{k}_{c}"] = int(r[f"{k}{i}"] or 0)
        s[f"mn_{c}"] = r[f"mn{i}"]
        s[f"mx_{c}"] = r[f"mx{i}"]
    return s


def _elect_datetime_formats(
    df: DataFrame, cols: list[str], n: int = DETECT_SAMPLE_ROWS
) -> dict[str, list[str]]:
    """Driver-side datetime-format election (SURVEY §7.3 item 3): read the
    first ``n`` rows once, keep per column the formats (priority order)
    that parse ≥1 sampled value. The full-data gate/cast still applies
    Java-side parsing over the ELECTED list, so election only bounds which
    formats are paid for — a format used exclusively outside the sampled
    prefix is the documented sampling tradeoff."""
    rows = df.select(*[qcol(c).alias(c) for c in cols]).limit(n).collect()
    elected: dict[str, list[str]] = {}
    for c in cols:
        # Every candidate format starts with a digit field — prefilter so
        # prose columns don't pay 8 × n strptime exceptions; dedupe so
        # low-cardinality columns are elected in O(distinct).
        non_null = [r[c].strip() for r in rows if r[c] is not None]
        vals = list(dict.fromkeys(v for v in non_null if v[:1].isdigit()))
        keep = []
        for jfmt, pfmt in _PY_FORMATS.items():
            for v in vals:
                try:
                    datetime.strptime(v, pfmt)
                    keep.append(jfmt)
                    break
                except (ValueError, TypeError):
                    continue
        # Nothing sampled at all (prefix is all-NULL): fall back to the full
        # format list so a column whose valid dates sit past the sample isn't
        # permanently locked out — the >50% full-data gate still decides
        # whether the cast applies. A sample with non-null prose values
        # (non-digit-leading) still elects [] so prose columns never pay the
        # 8-format full scan.
        elected[c] = keep if non_null else list(_PY_FORMATS)
    return elected
