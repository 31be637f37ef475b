"""Differential tests for the §2 operators against pandas (the reference's
engine), per SURVEY §5 test strategy."""

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dataforge_spark import profile
from dataforge_spark.io import with_row_id
from dataforge_spark.operators import (
    duplicates,
    missing_values,
    normalization,
    outliers,
)


@pytest.fixture(scope="module")
def dirty(spark):
    """Small frame with nulls/dupes/outliers, deterministic."""
    rows = []
    for i in range(100):
        rows.append(
            {
                "id": i,
                "x": None if i % 7 == 0 else float(i % 13),
                "y": 1000.0 if i == 50 else float(i),
                "cat": None if i % 11 == 0 else f"c{i % 3}",
            }
        )
    # exact duplicates of the first 5 rows
    for i in range(5):
        r = dict(rows[i])
        r["id"] = 100 + i
        rows.append(r)
    return spark.createDataFrame(pd.DataFrame(rows)), pd.DataFrame(rows)


def test_profile_counts(dirty):
    sdf, pdf = dirty
    info = profile.dataset_info(sdf)
    assert info["shape"]["rows"] == len(pdf)
    assert info["missing_values"]["x"] == int(pdf["x"].isna().sum())
    assert info["missing_values"]["cat"] == int(pdf["cat"].isna().sum())
    assert info["duplicate_rows"] == int(pdf.duplicated().sum())
    assert duplicates.duplicate_count(sdf, subset=["x", "y", "cat"]) == int(
        pdf.duplicated(subset=["x", "y", "cat"]).sum()
    )


def test_fill_mean_matches_pandas(dirty):
    sdf, pdf = dirty
    out = missing_values.fix_missing_values(sdf, "fill_mean", columns=["x"]).toPandas()
    expected = pdf["x"].fillna(pdf["x"].mean())
    got = out.sort_values("id")["x"].reset_index(drop=True)
    assert ((got - expected).abs() < 1e-9).all()


def test_fill_median_matches_pandas(dirty):
    sdf, pdf = dirty
    out = missing_values.fix_missing_values(sdf, "fill_median", columns=["x"]).toPandas()
    expected = pdf["x"].fillna(pdf["x"].median())
    got = out.sort_values("id")["x"].reset_index(drop=True)
    assert ((got - expected).abs() < 1e-9).all()


def test_fill_mode_smallest_tie(spark):
    pdf = pd.DataFrame({"id": range(6), "c": ["b", "a", None, "a", "b", None]})
    sdf = spark.createDataFrame(pdf)
    out = missing_values.fix_missing_values(sdf, "fill_mode", columns=["c"]).toPandas()
    # tie between a and b → pandas mode picks 'a' (smallest)
    assert set(out[out["id"].isin([2, 5])]["c"]) == {"a"}


def test_drop_rows(dirty):
    sdf, pdf = dirty
    out = missing_values.fix_missing_values(sdf, "drop_rows")
    assert out.count() == len(pdf.dropna())


def test_drop_columns(dirty):
    sdf, pdf = dirty
    out = missing_values.fix_missing_values(sdf, "drop_columns")
    assert set(out.columns) == set(pdf.dropna(axis=1).columns)


def test_ffill_bfill_match_pandas(spark):
    pdf = pd.DataFrame(
        {
            "k": range(200),
            "v": [None if i % 3 == 0 else float(i) for i in range(200)],
            "s": [None if i % 5 == 0 else f"s{i}" for i in range(200)],
        }
    )
    sdf = spark.createDataFrame(pdf).repartition(8)
    for direction, pd_fn in (("forward_fill", pdf.ffill()), ("backward_fill", pdf.bfill())):
        out = (
            missing_values.fix_missing_values(sdf, direction, order_col="k")
            .toPandas()
            .sort_values("k")
            .reset_index(drop=True)
        )
        for col in ("v", "s"):
            exp = pd_fn[col]
            got = out[col]
            assert (got.isna() == exp.isna()).all(), (direction, col)
            assert (got.dropna() == exp.dropna()).all(), (direction, col)


def test_ordered_fill_fast_and_bucketed_paths_agree(spark, monkeypatch):
    """The size-gated fast path (single bucket, no sketch/carry jobs) must
    be bit-identical to the scale-safe bucketed plan — including NULL-order
    rows staying untouched."""
    pdf = pd.DataFrame(
        {
            "k": [None if i % 11 == 0 else i for i in range(500)],
            "v": [None if i % 3 == 0 else float(i) for i in range(500)],
        }
    )
    sdf = spark.createDataFrame(pdf).repartition(8)
    # the gate must actually fire: a known (non-None) small estimate
    est = missing_values._plan_size_bytes(sdf)
    assert est is not None and est <= missing_values.FAST_FILL_MAX_BYTES

    def run(direction):
        out = missing_values.fix_missing_values(
            sdf, direction, columns=["v"], order_col="k"
        ).toPandas()
        return sorted(map(tuple, out.fillna(-1).itertuples(index=False)))

    for direction in ("forward_fill", "backward_fill"):
        fast = run(direction)
        monkeypatch.setattr(missing_values, "FAST_FILL_MAX_BYTES", -1)
        slow = run(direction)
        monkeypatch.undo()
        assert fast == slow, direction


def test_dedup_keep_first(spark):
    pdf = pd.DataFrame({"a": [1, 1, 2, 2, 3], "b": ["x", "x", "y", "y", "z"], "tag": list("pqrst")})
    sdf = with_row_id(spark.createDataFrame(pdf).coalesce(1))
    out = duplicates.drop_duplicates(sdf, subset=["a", "b"]).toPandas().sort_values("a")
    assert list(out["tag"]) == ["p", "r", "t"]  # first occurrences
    assert duplicates.duplicate_count(sdf, subset=["a", "b"]) == 2


def test_outlier_iqr_matches_pandas(dirty):
    sdf, pdf = dirty
    out = outliers.handle_outliers(sdf, columns=["y"], method="iqr", action="remove")
    q1, q3 = pdf["y"].quantile(0.25), pdf["y"].quantile(0.75)
    iqr = q3 - q1
    keep = pdf[(pdf["y"] >= q1 - 1.5 * iqr) & (pdf["y"] <= q3 + 1.5 * iqr)]
    assert out.count() == len(keep)


def test_outlier_zscore_ddof1(dirty):
    sdf, pdf = dirty
    out = outliers.handle_outliers(sdf, columns=["y"], method="zscore", action="remove", threshold=3.0)
    z = (pdf["y"] - pdf["y"].mean()) / pdf["y"].std(ddof=1)
    assert out.count() == int((z.abs() <= 3.0).sum())


def test_outlier_cap(dirty):
    sdf, pdf = dirty
    out = outliers.handle_outliers(sdf, columns=["y"], method="iqr", action="cap").toPandas()
    assert out["y"].max() < 1000.0
    assert len(out) == len(pdf)


def test_normalize_standard_pop_std(dirty):
    sdf, pdf = dirty
    out, params = normalization.normalize_data(sdf, columns=["y"], method="standard")
    got = out.toPandas().sort_values("id")["y"].reset_index(drop=True)
    exp = (pdf["y"] - pdf["y"].mean()) / pdf["y"].std(ddof=0)
    assert ((got - exp).abs() < 1e-9).all()
    back = normalization.inverse_transform(out, params).toPandas().sort_values("id")["y"]
    assert ((back.reset_index(drop=True) - pdf["y"]).abs() < 1e-9).all()


def test_normalize_l2_rowwise(spark):
    pdf = pd.DataFrame({"a": [3.0, 0.0], "b": [4.0, 0.0]})
    sdf = spark.createDataFrame(pdf)
    out, _ = normalization.normalize_data(sdf, method="normalize")
    got = out.toPandas()
    assert math.isclose(got.loc[0, "a"], 0.6)
    assert math.isclose(got.loc[0, "b"], 0.8)
    assert got.loc[1, "a"] == 0.0


def test_profile_top_values_sketch(spark, lineitem):
    from dataforge_spark.profile import top_values

    tv = top_values(lineitem.select("l_returnflag", "l_quantity"), k=3)
    assert set(tv) == {"l_returnflag", "l_quantity"}
    flags = tv["l_returnflag"]
    assert 1 <= len(flags) <= 3
    # descending counts, and the exact top flag must agree with a groupBy
    counts = [c for _, c in flags]
    assert counts == sorted(counts, reverse=True)
    from pyspark.sql import functions as F

    exact = (
        lineitem.groupBy("l_returnflag").count()
        .orderBy(F.desc("count"), "l_returnflag").first()
    )
    assert flags[0][0] == exact["l_returnflag"]


def test_quantile_binning_matches_pandas_qcut(spark, lineitem):
    import pandas as pd

    from dataforge_spark.operators.binning import bin_columns

    li = lineitem.select("l_orderkey", "l_linenumber", "l_quantity")
    out, edges = bin_columns(li, columns=["l_quantity"], n_bins=4)
    # the bin is a pure function of the value (testdata lineitem has
    # planted duplicate keys, so compare the value→bin mapping)
    got = {r["l_quantity"]: r["l_quantity_bin"] for r in out.collect()}
    pdf = li.toPandas()
    pdf["b"] = pd.qcut(pdf["l_quantity"], 4, labels=False, duplicates="drop")
    want = dict(zip(pdf["l_quantity"], pdf["b"]))
    assert got == want
    assert len(edges["l_quantity"]) <= 3


def test_uniform_binning_matches_pandas_cut(spark, lineitem):
    import pandas as pd

    from dataforge_spark.operators.binning import bin_columns

    li = lineitem.select("l_orderkey", "l_linenumber", "l_extendedprice")
    out, _ = bin_columns(li, columns=["l_extendedprice"], n_bins=5,
                         strategy="uniform")
    got = {r["l_extendedprice"]: r["l_extendedprice_bin"] for r in out.collect()}
    pdf = li.toPandas()
    pdf["b"] = pd.cut(pdf["l_extendedprice"], 5, labels=False)
    want = dict(zip(pdf["l_extendedprice"], pdf["b"]))
    mismatched_vals = {v for v in got if got[v] != want[v]}
    # pd.cut widens the min edge by 0.1% (its lowest interval is
    # left-open); only values at/near the exact bin edges may differ
    assert len(mismatched_vals) <= 2, sorted(mismatched_vals)[:5]


def test_binning_preserves_nulls_and_replays(spark):
    from pyspark.sql import functions as F

    from dataforge_spark.operators.binning import apply_bins, bin_columns

    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0), (5, None)], "id: bigint, x: double"
    )
    out, edges = bin_columns(df, columns=["x"], n_bins=2)
    rows = {r["id"]: r["x_bin"] for r in out.collect()}
    assert rows[5] is None
    assert rows[1] == 0 and rows[4] == 1
    # boundary value == interior edge falls in the LOWER bin (right-closed)
    med = edges["x"][0]
    probe = spark.createDataFrame([(9, float(med))], "id: bigint, x: double")
    assert apply_bins(probe, edges).collect()[0]["x_bin"] == 0


def test_language_id_detects_han_script(spark):
    from pyspark.sql import functions as F

    from dataforge_spark.functions.text_analysis import language_id

    rows = [
        (1, "这是一个完全用中文写的句子没有空格"),
        (2, "the quick brown fox and the lazy dog in the yard"),
        (3, "mixed 语言 text where the english words dominate the sentence"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    got = {r["doc_id"]: r["lang"] for r in df.select(
        "doc_id", language_id(F.col("text")).alias("lang")).collect()}
    assert got[1] == "zh"
    assert got[2] == "en"
    assert got[3] == "en"  # Han ratio under 0.3, stopword vote wins
    assert got[4] == "unknown"


def test_part_supplier_tables_through_the_engine(spark, sf_dir):
    """Exercise the two otherwise-untouched testdata tables end-to-end:
    profile + outlier cap + binning on part, label encode + broadcast
    dim enrichment on supplier."""
    from dataforge_spark.operators.binning import bin_columns
    from dataforge_spark.operators.encoding import encode_label

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    info = profile.dataset_info(part)
    assert info["shape"]["columns"] == 6
    assert info["missing_values"]["p_partkey"] == 0
    capped = outliers.handle_outliers(
        part, columns=["p_retailprice"], method="iqr", action="cap"
    )
    assert capped.count() == part.count()
    binned, edges = bin_columns(part, columns=["p_retailprice"], n_bins=4)
    assert binned.where(F.col("p_retailprice_bin").isNull()).count() == \
        part.where(F.col("p_retailprice").isNull()).count()
    assert len(edges["p_retailprice"]) <= 3

    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    enc, mapping = encode_label(supp, columns=["s_name"])
    assert dict(enc.dtypes)["s_name"] in ("int", "bigint")
    joined = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    )
    assert joined.count() == supp.count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_binning_nan_gets_no_bin(spark):
    from dataforge_spark.operators.binning import apply_bins

    df = spark.createDataFrame(
        [(1, 1.0), (2, float("nan")), (3, None)], "id: bigint, x: double"
    )
    rows = {r["id"]: r["x_bin"] for r in apply_bins(df, {"x": [2.0]}).collect()}
    assert rows[1] == 0 and rows[2] is None and rows[3] is None


def test_quantile_binning_mass_at_minimum_matches_qcut(spark):
    import pandas as pd

    from dataforge_spark.operators.binning import bin_columns

    vals = [0.0] * 40 + [float(i) for i in range(1, 61)]
    pdf = pd.DataFrame({"id": range(len(vals)), "x": vals})
    sdf = spark.createDataFrame(pdf)
    out, edges = bin_columns(sdf, columns=["x"], n_bins=4)
    got = {r["x"]: r["x_bin"] for r in out.collect()}
    pdf["b"] = pd.qcut(pdf["x"], 4, labels=False, duplicates="drop")
    want = dict(zip(pdf["x"], pdf["b"]))
    assert got == want          # q25 == min edge dropped, labels align
    assert len(edges["x"]) == 2  # only the two interior edges above min


def test_drop_duplicates_agg_and_window_paths_agree(spark):
    """Whole-row dedup (extra == [_row_id]) takes the hash-agg min path;
    it must match the window formulation row for row, keep=first and
    keep=last."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dataforge_spark.operators.duplicates import drop_duplicates

    rows = [(i % 50, float(i % 7), "abcde"[i % 5], i) for i in range(2000)]
    df = spark.createDataFrame(rows, "a bigint, b double, c string, _row_id bigint")
    for keep, pick in (("first", F.asc), ("last", F.desc)):
        got = sorted(map(tuple, drop_duplicates(df, keep=keep).collect()))
        w = Window.partitionBy("a", "b", "c").orderBy(pick("_row_id"))
        want = sorted(
            map(
                tuple,
                df.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1).drop("_rn")
                .select(*df.columns).collect(),
            )
        )
        assert got == want


def test_replace_words_cascading_map_keeps_chain_semantics(spark):
    """A fix that introduces another typo key must be re-processed by
    later chain entries (apply-in-order semantics) — the cascade check
    must route such maps to the sequential chain, while an acyclic map
    larger than the alternation floor takes the single-pass path with
    identical output."""
    from pyspark.sql import functions as F

    import dataforge_spark.operators.typo_fix as tf

    df = spark.createDataFrame([("start xx here",)], "t string")
    cascading = {"xx": "yy", "yy": "zz"}  # 'yy' fix is itself a key
    got = df.select(
        tf.replace_words_expr(F.col("t"), cascading).alias("t")
    ).collect()[0]["t"]
    assert got == "start zz here"  # chain: xx -> yy, then yy -> zz

    acyclic = {f"t{i}": f"w{i}" for i in range(12)} | {"xx": "yy"}
    txt = "t0 T3 xx t11 plain"
    one_pass = df.select(
        tf.replace_words_expr(F.lit(txt), acyclic).alias("t")
    ).collect()[0]["t"]
    chain = txt
    import re as _re
    for k, v in acyclic.items():
        chain = _re.sub(rf"(?i)\b{k}\b", v, chain)
    assert one_pass == chain == "w0 w3 yy w11 plain"


def test_drop_duplicates_null_order_and_keep_last_parity(spark):
    from pyspark.sql import functions as F

    from dataforge_spark.operators.duplicates import drop_duplicates

    df = spark.createDataFrame(
        [("a", None), ("a", 5), ("b", 2), ("b", 7), ("c", None)],
        "k string, _row_id bigint",
    )
    # keep='first': asc sort places NULL first -> NULL survives for 'a'
    first = {r["k"]: r["_row_id"] for r in drop_duplicates(df, keep="first").collect()}
    assert first == {"a": None, "b": 2, "c": None}
    # keep='last': desc sort places NULL last -> max non-null survives
    last = {r["k"]: r["_row_id"] for r in drop_duplicates(df, keep="last").collect()}
    assert last == {"a": 5, "b": 7, "c": None}
    # keep='last' must also be honored on the WINDOW path (extra cols)
    df2 = df.withColumn("v", F.col("_row_id") * 10)
    last2 = {r["k"]: (r["_row_id"], r["v"])
             for r in drop_duplicates(df2, subset=["k"], keep="last").collect()}
    assert last2["b"] == (7, 70)


def test_replace_words_detects_punctuation_adjacent_cascade(spark):
    from pyspark.sql import functions as F

    import dataforge_spark.operators.typo_fix as tf

    # 'anti-bug' contains key 'bug' at a \b boundary (hyphen): the chain
    # would rewrite it; the cascade detector must force the chain even
    # though a whitespace split would miss it
    mapping = {f"t{i}": f"w{i}" for i in range(10)} | {
        "x": "anti-bug", "bug": "insect"
    }
    df = spark.createDataFrame([("x here",)], "t string")
    got = df.select(
        tf.replace_words_expr(F.col("t"), mapping).alias("t")
    ).collect()[0]["t"]
    assert got == "anti-insect here"


def test_replace_words_detects_key_vs_key_overlap(spark):
    """Two keys sharing a word ('a b' / 'b c') can claim overlapping text
    regions; the chain's apply-in-order result ('a b c' -> first entry
    wins its region) must be preserved — the overlap detector routes such
    maps to the chain even though no FIX contains a key."""
    from pyspark.sql import functions as F

    import dataforge_spark.operators.typo_fix as tf

    # > _MIN_ALTERNATION entries so only the overlap check forces the chain
    mapping = {"b c": "Y", "a b": "X"} | {f"t{i}": f"w{i}" for i in range(10)}
    df = spark.createDataFrame([("a b c",)], "t string")
    got = df.select(
        tf.replace_words_expr(F.col("t"), mapping).alias("t")
    ).collect()[0]["t"]
    assert got == "a Y"  # chain: 'b c' -> Y first; alternation would give 'X c'


def test_detect_stats_matches_jvm_semantics(spark):
    """The Arrow detection kernel must produce the same counts as the JVM
    aggregate it replaced (try_cast / trim / try_to_timestamp semantics)
    on an adversarial value battery."""
    from pyspark.sql import functions as F

    from dataforge_spark.operators.type_conversion import (
        _detect_stats,
        parse_timestamp_expr,
        _BOOL_VOCAB,
    )

    vals = ["123", " 123 ", "1.5e3", "-0.7", ".", "", " ", "abc", "NaN",
            "nan", "NAN", "+nan", "inf", "-Infinity", "1,000", "0x1A",
            "12.", ".5", "+5", "5f", "5D", "1.f", "5 f", "nanf", "1e",
            "12.3.4", "true", " YES ", "\ttrue", "2020-01-01", "2020-1-1",
            "2020-13-01", "2020-02-30", "2020-01-01 05:06:07", None, "42",
            # exponents past the double range: Java parses 0.0 / ±Infinity
            "0e1000", "1e1000", "-1e999f", ".5e400", " 1e309d",
            # Java hex floats: the binary exponent is mandatory ('0x1A',
            # '0x1.8' stay non-numeric); past the range → ±Infinity / 0.0
            "0x1p3", "0x1.8p1", "-0x1p3", "+0X1.8P1f", "0x.8p1d", " 0x1p3 ",
            "0x1.8", "0x1p2000", "-0x1p2000", "0x1p-2000", "0xp3"]
    df = spark.createDataFrame([(v,) for v in vals], "c string")
    fmts = {"c": ["yyyy-MM-dd", "yyyy-MM-dd HH:mm:ss"]}
    got = _detect_stats(df, ["c"], fmts)

    v = F.col("c")
    num = v.try_cast("double")
    jvm = df.agg(
        F.count(v).alias("nn"),
        F.count(num).alias("num"),
        F.sum((num.isNotNull() & (num == F.floor(num))).cast("long")).alias("int"),
        F.min(v).alias("mn"), F.max(v).alias("mx"),
        F.sum(F.lower(F.trim(v)).isin(sorted(_BOOL_VOCAB)).cast("long")).alias("bool"),
        F.count(parse_timestamp_expr(v, fmts["c"])).alias("dt"),
    ).collect()[0]
    for k in ("nn", "num", "int", "bool", "dt"):
        assert got[f"{k}_c"] == jvm[k], (k, got[f"{k}_c"], jvm[k])
    # distinctness gate: only min != max matters
    assert (got["mn_c"] != got["mx_c"]) == (jvm["mn"] != jvm["mx"])


def test_dedup_exact_keep_first_semantics(spark):
    """r8 unit coverage for the aggregate rewrite: min-id survivor with
    its OWN row's columns, NULL id sorts first, reserved working
    columns rejected, map-typed rows route through the min_by fallback
    with identical survivor choice."""
    import pytest
    from pyspark.sql import functions as F

    from dataforge_spark.dedup.exact import dedup_exact

    df = spark.createDataFrame(
        [(3, "dup", "c3"), (1, "dup", "c1"), (2, "uniq", "c2"),
         (None, "dup", "cN")],
        "doc_id int, text string, tag string",
    )
    got = {r["text"]: (r["doc_id"], r["tag"])
           for r in dedup_exact(df, text_col="text", id_col="doc_id").collect()}
    # NULL id sorts first (ASC NULLS FIRST parity with the old window)
    assert got == {"dup": (None, "cN"), "uniq": (2, "c2")}

    with pytest.raises(ValueError, match="reserved"):
        dedup_exact(df.withColumn("_h", F.lit(1)), text_col="text",
                    id_col="doc_id")

    # map column -> min_by fallback; survivor is still the min-id row
    m = df.withColumn("meta", F.create_map(F.lit("k"), F.col("tag")))
    got2 = {r["text"]: (r["doc_id"], r["meta"]["k"])
            for r in dedup_exact(m, text_col="text", id_col="doc_id").collect()}
    assert got2 == {"dup": (None, "cN"), "uniq": (2, "c2")}
