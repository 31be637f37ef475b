"""Round-2 surface: service-layer contract tests (SURVEY §5.3), manifest
parity with the reference (/root/reference/main.py:240-331), streaming +
multimodal smoke tests, and regressions for the review-fix batch."""

import json
import os

import pytest
from pyspark.sql import functions as F

from dataforge_spark.dedup.ngram_jaccard import word_shingles
from dataforge_spark.operators.missing_values import fix_missing_values, modes
from dataforge_spark.operators.outliers import handle_outliers
from dataforge_spark.operators.type_conversion import convert_data_types
from dataforge_spark.operators.typo_fix import COMMON_TYPOS
from dataforge_spark.profile import memory_report, profile_df
from dataforge_spark.service import DataForgeService, ServiceError, pipeline_info

# ---------------------------------------------------------------------------
# service layer
# ---------------------------------------------------------------------------

REFERENCE_MANIFEST_OPS = {
    "missing_values", "duplicates", "outliers", "data_type_conversion",
    "text_cleaning", "datetime_parsing", "encoding", "typo_fix",
    "normalization",
}


def test_manifest_parity_with_reference():
    info = pipeline_info()
    assert info["status"] == "success"
    assert set(info["operations"]) == REFERENCE_MANIFEST_OPS
    ops = info["operations"]
    # strategy/method lists must cover the reference's advertised sets
    assert set(ops["missing_values"]["strategies"]) == {
        "drop_rows", "drop_rows_threshold", "drop_columns",
        "drop_columns_threshold", "fill_mean", "fill_median", "fill_mode",
        "forward_fill", "backward_fill",
    }
    assert set(ops["outliers"]["methods"]) == {
        "iqr", "zscore", "modified_zscore", "isolation_forest"
    }
    assert set(ops["outliers"]["actions"]) == {"remove", "cap", "transform"}
    assert set(ops["encoding"]["methods"]) == {"label", "onehot", "target"}
    assert set(ops["typo_fix"]["methods"]) == {
        "common_typos", "fuzzy_match", "spell_check"
    }
    assert set(ops["normalization"]["methods"]) == {
        "standard", "minmax", "robust", "normalize"
    }
    # reference's text op list is a subset of ours (we implement all 10)
    assert {
        "lowercase", "uppercase", "remove_whitespace", "remove_punctuation",
        "remove_numbers", "remove_special_chars",
    } <= set(ops["text_cleaning"]["operations"])


def test_service_upload_clean_download_delete(spark, tmp_path):
    svc = DataForgeService(spark, upload_dir=str(tmp_path / "uploads"))
    src = tmp_path / "mini.csv"
    src.write_text("a,b\n1,x\n2,\n2,\n,y\n")

    up = svc.upload("mini.csv", str(src))
    assert up["status"] == "success"
    assert up["dataset_info"]["shape"]["rows"] == 4
    assert up["dataset_info"]["duplicate_rows"] == 1

    res = svc.clean_data(
        up["file_path"],
        '{"missing_values": {"enabled": true, "strategy": "drop_rows"},'
        ' "duplicates": {"enabled": true}}',
    )
    assert res["status"] == "success"
    assert res["download_url"].startswith("/download/")
    assert res["result"]["operations"]["missing_values"]["status"] == "success"

    part = svc.download_path("mini_cleaned.csv")
    assert os.path.exists(part)
    with open(part) as f:
        lines = [ln for ln in f.read().strip().splitlines() if ln]
    assert lines[0] == "a,b"
    assert len(lines) == 2  # header + the single clean distinct row

    listed = svc.list_files()
    names = {f["filename"] for f in listed["files"]}
    assert "mini.csv" in names and "mini_cleaned.csv" in names

    assert svc.delete_file("mini.csv")["status"] == "success"
    with pytest.raises(ServiceError) as e:
        svc.download_path("mini.csv")
    assert e.value.status_code == 404


def test_service_rejects_bad_input(spark, tmp_path):
    svc = DataForgeService(spark, upload_dir=str(tmp_path / "uploads"))
    with pytest.raises(ServiceError) as e:
        svc.upload("data.txt", "/nonexistent")
    assert e.value.status_code == 400
    with pytest.raises(ServiceError) as e:
        svc.clean_data("/nonexistent.csv", '{"missing_values": {"strategy": "bogus"}}')
    assert e.value.status_code == 400
    with pytest.raises(ServiceError) as e:
        svc.clean_data("/nonexistent.csv", "not json")
    assert e.value.status_code == 400


# ---------------------------------------------------------------------------
# regressions for the review-fix batch
# ---------------------------------------------------------------------------


def test_common_typos_match_reference_exactly():
    # /root/reference/methods/spellingFix.py:22-50 — 26 behavioral constants
    assert len(COMMON_TYPOS) == 26
    assert COMMON_TYPOS["mispelled"] == "misspelled"
    assert COMMON_TYPOS["finace"] == "finance"
    assert "hte" not in COMMON_TYPOS  # round-1 invented entries removed


def test_word_shingles_short_doc(spark):
    df = spark.createDataFrame([("one two",), ("a b c d",), ("", )], "t: string")
    rows = df.select(word_shingles(F.col("t"), 3).alias("s")).collect()
    assert rows[0]["s"] == [] and rows[2]["s"] == []
    assert rows[1]["s"] == ["a b c", "b c d"]


def test_word_shingles_udf_matches_hof_reference(spark):
    """The Arrow-batched shingle UDF must be semantically identical to
    the pure-expression HOF it replaced — including Java-ASCII whitespace
    (NOT Python's Unicode \\s: NBSP is a word char to Java), space-only
    trim, leading/trailing empty tokens, repeated-shingle dedup order,
    NULL -> []."""
    from dataforge_spark.dedup.ngram_jaccard import word_shingles_hof

    rows = [
        ("plain one two three four five",),
        ("tabs\tand\nnewlines split  runs   collapse",),
        ("\tleading tab keeps empty token a b",),
        ("trailing tab a b c\t",),
        ("nbsp is not a separator here ok",),
        ("dup dup dup dup dup dup",),
        ("  spaces trimmed a b c  ",),
        ("", ),
        (None,),
        ("two words",),
    ]
    df = spark.createDataFrame(rows, "t: string")
    for n in (2, 3, 5):
        got = df.select(word_shingles(F.col("t"), n).alias("s")).collect()
        want = df.select(word_shingles_hof(F.col("t"), n).alias("s")).collect()
        for g, w, src in zip(got, want, rows):
            assert g["s"] == w["s"], (n, src)


def test_modes_numeric_tie_breaks_numerically(spark):
    # ties between 9 and 10: string order picks '10', numeric order picks 9
    df = spark.createDataFrame([(9.0,), (9.0,), (10.0,), (10.0,)], "x: double")
    assert modes(df, ["x"])["x"] == 9.0


def test_fill_mean_upcasts_int_columns(spark):
    df = spark.createDataFrame([(1,), (2,), (None,)], "x: int")
    out = fix_missing_values(df, "fill_mean", columns=["x"])
    assert dict(out.dtypes)["x"] == "double"
    vals = sorted(r["x"] for r in out.collect())
    assert vals == [1.0, 1.5, 2.0]


def test_type_conversion_ignore_leaves_column_unchanged(spark):
    df = spark.createDataFrame([("1",), ("oops",)], "x: string")
    out = convert_data_types(df, {"x": "int64"}, auto_detect=False, errors="ignore")
    assert dict(out.dtypes)["x"] == "string"
    assert {r["x"] for r in out.collect()} == {"1", "oops"}


def test_auto_detect_sample_elected_formats(spark):
    """Auto-detect after the round-4 rewrite: one full aggregate pass with
    sample-elected datetime formats. Pins (a) multi-format coalesce order
    within the elected list, (b) prose columns electing no format (skip
    the datetime detector entirely), (c) boolean ≥2-distinct via min≠max,
    (d) single-valued bool vocab NOT converting."""
    from dataforge_spark.operators.type_conversion import _elect_datetime_formats

    rows = [
        ("2024-01-15", "01/02/2024", "plain prose", "yes", "yes"),
        ("2024-02-20 10:30:00", "03/04/2024", "more text", "no", "yes"),
        ("not a date", "05/06/2024", "words", "yes", "yes"),
    ]
    df = spark.createDataFrame(rows, "d: string, us: string, txt: string, b: string, b1: string")

    fmts = _elect_datetime_formats(df, ["d", "us", "txt", "b", "b1"])
    assert fmts["d"] == ["yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd"]
    # MM/dd elected before dd/MM (priority order), both parse the sample
    assert fmts["us"][0] == "MM/dd/yyyy"
    assert fmts["txt"] == [] and fmts["b"] == []

    out = convert_data_types(df, auto_detect=True)
    dt = dict(out.dtypes)
    assert dt["d"] == "timestamp" and dt["us"] == "timestamp"
    assert dt["txt"] == "string"
    assert dt["b"] == "boolean"
    assert dt["b1"] == "string"  # single distinct value: not boolean
    got = {r["d"] for r in out.select("d").collect()}
    assert None in got and len(got) == 3  # "not a date" → NULL, two parses


def test_datetime_election_falls_back_when_sample_is_empty(spark):
    """A column whose sampled prefix is all-NULL (or non-digit-leading)
    must not be permanently locked out of datetime conversion: election
    falls back to the FULL format list and the >50% full-data gate still
    decides whether the cast applies."""
    from dataforge_spark.operators.type_conversion import _elect_datetime_formats

    # sample window n=5 sees only NULLs; real dates live past it
    rows = [(None,)] * 5 + [("2024-03-%02d" % d,) for d in range(1, 11)]
    df = spark.createDataFrame(rows, "d: string").coalesce(1)
    fmts = _elect_datetime_formats(df, ["d"], n=5)
    assert fmts["d"], "empty sample must elect the full fallback list"
    assert "yyyy-MM-dd" in fmts["d"]

    out = convert_data_types(df, auto_detect=True)
    # full data is 10/15 = 67% parseable > 50% gate → timestamp
    # (works because the 10k default sample window covers all 15 rows;
    # the n=5 election above pins the fallback itself)
    assert dict(out.dtypes)["d"] == "timestamp"


def test_isolation_forest_cap_noops(spark, lineitem):
    df = lineitem.select("l_quantity").limit(100)
    out = handle_outliers(df, columns=["l_quantity"], method="isolation_forest",
                          action="cap")
    assert out.count() == df.count()


def test_isolation_forest_fallback_honors_contamination(spark):
    from dataforge_spark.operators.isolation_forest import HAVE_SKLEARN, isolation_forest_mask
    if HAVE_SKLEARN:
        pytest.skip("fallback path only")
    df = spark.range(1000).select((F.col("id") + 1).cast("double").alias("x"))
    n_flagged = df.where(isolation_forest_mask(df, ["x"], contamination=0.1)).count()
    assert 60 <= n_flagged <= 140  # ~10% tail, quantile-banded


# ---------------------------------------------------------------------------
# profile helpers (T7 + DataFrame profile)
# ---------------------------------------------------------------------------


def test_profile_df_long_format(spark):
    df = spark.createDataFrame([(1, "a"), (2, None), (2, "unknown")], "i: int, s: string")
    rows = {r["col_name"]: r for r in profile_df(df).collect()}
    assert rows["s"]["n_missing"] == 2  # null + sentinel
    assert rows["i"]["n_rows"] == 3 and rows["i"]["dup_rows"] == 0


def test_memory_report(spark):
    df = spark.createDataFrame([(1, "abc"), (2, "de")], "i: int, s: string")
    rep = memory_report(df)
    assert rep["rows"] == 2
    assert rep["columns"]["i"] == 8  # 2 rows × 4 bytes
    assert rep["columns"]["s"] == 5  # exact summed lengths
    assert rep["total_bytes"] == 13


# ---------------------------------------------------------------------------
# streaming + multimodal smoke (batch-equivalent checks live in the oracle)
# ---------------------------------------------------------------------------


def test_streaming_dedup_smoke(spark, tmp_path, events):
    from dataforge_spark.streaming import dedup_stream, read_events_stream, run_to_memory

    path = str(tmp_path / "stream_in")
    dup = events.unionByName(events.limit(50))
    dup.write.mode("overwrite").parquet(path)
    stream = read_events_stream(spark, path, events.schema)
    got = run_to_memory(dedup_stream(stream, key_cols=["event_id"]))
    assert got.count() == events.count()


def test_streaming_parquet_sink_and_within_watermark(spark, tmp_path, events):
    from dataforge_spark.streaming import dedup_stream, read_events_stream, run_to_parquet

    src = str(tmp_path / "in")
    events.unionByName(events.limit(30)).coalesce(4).write.mode("overwrite").parquet(src)
    stream = read_events_stream(spark, src, events.schema)
    deduped = dedup_stream(stream, key_cols=["event_id"], within_watermark=True)
    q = run_to_parquet(deduped, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    q.awaitTermination()
    got = spark.read.parquet(str(tmp_path / "out"))
    assert got.count() == events.count()
    # checkpoint makes the run resumable/exactly-once; rerunning with the
    # same checkpoint must not duplicate output
    q2 = run_to_parquet(
        dedup_stream(read_events_stream(spark, src, events.schema),
                     key_cols=["event_id"], within_watermark=True),
        str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )
    q2.awaitTermination()
    assert spark.read.parquet(str(tmp_path / "out")).count() == events.count()


def test_sessionize_native_agrees_with_stateful(spark, tmp_path, events):
    """Built-in session_window (pure JVM) must produce the same session
    PARTITION as the custom applyInPandasWithState operator: identical
    (user, n_events, session ordinal) triples and identical session-start
    times. (session_window's `end` is start-of-gap-exclusive, the
    stateful op's is the last event time — ends are not compared.)"""
    from dataforge_spark.streaming import (
        read_events_stream, run_to_memory, sessionize_native, sessionize_stream,
    )

    path = str(tmp_path / "sess_in")
    events.coalesce(2).write.mode("overwrite").parquet(path)
    stateful = run_to_memory(
        sessionize_stream(read_events_stream(spark, path, events.schema),
                          user_col="user_id", ts_col="ts", gap_minutes=30)
    )
    native = sessionize_native(events, user_col="user_id", ts_col="ts",
                               gap_minutes=30)
    a = sorted(
        (r["user_id"], r["session_id"], r["n_events"], r["session_start"])
        for r in stateful.collect()
    )
    b = sorted(
        (r["user_id"], r["session_id"], r["n_events"], r["session_start"])
        for r in native.collect()
    )
    assert a == b


def test_sessionize_native_streaming_mode(spark, tmp_path, events):
    from dataforge_spark.streaming import (
        read_events_stream, run_aggregate_to_memory, sessionize_native,
    )

    path = str(tmp_path / "sessn_in")
    events.coalesce(2).write.mode("overwrite").parquet(path)
    stream = read_events_stream(spark, path, events.schema)
    got = run_aggregate_to_memory(
        sessionize_native(stream, watermark="2 hours")
    )
    batch = sessionize_native(events)
    assert got.count() == batch.count()
    assert got.agg({"n_events": "sum"}).collect()[0][0] == events.count()


def test_sliding_counts_batch_matches_manual_expansion(spark, events):
    """Each event belongs to exactly window/slide = 2 overlapping 1 h
    windows on the 30-min grid; the manual two-shift expansion is the
    closed form."""
    from dataforge_spark.streaming import sliding_counts

    got = sliding_counts(events, ts_col="ts", key_col="event_type",
                         window="1 hour", slide="30 minutes")
    grid = (F.floor(F.unix_timestamp("ts") / 1800) * 1800).cast("long")
    manual = (
        events.select(
            "event_type", "value",
            F.explode(F.array(grid, grid - 1800)).alias("ws"),
        )
        .groupBy(F.timestamp_seconds("ws").alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
    )
    a = sorted(
        (r["window_start"], r["event_type"], r["n_events"], round(r["sum_value"], 6))
        for r in got.collect()
    )
    b = sorted(
        (r["window_start"], r["event_type"], r["n_events"], round(r["sum_value"], 6))
        for r in manual.collect()
    )
    assert a == b
    assert len(a) > 0


def test_sliding_counts_streaming_matches_batch(spark, tmp_path, events):
    from dataforge_spark.streaming import (
        read_events_stream, run_aggregate_to_memory, sliding_counts,
    )

    path = str(tmp_path / "slide_in")
    events.coalesce(2).write.mode("overwrite").parquet(path)
    stream = read_events_stream(spark, path, events.schema)
    got = run_aggregate_to_memory(
        sliding_counts(stream, ts_col="ts", key_col="event_type",
                       window="1 hour", slide="30 minutes", watermark="2 hours")
    )
    batch = sliding_counts(events, ts_col="ts", key_col="event_type",
                           window="1 hour", slide="30 minutes")
    a = sorted(
        (r["window_start"], r["event_type"], r["n_events"], round(r["sum_value"], 6))
        for r in got.collect()
    )
    b = sorted(
        (r["window_start"], r["event_type"], r["n_events"], round(r["sum_value"], 6))
        for r in batch.collect()
    )
    assert a == b
    # every event is double-counted across the overlapping windows
    assert sum(r[2] for r in a) == 2 * events.count()


def test_multimodal_features_shape(spark, documents):
    from dataforge_spark.multimodal import attach_binary, extract_features

    docs = documents.select("doc_id", "text").limit(20)
    out = extract_features(attach_binary(docs), feature_dim=8)
    rows = out.collect()
    assert len(rows) == 20
    for r in rows:
        assert len(r["features"]) == 8
        assert abs(sum(r["features"]) - 1.0) < 1e-5
        assert r["n_bytes"] > 0


def test_multimodal_real_decode_raises(spark, documents):
    from dataforge_spark.multimodal import attach_binary, extract_features

    docs = documents.select("doc_id", "text").limit(2)
    out = extract_features(attach_binary(docs), fake_decode=False)
    with pytest.raises(Exception, match="NotImplementedError|real media decode"):
        out.collect()


def test_every_datetime_format_detected_individually(spark):
    """Each of the 8 supported formats must be elected from the sample
    and convert a clean single-format column (>50% parse gate)."""
    from datetime import datetime

    from dataforge_spark.operators.type_conversion import _PY_FORMATS

    base = datetime(2024, 3, 7, 14, 5, 9)
    for jfmt, pfmt in _PY_FORMATS.items():
        # days 13-17: unambiguous between MM/dd and dd/MM orderings (a
        # 13+ can only be a day), so first-match-wins picks the true one
        vals = [(base.replace(day=13 + i).strftime(pfmt),) for i in range(5)]
        df = spark.createDataFrame(vals, "d: string")
        out = convert_data_types(df, auto_detect=True)
        assert dict(out.dtypes)["d"] == "timestamp", f"format {jfmt} not detected"
        parsed = [r["d"] for r in out.collect()]
        assert all(v is not None for v in parsed), f"format {jfmt} nulled values"
        assert {v.day for v in parsed} == {13, 14, 15, 16, 17}, f"format {jfmt}"


def test_clean_stream_matches_batch_pipeline(spark, tmp_path, lineitem):
    """foreachBatch cleaning: a single-batch stream must produce exactly
    the batch pipeline's output (deterministic operators, per-batch fit
    == whole-input fit when there is one batch)."""
    from dataforge_spark.pipeline import CleaningPipeline
    from dataforge_spark.streaming import clean_stream, read_events_stream

    src = lineitem.select(
        "l_orderkey", "l_linenumber",
        F.when(F.col("l_orderkey") % 7 == 0, None)
        .otherwise(F.col("l_quantity")).alias("qty"),
    ).limit(2000)
    in_path = str(tmp_path / "in")
    src.coalesce(1).write.mode("overwrite").parquet(in_path)
    ops = {
        "missing_values": {"enabled": True, "strategy": "fill_mean",
                           "columns": ["qty"]},
        "outliers": {"enabled": True, "method": "iqr", "action": "cap",
                     "columns": ["qty"]},
    }
    q = clean_stream(
        read_events_stream(spark, in_path, src.schema),
        ops, str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    got = spark.read.parquet(str(tmp_path / "out"))
    want, _ = CleaningPipeline(collect_metrics=False).run(
        spark.read.parquet(in_path), ops
    )
    key = ["l_orderkey", "l_linenumber"]
    a = sorted(map(tuple, got.select(*key, "qty").collect()))
    b = sorted(map(tuple, want.select(*key, "qty").collect()))
    assert a == b
    # replay safety: restarting with the same checkpoint adds nothing
    q2 = clean_stream(
        read_events_stream(spark, in_path, src.schema),
        ops, str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )
    q2.awaitTermination()
    assert spark.read.parquet(str(tmp_path / "out")).count() == len(a)
    # retry safety (exactly-once, not at-least-once): wipe the checkpoint so
    # batch 0 RE-EXECUTES — the batch_id-partitioned overwrite sink must
    # replace its own partition, not append a second copy of every row
    import shutil

    shutil.rmtree(str(tmp_path / "ckpt"))
    q3 = clean_stream(
        read_events_stream(spark, in_path, src.schema),
        ops, str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )
    q3.awaitTermination()
    replayed = spark.read.parquet(str(tmp_path / "out"))
    assert replayed.count() == len(a)
    assert "batch_id" in replayed.columns  # lineage partition column


def test_dotted_and_spaced_csv_headers_flow_end_to_end(spark, tmp_path):
    """CSV headers routinely contain dots/spaces; plain F.col parses dots
    as struct access, which crashed upload profiling and several
    operators before round 4's qcol sweep. Full service flow must work."""
    svc = DataForgeService(spark, upload_dir=str(tmp_path / "up"))
    src = tmp_path / "dotted.csv"
    src.write_text("user.name,score pct\nalice,1.5\nbob,\nbob,\n,4.5\n")
    up = svc.upload("dotted.csv", str(src))
    assert up["dataset_info"]["shape"] == {"rows": 4, "columns": 2}
    assert up["dataset_info"]["missing_values"]["user.name"] == 1
    res = svc.clean_data(
        up["file_path"],
        '{"missing_values": {"enabled": true, "strategy": "fill_mean"},'
        ' "duplicates": {"enabled": true}}',
    )
    assert res["status"] == "success"
    mv = res["result"]["operations"]["missing_values"]
    assert mv["status"] == "success"
    assert mv["missing_after"]["score pct"] == 0


# Seven rows with a dot in every header: one NULL amount and one NULL score,
# an amount outlier (1000), two 'teh' typos, one fuzzy twin ('aple' of
# 'apple'), one rare misspelling ('notte') and MM/dd/yyyy date strings.
DOTTED_CSV = """amt.usd,cat.name,note.txt,joined.at,score.pct
10,apple,teh cat,03/04/2021,1.5
12,apple,teh dog,03/05/2021,2.5
,banana,a note,03/06/2021,3.5
11,banana,a note,03/07/2021,
1000,cherry,a notte,03/08/2021,4.5
13,aple,plain,03/09/2021,5.5
14,apple,plain,03/10/2021,6.5
"""

# (op, config, expected effect): {column: changed cells}, or
# ("rows", n) for the rows left, or ("column", name) for an added column.
DOTTED_CASES = [
    ("data_type_conversion", {"type_mapping": {"score.pct": "int"}}, {"score.pct": 6}),
    ("text_cleaning", {"columns": ["note.txt"], "operations": ["uppercase"]}, {"note.txt": 7}),
    ("datetime_parsing", {"columns": ["joined.at"]}, {"joined.at": 7}),
    # a fractional fill turns the int amounts into doubles: every cell changes
    ("missing_values", {"strategy": "fill_mean"}, {"amt.usd": 7, "score.pct": 1}),
    ("missing_values", {"strategy": "fill_median"}, {"amt.usd": 7, "score.pct": 1}),
    ("missing_values", {"strategy": "forward_fill"}, {"amt.usd": 1, "score.pct": 1}),
    ("duplicates", {"subset": ["cat.name"]}, ("rows", 4)),
    ("outliers", {"method": "iqr", "columns": ["amt.usd"]}, ("rows", 6)),
    ("outliers", {"method": "zscore", "columns": ["amt.usd"]}, ("rows", 6)),
    ("typo_fix", {"method": "common_typos", "columns": ["note.txt"]}, {"note.txt": 2}),
    ("typo_fix", {"method": "fuzzy_match", "columns": ["cat.name"]}, {"cat.name": 1}),
    ("typo_fix", {"method": "spell_check", "columns": ["note.txt"]}, {"note.txt": 1}),
    ("encoding", {"method": "label", "columns": ["cat.name"]}, {"cat.name": 7}),
    ("encoding", {"method": "onehot", "columns": ["cat.name"]}, ("column", "cat.name_aple")),
    ("encoding", {"method": "target", "columns": ["cat.name"]},
     ("column", "cat.name_freq_encoded")),
    ("normalization", {"method": "minmax", "columns": ["score.pct"]}, {"score.pct": 6}),
    ("normalization", {"method": "robust", "columns": ["score.pct"]}, {"score.pct": 6}),
]


@pytest.mark.parametrize("name,cfg,effect", DOTTED_CASES,
                         ids=["-".join([n, *filter(None, [c.get("method"), c.get("strategy")])])
                              for n, c, _ in DOTTED_CASES])
def test_every_op_handles_dotted_csv_headers(spark, tmp_path, name, cfg, effect):
    """A dot in a column name must not be read as struct access: each op,
    run through the service on dotted headers, succeeds and has its
    effect on the named columns."""
    svc = DataForgeService(spark, upload_dir=str(tmp_path / "up"))
    src = tmp_path / "dots.csv"
    src.write_text(DOTTED_CSV)
    up = svc.upload("dots.csv", str(src))
    res = svc.clean_data(up["file_path"], json.dumps({name: {"enabled": True, **cfg}}))
    op = res["result"]["operations"][name]
    assert op["status"] == "success", op
    if isinstance(effect, dict):
        assert {c: op["cells_changed"].get(c, 0) for c in effect} == effect, op
    elif effect[0] == "rows":
        assert op["rows_after"] == effect[1], op
    else:
        assert effect[1] in res["result"]["final_columns"], res["result"]


# Per op: configs naming a value outside a manifest list (a 400 before any
# Spark work), and one scalar of the wrong type (an op error).
FAULTS = {
    "data_type_conversion": ([], {"auto_detect": "yes"}),
    "text_cleaning": ([{"operations": ["lowercase", "shout"]}, {"operations": "shout"}],
                      {"custom_patterns": "x"}),
    "datetime_parsing": ([], {"date_format": 5}),
    "missing_values": ([{"strategy": "fill_avg"}], {"threshold": "abc"}),
    "duplicates": ([], {"keep": 5}),
    "outliers": ([{"method": "iqrr"}, {"action": "clip"}], {"threshold": "abc"}),
    "typo_fix": ([{"method": "spellcheck"}], {"similarity_threshold": "abc"}),
    "encoding": ([{"method": "lable"}], {"method": "onehot", "drop_first": "no"}),
    "normalization": ([{"method": "zscore"}], {"feature_range": 5}),
}
# Per op: its list parameter and a one-element value for it (text_cleaning
# gets its operations in the same form too).
ONE_NAME = {
    "text_cleaning": {"columns": "note.txt", "operations": "uppercase"},
    "datetime_parsing": {"columns": "joined.at"},
    "missing_values": {"columns": "amt.usd"},
    "duplicates": {"subset": "cat.name"},
    "outliers": {"columns": "amt.usd"},
    "typo_fix": {"columns": "note.txt"},
    "encoding": {"columns": "cat.name"},
    "normalization": {"columns": "score.pct"},
}


@pytest.mark.parametrize("name", list(FAULTS))
def test_fault_injection_matrix(spark, tmp_path, name):
    """Malformed configs through the service, one op at a time: a value
    outside a list the manifest advertises is a 400; a plain string where
    a list is expected means a one-element list (same report, same CSV);
    a scalar of the wrong type is an op error that keeps the previous
    frame. Every request that is accepted writes its output."""
    svc = DataForgeService(spark, upload_dir=str(tmp_path / "up"))
    src = tmp_path / "dots.csv"
    src.write_text(DOTTED_CSV)
    up = svc.upload("dots.csv", str(src))

    def clean(cfg):
        res = svc.clean_data(up["file_path"], json.dumps({name: {"enabled": True, **cfg}}))
        assert res["status"] == "success"
        with open(svc.download_path(os.path.basename(res["output_file"]))) as f:
            return res["result"]["operations"].get(name), f.read()

    unknown, wrong_type = FAULTS[name]
    for cfg in unknown:
        with pytest.raises(ServiceError) as e:
            clean(cfg)
        assert e.value.status_code == 400 and f"invalid {name}." in e.value.detail, cfg

    _, unchanged = clean({"enabled": False})
    op, out = clean(wrong_type)
    assert op["status"] == "error" and "must be" in op["message"], op
    assert out == unchanged

    if name in ONE_NAME:
        as_str = ONE_NAME[name]
        op_s, out_s = clean(as_str)
        op_l, out_l = clean({k: [v] for k, v in as_str.items()})
        assert op_s["status"] == "success", op_s
        assert (op_s, out_s) == (op_l, out_l)
        assert op_l["cells_changed"] or op_l["rows_after"] < op_l["rows_before"], op_l


def test_unigram_logprob_matches_closed_form(spark):
    import math

    from dataforge_spark.functions.text_analysis import unigram_logprob

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, ""), (4, None)],
        "doc_id bigint, text string",
    )
    # corpus tokens: a a b a c -> counts a=3 b=1 c=1; N=5 V=3
    # P(w) = (cnt+1)/(5+1*(3+1)) = (cnt+1)/9
    got = {r["id"]: (r["n_tokens"], r["avg_logprob"])
           for r in unigram_logprob(df).collect()}
    lp = {w: math.log((c + 1) / 9.0) for w, c in {"a": 3, "b": 1, "c": 1}.items()}
    assert got[1][0] == 3
    assert abs(got[1][1] - (2 * lp["a"] + lp["b"]) / 3) < 1e-12
    assert abs(got[2][1] - (lp["a"] + lp["c"]) / 2) < 1e-12
    assert got[3] == (0, None) and got[4] == (0, None)


def test_unigram_logprob_min_count_oov(spark):
    import math

    from dataforge_spark.functions.text_analysis import unigram_logprob

    df = spark.createDataFrame(
        [(1, "a a a rare")], "doc_id bigint, text string"
    )
    # min_count=2 drops 'rare' from the vocab: N=3, V=1,
    # P(a) = 4/(3+2) ... denom = N + alpha*(V+1) = 5; unseen = 1/5
    got = unigram_logprob(df, min_count=2).collect()[0]
    want = (3 * math.log(4 / 5.0) + math.log(1 / 5.0)) / 4
    assert abs(got["avg_logprob"] - want) < 1e-12


def test_sessionize_stream_event_time_eviction(spark, tmp_path):
    """Round 10: evict_after_minutes bounds the state KEY set via
    EventTimeTimeout. Deterministic multi-batch construction
    (maxFilesPerTrigger=1, watermark delay 0 → watermark == max event
    time seen in prior batches):

    - batch 1: users 1 and 2 at t0             → both session_id 1
    - batch 2: user 2 at t0+5h                 → u2 session_id 2;
               watermark advances to t0+5h
    - batch 3: user 3 at t0+6h                 → u1 idle past the 60-min
               horizon with NO data this batch → state EVICTED
    - batch 4: user 1 returns at t0+7h         → ordinal epoch restarts:
               session_id 1 again (without eviction it would be 2 —
               asserted by the control run)
    """
    import os as _os
    import pandas as _pd

    from dataforge_spark.streaming import run_to_memory, sessionize_stream

    t0 = _pd.Timestamp("2024-01-01 00:00:00")
    hr = _pd.Timedelta(hours=1)
    src = str(tmp_path / "evict_in")
    _os.makedirs(src)
    batches = [
        [(1, t0), (2, t0)],
        [(2, t0 + 5 * hr)],
        [(3, t0 + 6 * hr)],
        [(1, t0 + 7 * hr)],
    ]
    for i, rows in enumerate(batches):
        pdf = _pd.DataFrame(rows, columns=["user_id", "ts"])
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        # plain single files (not .parquet dirs) so the file source lists
        # them flat; modification times pin the per-batch order
        f = f"{src}/b{i}.parquet"
        pdf.to_parquet(f, index=False)
        _os.utime(f, (1_000_000 + i, 1_000_000 + i))

    def run(evict):
        stream = (
            spark.readStream.schema("user_id bigint, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        got = run_to_memory(
            sessionize_stream(
                stream, user_col="user_id", ts_col="ts", gap_minutes=30,
                evict_after_minutes=evict, watermark="0 seconds",
            )
        )
        return sorted(
            (r["user_id"], r["session_start"], r["session_id"])
            for r in got.collect()
        )

    control = run(None)
    evicted = run(60)
    # user 1's return: ordinal 2 without eviction, epoch-restarted 1 with
    assert (1, (t0 + 7 * hr).to_pydatetime(), 2) in control
    assert (1, (t0 + 7 * hr).to_pydatetime(), 1) in evicted
    # everything else identical (same sessions, same ordinals)
    diff = set(control) ^ set(evicted)
    assert diff == {(1, (t0 + 7 * hr).to_pydatetime(), 2),
                    (1, (t0 + 7 * hr).to_pydatetime(), 1)}
    with pytest.raises(ValueError, match="must be >="):
        sessionize_stream(
            spark.readStream.schema("user_id bigint, ts timestamp").parquet(src),
            gap_minutes=30, evict_after_minutes=10,
        )


def test_interval_join_stream_differential(spark, tmp_path):
    """Round 10: the watermarked stream-stream interval join must equal
    the same join run as a plain BATCH join (the operator is a no-op
    wrapper there) — pair-for-pair, on a synthetic corpus dense enough
    to guarantee in-window matches AND out-of-window non-matches."""
    import pandas as _pd

    from dataforge_spark.streaming import interval_join_stream, run_to_parquet_df

    t0 = _pd.Timestamp("2024-03-01 00:00:00")
    rows = []
    for eid in range(400):  # 10 users, one event every 7 minutes each
        rows.append((eid, eid % 10, t0 + _pd.Timedelta(minutes=7 * (eid // 10)),
                     float(eid % 13)))
    ev = spark.createDataFrame(
        _pd.DataFrame(rows, columns=["event_id", "user_id", "ts", "value"])
    )

    def legs(src):
        imp = src.where(F.col("event_id") % 4 == 0).select(
            F.col("user_id").alias("i_user"), F.col("ts").alias("i_ts"))
        clk = src.where(F.col("event_id") % 4 == 2).select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"), "value")
        return imp, clk

    path = str(tmp_path / "sj_in")
    ev.coalesce(2).write.mode("overwrite").parquet(path)
    s_imp, _ = legs(spark.readStream.schema(ev.schema).parquet(path))
    _, s_clk = legs(spark.readStream.schema(ev.schema).parquet(path))
    streamed = run_to_parquet_df(interval_join_stream(
        s_imp, s_clk, "i_user", "c_user", "i_ts", "c_ts",
        upper="30 minutes", watermark="2 hours"))
    b_imp, b_clk = legs(ev)
    batch = interval_join_stream(
        b_imp, b_clk, "i_user", "c_user", "i_ts", "c_ts", upper="30 minutes")
    key = lambda r: (r["i_user"], r["i_ts"], r["c_ts"], r["value"])  # noqa: E731
    got = sorted(map(key, streamed.collect()))
    exp = sorted(map(key, batch.collect()))
    assert got == exp and len(exp) > 0
    # the interval bound really binds: the unwindowed join is bigger
    assert len(exp) < b_imp.join(
        b_clk, F.col("i_user") == F.col("c_user")).count()

    with pytest.raises(ValueError, match="distinct column names"):
        interval_join_stream(b_imp, b_imp, "i_user", "i_user",
                             "i_ts", "i_ts", upper="1 hour")


def test_suggest_state_partitions(spark):
    """Round 11 (VERDICT r10 task 4): state-partition sizing is linear
    in plan bytes with a floor, and unknown sizes leave the session
    default untouched."""
    from dataforge_spark.streaming import suggest_state_partitions

    # floor at small volume (the gate regime, where fewer partitions win)
    assert suggest_state_partitions(spark, 0) == 4
    assert suggest_state_partitions(spark, 2 << 20) == 4
    # linear growth past the floor: 23 MB / 4 MB -> 6 (the sf1 point)
    assert suggest_state_partitions(spark, 23 << 20) == 6
    # at cluster scale the count tracks state volume
    assert suggest_state_partitions(spark, 40 << 30) == 10240
    # None = unknown -> echo the current session setting
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert suggest_state_partitions(spark, None) == cur
