"""Pipeline report parity: per-op changed-cell counts and `updates` lines
(reference report shape, /root/reference/methods/textCleaning.py:76,147-148
and methods/duplicate.py:50-59), opt-in under collect_metrics."""

import pytest
from pyspark.sql import functions as F

from dataforge_spark.io import ROW_ID
from dataforge_spark.pipeline import CleaningPipeline, cells_changed


def _golden(spark):
    rows = [
        (0, "  Hello World  ", 1.0),
        (1, "teh cat", 2.0),
        (2, "clean", None),
        (3, "clean", 4.0),
        (4, "clean", 4.0),
    ]
    return spark.createDataFrame(rows, f"{ROW_ID} long, txt string, x double")


def test_cells_changed_counts_and_updates(spark):
    df = _golden(spark)
    pipe = CleaningPipeline(collect_metrics=True)
    out, report = pipe.run(
        df,
        {
            "text_cleaning": {
                "enabled": True,
                "columns": ["txt"],
                "operations": ["lowercase", "remove_extra_spaces"],
            },
            "missing_values": {
                "enabled": True,
                "strategy": "fill_mean",
                "columns": ["x"],
            },
        },
    )
    tc = report["operations"]["text_cleaning"]
    # rows 0 ("  Hello World  ") and 1 (unchanged by lowercase? no: already
    # lower) — row 0 changes (case + spaces); rows with 'teh cat'/'clean'
    # are already lowercase and space-clean.
    assert tc["cells_changed"] == {"txt": 1}
    assert tc["updates"] == ["Column 'txt': Made 1 changes"]
    mv = report["operations"]["missing_values"]
    assert mv["cells_changed"] == {"x": 1}  # the NULL fill
    assert mv["rows_before"] == 5 and mv["rows_after"] == 5
    assert out.count() == 5


def test_duplicate_count_reported(spark):
    df = _golden(spark).drop("txt")
    pipe = CleaningPipeline(collect_metrics=True)
    _, report = pipe.run(
        df, {"duplicates": {"enabled": True, "subset": ["x"]}}
    )
    dup = report["operations"]["duplicates"]
    # x values: 1.0, 2.0, NULL, 4.0, 4.0 → one duplicate row dropped
    assert dup["duplicate_count"] == 1
    assert dup["rows_before"] == 5 and dup["rows_after"] == 4
    # surviving rows are unmodified
    assert dup["cells_changed"] == {}


def test_cells_changed_without_row_id_is_empty(spark):
    a = spark.createDataFrame([(1,)], "v long")
    b = a.withColumn("v", F.col("v") + 1)
    assert cells_changed(a, b) == {}


def test_metrics_off_adds_no_jobs_keys(spark):
    df = _golden(spark)
    _, report = CleaningPipeline().run(
        df, {"duplicates": {"enabled": True}}
    )
    assert "cells_changed" not in report["operations"]["duplicates"]


def test_auto_persist_policy_counts_downstream_stat_ops():
    """_runs_stat_jobs classifies which ops re-scan their input with
    driver-side statistics jobs — the auto-persist policy's input."""
    from dataforge_spark.pipeline import CleaningPipeline

    f = CleaningPipeline._runs_stat_jobs
    assert not f("text_cleaning", {})
    assert not f("duplicates", {})
    assert not f("missing_values", {"strategy": "drop_rows"})
    assert f("missing_values", {"strategy": "fill_median"})
    assert f("missing_values", {})  # default fill_mean
    assert not f("typo_fix", {})  # default common_typos is a regexp chain
    assert f("typo_fix", {"method": "fuzzy_match"})
    assert f("data_type_conversion", {})  # auto_detect default True
    assert not f("data_type_conversion", {"auto_detect": False})
    assert f("data_type_conversion", {"auto_detect": False, "errors": "raise"})
    assert f("datetime_parsing", {})  # auto_detect default True
    assert not f("datetime_parsing", {"auto_detect": False})
    assert f("datetime_parsing", {"auto_detect": False, "errors": "raise"})
    assert f("datetime_parsing", {"auto_detect": False, "errors": "ignore"})
    assert not f("datetime_parsing", {"auto_detect": False, "errors": "coerce"})
    assert f("outliers", {}) and f("normalization", {}) and f("encoding", {})


def test_run_logging_writes_per_op_lines(spark, tmp_path):
    """Reference parity (/root/reference/pipeline.py:38-45): with the
    opt-in handler attached, a pipeline run appends op-start / op-result
    lines to a persistent log file; an op failure logs an error line."""
    from pyspark.sql import functions as F

    from dataforge_spark.pipeline import (
        CleaningPipeline,
        disable_run_logging,
        enable_run_logging,
    )

    log = tmp_path / "pipeline_log.txt"
    h = enable_run_logging(str(log))
    try:
        df = spark.createDataFrame(
            [(1, 4.0), (2, None), (2, None)], "k int, v double"
        )
        CleaningPipeline().run(
            df,
            {
                "missing_values": {"enabled": True, "strategy": "fill_mean"},
                "duplicates": {"enabled": True},
            },
        )[0].count()
        # error isolation still logs: unknown strategy inside an op body
        out, rep = CleaningPipeline().run(
            df, {"outliers": {"enabled": True, "method": "iqr",
                              "action": "cap", "columns": ["missing_col"]}},
        )
    finally:
        disable_run_logging(h)
    text = log.read_text()
    assert "Starting pipeline run" in text
    assert "Running missing_values operation..." in text
    assert "missing_values operation completed successfully" in text
    assert "Running duplicates operation..." in text
    assert "Pipeline completed in" in text
    # handler detached: a further run must not append
    size = log.stat().st_size
    CleaningPipeline().run(df, {"duplicates": {"enabled": True}})
    assert log.stat().st_size == size


# -- one metrics action per op ------------------------------------------------


def _bench_frame(spark, tmp_path):
    """A 200-row input of the service benchmark: typed numbers, sentinel
    words, blanks, duplicate rows, typos, HTML/URL/e-mail notes."""
    from perfbench import gen

    from dataforge_spark import io as dfio

    data, _ = gen.service_csv(7, 200)
    path = tmp_path / "bench_in.csv"
    path.write_bytes(data)
    return dfio.read_csv(spark, str(path))


def _bench_configs():
    from perfbench.workloads import FULL, QUICK, TEXT

    return {
        "full": FULL,
        "quick": QUICK,
        "text": TEXT,
        "drop_rows": {"missing_values": {"enabled": True, "strategy": "drop_rows"}},
        "onehot": {"encoding": {"enabled": True, "method": "onehot",
                                "columns": ["category"]}},
    }


def _cells_changed_separately(before, after):
    """The changed-cell count as its own inner-join aggregate — the shape
    the report used before op_metrics fused it with the counts."""
    from dataforge_spark.io import qcol

    shared = [c for c in before.columns if c in after.columns and c != ROW_ID]
    b = before.select(ROW_ID, *[qcol(c).cast("string").alias(f"__b_{i}")
                                for i, c in enumerate(shared)])
    a = after.select(ROW_ID, *[qcol(c).cast("string").alias(f"__a_{i}")
                               for i, c in enumerate(shared)])
    row = a.join(b, ROW_ID).agg(*[
        F.sum((~F.col(f"__a_{i}").eqNullSafe(F.col(f"__b_{i}"))).cast("long"))
        .alias(f"c{i}") for i in range(len(shared))
    ]).collect()[0]
    return {c: int(row[f"c{i}"] or 0) for i, c in enumerate(shared)}


def test_op_metrics_matches_separate_actions(spark, tmp_path):
    """op_metrics' one action reports what count(), the changed-cell join
    and profile.missing_counts report separately, op by op, over the
    benchmark configs plus a row-dropping and a column-adding op."""
    from dataforge_spark.pipeline import CANONICAL_ORDER, op_metrics
    from dataforge_spark.profile import missing_counts

    src = _bench_frame(spark, tmp_path)
    pipe = CleaningPipeline()
    for label, ops in _bench_configs().items():
        current = src
        for name in CANONICAL_ORDER:
            if not ops.get(name, {}).get("enabled"):
                continue
            nxt = pipe._apply_one(current, name, ops[name])
            got = op_metrics(current, nxt, missing=True)
            want = {
                "rows_before": current.count(),
                "rows_after": nxt.count(),
                "cells_changed": _cells_changed_separately(current, nxt),
                "missing_before": missing_counts(current),
                "missing_after": missing_counts(nxt),
            }
            assert got == want, (label, name)
            assert cells_changed(current, nxt) == want["cells_changed"]
            current = nxt
    dropped = op_metrics(src, src.dropna())
    assert dropped["rows_after"] == src.dropna().count() < src.count()
    assert dropped["rows_before"] == src.count()


def _run_jobs(spark, df, ops, metrics):
    import uuid

    sc = spark.sparkContext
    group = f"pipeline_run_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        pipe = CleaningPipeline(collect_metrics=metrics)
        pipe.run(df, ops)
        pipe.release()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_metrics_cost_at_most_four_jobs_per_op(spark, tmp_path):
    """The metrics report costs one action per enabled op: at most 4 more
    jobs per op than the same run with metrics off (a separate count
    before, count after and changed-cell join cost about 8.7)."""
    df = _bench_frame(spark, tmp_path)
    for label in ("full", "quick", "text"):
        ops = _bench_configs()[label]
        _run_jobs(spark, df, ops, True)  # first-run planning noise out
        off = _run_jobs(spark, df, ops, False)
        on = _run_jobs(spark, df, ops, True)
        assert on - off <= 4 * len(ops), (label, on, off)


def test_release_unpersists_what_run_pinned(spark):
    sc = spark.sparkContext._jsc.sc()
    start = sc.getPersistentRDDs().size()
    pipe = CleaningPipeline(collect_metrics=True)
    out, report = pipe.run(
        _golden(spark),
        {"missing_values": {"enabled": True, "strategy": "fill_mean"},
         "duplicates": {"enabled": True}},
    )
    assert out.count() == 4  # rows 3 and 4 are duplicates
    assert sc.getPersistentRDDs().size() == start + 1  # the final boundary
    pipe.release()
    assert sc.getPersistentRDDs().size() == start
    assert out.count() == 4  # still usable, recomputed


def test_metrics_action_failure_is_an_op_error(spark, monkeypatch):
    """A plan that fails only when executed fails the op's metrics action:
    the op reports error, the previous frame is kept and nothing stays
    pinned for it. (The op checks date patterns when it builds the plan;
    that check is switched off here so the bad pattern reaches the
    metrics action.)"""
    from dataforge_spark.operators import datetime_parsing

    monkeypatch.setattr(datetime_parsing, "_check_pattern", lambda df, pattern: None)
    sc = spark.sparkContext._jsc.sc()
    start = sc.getPersistentRDDs().size()
    df = spark.createDataFrame([(0, "2020-01-01"), (1, "x")], f"{ROW_ID} long, d string")
    pipe = CleaningPipeline(collect_metrics=True)
    out, report = pipe.run(
        df,
        {"datetime_parsing": {"enabled": True, "columns": ["d"],
                              "auto_detect": False, "date_format": "yyyy-MM-dd GGGGG"}},
    )
    assert report["operations"]["datetime_parsing"]["status"] == "error"
    assert out.columns == df.columns and out.count() == 2
    assert sc.getPersistentRDDs().size() == start
    pipe.release()


def test_fill_leaves_null_free_int_columns_alone(spark, tmp_path):
    """fill_mean / fill_median on the service CSV: the unique int ``id``
    has no missing cell, so it stays an int column and the report counts
    no change in it (pandas keeps such a column int64). A column that
    holds NULL is still filled."""
    df = _bench_frame(spark, tmp_path)
    assert dict(df.dtypes)["id"] in ("int", "bigint")
    for strategy in ("fill_mean", "fill_median"):
        pipe = CleaningPipeline(collect_metrics=True)
        out, report = pipe.run(
            df, {"missing_values": {"enabled": True, "strategy": strategy}}
        )
        op = report["operations"]["missing_values"]
        assert op["status"] == "success", op
        assert dict(out.dtypes)["id"] == dict(df.dtypes)["id"], strategy
        assert "id" not in op["cells_changed"], (strategy, op["cells_changed"])
        filled = [c for c, n in op["missing_before"].items() if n and dict(df.dtypes)[c] != "string"]
        assert filled and all(op["missing_after"][c] == 0 for c in filled)
        pipe.release()


@pytest.mark.parametrize(
    "pattern", ["YYYY-MM-dd", "yyyy-MM-dd E", "yyyy-MM-dd GGGGG"]
)
def test_malformed_spark_date_format_is_an_op_error(spark, pattern):
    """Spark rejects these patterns only when the plan runs. With metrics
    off and auto_detect off nothing runs inside the op, so the op used to
    report success and the write then raised SparkUpgradeException. The
    pattern is now checked when the plan is built."""
    df = spark.createDataFrame([(0, "2021-03-04"), (1, "x")], f"{ROW_ID} long, d string")
    out, report = CleaningPipeline().run(
        df,
        {"datetime_parsing": {"enabled": True, "columns": ["d"],
                              "auto_detect": False, "date_format": pattern}},
    )
    op = report["operations"]["datetime_parsing"]
    assert op["status"] == "error" and pattern in op["message"], op
    assert sorted(map(tuple, out.collect())) == [(0, "2021-03-04"), (1, "x")]


def test_date_format_check_starts_no_job(spark):
    import uuid

    from dataforge_spark.operators.datetime_parsing import _check_pattern

    df = spark.createDataFrame([("2021-03-04",)], "d string")
    sc = spark.sparkContext
    group = f"pattern_check_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        _check_pattern(df, "yyyy-MM-dd'T'HH:mm:ss")
        with pytest.raises(ValueError, match="YYYY"):
            _check_pattern(df, "YYYY-MM-dd")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_strftime_date_format_parses(spark):
    """The reference passes date_format to pandas, so users type strftime
    patterns. Metrics off and auto_detect off, '%Y-%m-%d' used to report
    success and then fail the write; it now parses."""
    import datetime as dt

    df = spark.createDataFrame(
        [(0, "2021-03-04"), (1, "1999-12-31"), (2, None)], f"{ROW_ID} long, d string"
    )
    out, report = CleaningPipeline().run(
        df,
        {"datetime_parsing": {"enabled": True, "columns": ["d"],
                              "auto_detect": False, "date_format": "%Y-%m-%d"}},
    )
    assert report["operations"]["datetime_parsing"]["status"] == "success"
    got = [r["d"] for r in out.orderBy(ROW_ID).collect()]
    assert got == [dt.datetime(2021, 3, 4), dt.datetime(1999, 12, 31), None]

    _, report = CleaningPipeline().run(
        df,
        {"datetime_parsing": {"enabled": True, "columns": ["d"],
                              "auto_detect": False, "date_format": "%Y-%m-%d %a"}},
    )
    op = report["operations"]["datetime_parsing"]
    assert op["status"] == "error" and "%a" in op["message"]


def test_strftime_to_spark_patterns():
    import pytest

    from dataforge_spark.operators.type_conversion import _strftime_to_spark

    assert _strftime_to_spark("%Y-%m-%d") == "yyyy-MM-dd"
    assert _strftime_to_spark("%d/%m/%y %H:%M:%S.%f") == "dd/MM/yy HH:mm:ss.SSSSSS"
    assert _strftime_to_spark("%Y-%m-%dT%H:%M") == "yyyy-MM-dd'T'HH:mm"
    assert _strftime_to_spark("%I %p, %b %d at o'clock 100%%") == (
        "hh a, MMM dd' at o''clock 100%'"
    )
    assert _strftime_to_spark("dd/MM/yyyy") == "dd/MM/yyyy"  # already Spark's
    for bad in ("%Y-%q", "%Y%", "%A %d"):
        with pytest.raises(ValueError):
            _strftime_to_spark(bad)


def test_datetime_parsing_errors_reaches_the_operator(spark):
    """pipeline_info advertises datetime_parsing.errors; 'raise' on an
    unparseable value must fail the op, 'ignore' must leave it as is."""
    df = spark.createDataFrame(
        [(0, "2021-03-04"), (1, "2021-03-05"), (2, "soon")], f"{ROW_ID} long, d string"
    )
    for errors, status, kind in (("raise", "error", "string"), ("ignore", "success", "string"),
                                 ("coerce", "success", "timestamp")):
        out, report = CleaningPipeline().run(
            df, {"datetime_parsing": {"enabled": True, "columns": ["d"], "errors": errors}},
        )
        assert report["operations"]["datetime_parsing"]["status"] == status, errors
        assert dict(out.dtypes)["d"] == kind, errors
