"""operators.outliers.detect_outliers, the report-only detector: for the
closed-form methods it lists, per column, exactly the values that
``handle_outliers(..., action="remove")`` drops from that column, and
nothing for a column without outliers."""

from collections import Counter

import pytest

from dataforge_spark.operators.outliers import detect_outliers, handle_outliers


@pytest.fixture(scope="module")
def planted(spark):
    # a: 0..99 plus two planted outliers; b: 0..99 with a NULL, no
    # outlier under either method at these thresholds
    rows = [(i, float(i), None if i == 7 else float(i)) for i in range(100)]
    rows += [(100, 1000.0, 50.0), (101, -500.0, 51.0)]
    return spark.createDataFrame(rows, "id long, a double, b double")


@pytest.mark.parametrize("method, threshold", [("iqr", 1.5), ("zscore", 3.0)])
def test_detect_lists_what_remove_drops(planted, method, threshold):
    listed: dict[str, Counter] = {}
    for r in detect_outliers(planted, columns=["a", "b"], method=method,
                             threshold=threshold).collect():
        listed.setdefault(r["col_name"], Counter())[r["value"]] += 1

    assert listed == {"a": Counter({1000.0: 1, -500.0: 1})}
    for col in ("a", "b"):
        kept = {r["id"] for r in handle_outliers(
            planted, columns=[col], method=method, action="remove",
            threshold=threshold).select("id").collect()}
        dropped = Counter(r[col] for r in planted.collect()
                          if r["id"] not in kept)
        assert listed.get(col, Counter()) == dropped, col
