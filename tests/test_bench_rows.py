"""bench.time_rows: the one row loop the sf0.1 headline and the sf1
block share. Calibrations are scripted, the rows are trivial
``spark.range`` queries, so these tests pin the attempt logic only:
steady edge calibrations give one attempt; an off-steady attempt gives
exactly one re-run, and the attempt with the lower calibration maximum
is kept."""

import time

import pytest

import bench


def _queries(delay_in_attempt_one: float):
    """Two trivial rows; row ``a`` sleeps while it is built in the first
    attempt, so its recorded time tells which attempt was kept."""
    built = {"a": 0}

    def a(spark, _sf_dir):
        built["a"] += 1
        if built["a"] == 1:
            time.sleep(delay_in_attempt_one)
        return spark.range(10)

    return {"a": a, "b": lambda spark, _sf_dir: spark.range(5)}, built


def _script_calibrations(monkeypatch, values):
    seq = iter(values)
    calls = []

    def fake(_spark):
        calls.append(1)
        return next(seq)

    monkeypatch.setattr(bench, "_calibration_sec", fake)
    return calls


def _time(spark, qs):
    return bench.time_rows(spark, qs, "unused", runs=1, names=["a", "b"])


LOW = round(bench.SPARK_CAL_STEADY * 0.5, 3)
HIGH = round(bench.SPARK_CAL_STEADY * 2, 3)
HIGHER = round(bench.SPARK_CAL_STEADY * 3, 3)


def test_steady_calibrations_give_one_attempt(spark, monkeypatch):
    calls = _script_calibrations(monkeypatch, [LOW, LOW])
    qs, built = _queries(0.0)
    got = _time(spark, qs)
    assert got["attempts"] == 1
    assert got["calibration_sec"] == [LOW, LOW]
    assert set(got["sec"]) == {"a", "b"}
    assert got["wall_sec"] >= 0
    assert len(calls) == 2 and built["a"] == 1


@pytest.mark.parametrize(
    "cals, kept_first",
    [
        # first attempt off steady, re-run quiet: the re-run is kept
        ([HIGH, LOW, LOW, LOW], False),
        # both off steady, the re-run noisier: the first attempt is kept
        ([LOW, HIGH, HIGHER, LOW], True),
    ],
)
def test_off_steady_attempt_reruns_once_and_keeps_the_quieter(
    spark, monkeypatch, cals, kept_first
):
    calls = _script_calibrations(monkeypatch, cals)
    qs, built = _queries(0.3)
    got = _time(spark, qs)
    assert got["attempts"] == 2
    assert len(calls) == 4 and built["a"] == 2
    assert got["calibration_sec"] == (cals[:2] if kept_first else cals[2:])
    assert (got["sec"]["a"] >= 0.3) is kept_first
