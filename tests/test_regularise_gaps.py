from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from tern_ep_data_pipeline_spark.operators import gaps, regularise


def _grid_df(spark, minutes=30, n=10, skip=()):
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (base + datetime.timedelta(minutes=minutes * i), float(i))
        for i in range(n)
        if i not in skip
    ]
    return spark.createDataFrame(rows, ["DATETIME", "v"])


def test_interval_inference_min_equals_mode(spark):
    df = _grid_df(spark, minutes=30, n=20, skip=(5, 6))
    out = regularise.infer_interval_seconds(df, "DATETIME").collect()[0]
    assert out["min_delta_s"] == 1800
    assert out["mode_delta_s"] == 1800


def test_regularise_inserts_null_rows(spark):
    df = _grid_df(spark, minutes=30, n=10, skip=(3, 4))
    out = regularise.regularise_to_grid(df, "DATETIME", "30 minutes")
    assert out.count() == 10  # grid restores the full span
    assert out.filter(F.col("v").isNull()).count() == 2


def test_missing_record_stats_count_identity(spark):
    # A2 invariant: n_expected == n_actual + n_missing
    df = _grid_df(spark, minutes=30, n=48, skip=(7, 8, 9))
    out = gaps.missing_record_stats(df, "DATETIME", 1800).collect()[0]
    assert out["n_expected"] == 48
    assert out["n_missing"] == 3
    assert out["n_actual"] + out["n_missing"] == out["n_expected"]


def test_gap_report_bounds(spark):
    df = _grid_df(spark, minutes=30, n=10, skip=(4, 5))
    out = gaps.gap_report(df, "DATETIME", 1800).collect()
    assert len(out) == 1
    g = out[0]
    assert g["gap_seconds"] == 3 * 1800
    assert g["gap_start"] < g["gap_end"]


def test_gap_histogram(spark):
    df = _grid_df(spark, minutes=30, n=20, skip=(3, 10, 11))
    hist = {r["n_intervals"]: r["n_gaps"] for r in gaps.gap_histogram(df, "DATETIME", 1800).collect()}
    assert hist == {2: 1, 3: 1}


def test_quoted_column_names_match_plain_names(spark):
    """Caller column names reach the operators' SQL strings quoted: a
    TOA5 array column ``Ts(1)`` and a spaced ``ts local`` give the rows
    the same calls give on plain names."""
    import pytest

    from tern_ep_data_pipeline_spark.operators import status, windows

    plain = _grid_df(spark, minutes=10, n=12).withColumnRenamed("DATETIME", "ts")
    quoted = plain.withColumnRenamed("ts", "ts local").withColumnRenamed("v", "Ts(1)")

    def run(df, ts, v):
        valid = F.col(v) > 2
        frames = (
            status.last_valid_stats(df, ts, v, valid),
            df.select(F.col(v), windows.tumbling_bucket(ts, 30).alias("b")),
            windows.trailing_validity_fraction(df, ts, valid, window_seconds=3600),
        )
        return [sorted(map(tuple, f.collect())) for f in frames]

    assert run(quoted, "ts local", "Ts(1)") == run(plain, "ts", "v")
    with pytest.raises(ValueError, match="divide the hour"):
        windows.tumbling_bucket("ts", 7)
