"""Unit coverage for sources.tables.normalize_events_ts: every on-disk
ts encoding the driver has shipped (or could ship back) must map to the
same canonical TIMESTAMP_NTZ wall-clock. The schema-fingerprint test
promises these branches exist; this test proves they work, including
the legacy bigint-nanos branch the current testdata no longer
exercises."""

import datetime

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources.tables import (
    normalize_events_ts,
)

WANT = datetime.datetime(2020, 9, 13, 12, 26, 40, 123456)


def _ts_type(df):
    return dict(df.dtypes)["ts"]


def test_bigint_nanos_branch(spark):
    # 1600000000123456789 ns → micros via integer DIV (not float division)
    df = spark.createDataFrame([(1600000000123456789,)], "ts long")
    out = normalize_events_ts(df)
    assert _ts_type(out) == "timestamp_ntz"
    assert out.first()["ts"] == WANT


def test_ltz_branch(spark):
    df = spark.createDataFrame([(WANT,)], "ts timestamp")
    out = normalize_events_ts(df)
    assert _ts_type(out) == "timestamp_ntz"
    # session tz is pinned UTC, so the LTZ→NTZ cast is wall-clock-exact
    assert out.first()["ts"] == WANT


def test_ntz_passthrough(spark):
    df = spark.createDataFrame([(WANT,)], "ts timestamp_ntz")
    out = normalize_events_ts(df)
    assert _ts_type(out) == "timestamp_ntz"
    assert out.first()["ts"] == WANT


def test_all_branches_agree(spark):
    nanos = spark.createDataFrame([(1600000000123456789,)], "ts long")
    ltz = spark.createDataFrame([(WANT,)], "ts timestamp")
    ntz = spark.createDataFrame([(WANT,)], "ts timestamp_ntz")
    vals = {normalize_events_ts(df).first()["ts"] for df in (nanos, ltz, ntz)}
    assert vals == {WANT}


def test_other_columns_untouched(spark):
    df = spark.createDataFrame([(1600000000123456789, 7)], "ts long, user_id long")
    out = normalize_events_ts(df)
    assert out.first()["user_id"] == 7
    assert dict(out.dtypes)["user_id"] == "bigint"
