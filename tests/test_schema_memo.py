"""Remembered parquet schemas: dashboard plans build without Spark jobs,
and a remembered schema never outlives a change to the files or to the
conf that shaped it."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_DIR, jobs_of

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.queries import registry
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources.tables import (
    NANOS_AS_LONG,
    load_table,
    read_parquet,
)

DASHBOARD_VISUALS = (
    "q01_pricing_summary", "q09_topn_parts", "q16_count_distinct", "q23_star_weekday",
    "q24_star_month", "q25_topn_vendors", "q26_rollup_geo", "q27_kpi_totals",
    "q28_season", "q53_running_total", "q80_local_supplier_volume",
)


def test_dashboard_plan_builds_run_no_jobs(spark):
    reg = registry()
    for name in DASHBOARD_VISUALS:  # warm-up: first reads infer their schemas
        reg[name].fn(spark, SF_DIR)
    jobs = {}
    for name in DASHBOARD_VISUALS:
        _, jobs[name] = jobs_of(spark, f"plan-build-{name}", lambda: reg[name].fn(spark, SF_DIR))
    assert {n: j for n, j in jobs.items() if j} == {}


def _same_as_uncached(spark, path):
    got = read_parquet(spark, path)
    want = spark.read.parquet(path)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
    return got


def test_rewritten_file_with_added_column(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": [1, 2, 3]}), path)
    _same_as_uncached(spark, path)
    _same_as_uncached(spark, path)  # remembered
    pq.write_table(pa.table({"k": [4, 5], "v": ["a", "b"]}), path)
    assert _same_as_uncached(spark, path).columns == ["k", "v"]


def test_partitioned_directory_gains_and_loses_files(spark, tmp_path):
    path = str(tmp_path / "fact")
    for p in (1, 2):
        os.makedirs(f"{path}/p={p}")
        pq.write_table(pa.table({"k": [p * 10, p * 10 + 1]}), f"{path}/p={p}/part-0.parquet")
    _same_as_uncached(spark, path)
    _same_as_uncached(spark, path)

    pq.write_table(pa.table({"k": [12]}), f"{path}/p=1/part-1.parquet")
    assert _same_as_uncached(spark, path).count() == 5

    # a non-integer partition value turns the partition column into a string
    os.makedirs(f"{path}/p=x")
    pq.write_table(pa.table({"k": [99]}), f"{path}/p=x/part-0.parquet")
    assert dict(_same_as_uncached(spark, path).dtypes)["p"] == "string"

    os.remove(f"{path}/p=x/part-0.parquet")
    assert dict(_same_as_uncached(spark, path).dtypes)["p"] == "int"
    os.remove(f"{path}/p=1/part-1.parquet")
    assert _same_as_uncached(spark, path).count() == 4


def test_events_with_nanosecond_timestamps(spark, tmp_path):
    path = str(tmp_path / "events.parquet")
    ts = pa.array([1_700_000_000_123_456_789, 1_700_000_001_987_654_321], pa.timestamp("ns"))
    pq.write_table(pa.table({"user_id": pa.array([1, 2], pa.int64()), "ts": ts}), path)
    before = spark.conf.get(NANOS_AS_LONG, "false")
    try:
        load_table(spark, str(tmp_path), "events")  # sets nanosAsLong; infers ts as bigint
        got = _same_as_uncached(spark, path)
        assert dict(got.dtypes)["ts"] == "bigint"
        assert dict(load_table(spark, str(tmp_path), "events").dtypes)["ts"] == "timestamp_ntz"

        # without the conf Spark cannot read TIMESTAMP(NANOS): the
        # remembered bigint schema must not hide that
        spark.conf.set(NANOS_AS_LONG, "false")
        for read in (spark.read.parquet, lambda p: read_parquet(spark, p)):
            with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
                read(path)
    finally:
        spark.conf.set(NANOS_AS_LONG, before)
