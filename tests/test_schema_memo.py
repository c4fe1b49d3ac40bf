"""Remembered parquet schemas: dashboard plans build without Spark jobs,
and a remembered schema never outlives a change to the files or to the
conf that shaped it."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_DIR, jobs_of

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.memo import clear_plan_memo
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.queries import registry
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.session import gateway_calls
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
    clear_plan_memo()  # the builds below are fresh: the schema memo, not the plan memo, spares their jobs
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


def _first_read_jobs(spark, path, group):
    """(the read's DataFrame, jobs its first ``read_parquet`` ran)."""
    return jobs_of(spark, group, lambda: read_parquet(spark, path))


def test_new_file_with_a_known_footer_plans_without_a_job(spark, tmp_path):
    """A single file under a new path whose footer matches a file read
    before (a daily staged file) takes that file's schema: no job."""
    schema = pa.schema([("k", pa.int64()), ("price", pa.decimal128(12, 2)), ("name", pa.string())])
    first, second = str(tmp_path / "day_1.parquet"), str(tmp_path / "day_2.parquet")
    pq.write_table(pa.table({"k": [1], "price": [None], "name": ["a"]}, schema=schema), first)
    read_parquet(spark, first)
    pq.write_table(pa.table({"k": [2, 3], "price": [None, None], "name": ["b", None]}, schema=schema), second)
    df, jobs = _first_read_jobs(spark, second, "footer-known")
    assert jobs == []
    assert df.schema == spark.read.parquet(second).schema
    assert sorted(df.collect()) == sorted(spark.read.parquet(second).collect())


def test_new_file_with_a_known_footer_gateway_calls_are_bounded(spark, tmp_path):
    """That read makes 26 py4j round trips: each JVM class the footer
    read uses is looked up once per gateway. Walking to each class one
    package at a time made it 42."""
    schema = pa.schema([("k", pa.int64()), ("name", pa.string())])
    first, second = str(tmp_path / "day_1.parquet"), str(tmp_path / "day_2.parquet")
    pq.write_table(pa.table({"k": [1], "name": ["a"]}, schema=schema), first)
    read_parquet(spark, first)
    pq.write_table(pa.table({"k": [2], "name": ["b"]}, schema=schema), second)
    with gateway_calls(spark) as calls:
        read_parquet(spark, second)
    assert calls[0] <= 26


def test_same_names_with_a_changed_type_miss_the_footer_memo(spark, tmp_path):
    """The parquet schema text is part of the footer key: a wider
    decimal under the same column names is inferred, not remembered."""
    narrow, wide = str(tmp_path / "narrow.parquet"), str(tmp_path / "wide.parquet")
    pq.write_table(pa.table({"k": [1], "price": pa.array([None], pa.decimal128(12, 2))}), narrow)
    read_parquet(spark, narrow)
    pq.write_table(pa.table({"k": [1], "price": pa.array([None], pa.decimal128(15, 2))}), wide)
    df, jobs = _first_read_jobs(spark, wide, "footer-wider-decimal")
    assert jobs
    assert dict(df.dtypes)["price"] == "decimal(15,2)"
    assert df.schema == spark.read.parquet(wide).schema


def test_spark_row_metadata_is_part_of_the_footer_key(spark, tmp_path):
    """Two Spark-written files with the same parquet schema whose Spark
    schemas differ (a column comment) do not share an entry: inference
    reads the Spark schema from the footer when it is there."""
    paths = []
    for comment in ("gross", "net"):
        out = str(tmp_path / comment)
        spark.range(2).withMetadata("id", {"comment": comment}).coalesce(1).write.parquet(out)
        (part,) = [n for n in os.listdir(out) if n.endswith(".parquet")]
        paths.append(os.path.join(out, part))
    read_parquet(spark, paths[0])
    df, _ = _first_read_jobs(spark, paths[1], "footer-row-metadata")
    assert df.schema == spark.read.parquet(paths[1]).schema
    assert df.schema["id"].metadata == {"comment": "net"}


def test_nanosecond_file_under_each_conf_has_its_own_entry(spark, tmp_path):
    """The nanosAsLong conf is part of the footer key: a TIMESTAMP(NANOS)
    file whose footer is known under the conf still raises without it."""
    ts = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
    known, new = str(tmp_path / "known.parquet"), str(tmp_path / "new.parquet")
    for p in (known, new):
        pq.write_table(pa.table({"ts": ts}), p)
    before = spark.conf.get(NANOS_AS_LONG, "false")
    try:
        spark.conf.set(NANOS_AS_LONG, "true")
        assert dict(read_parquet(spark, known).dtypes)["ts"] == "bigint"
        spark.conf.set(NANOS_AS_LONG, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            read_parquet(spark, new)
    finally:
        spark.conf.set(NANOS_AS_LONG, before)


def test_directory_of_a_known_footer_keeps_the_path_memo(spark, tmp_path):
    """A directory is inferred on its first read, whatever its files'
    footers (its partition columns come from directory names), and
    remembered by path after it."""
    known = str(tmp_path / "known.parquet")
    pq.write_table(pa.table({"k": [1, 2]}), known)
    read_parquet(spark, known)
    table = tmp_path / "table"
    (table / "p=1").mkdir(parents=True)
    pq.write_table(pa.table({"k": [3]}), str(table / "p=1" / "part-0.parquet"))
    df, jobs = _first_read_jobs(spark, str(table), "footer-directory-first")
    assert jobs
    assert df.schema == spark.read.parquet(str(table)).schema
    assert df.columns == ["k", "p"]
    _, jobs = _first_read_jobs(spark, str(table), "footer-directory-again")
    assert jobs == []


def test_unreadable_footer_takes_the_inference_read(spark, tmp_path):
    """A file whose footer cannot be read is left to Spark's own read,
    which raises what it always raises."""
    path = str(tmp_path / "broken.parquet")
    with open(path, "wb") as f:
        f.write(b"not a parquet file")
    for read in (spark.read.parquet, lambda p: read_parquet(spark, p)):
        with pytest.raises(Exception, match="CANNOT_READ_FILE_FOOTER"):
            read(path)
