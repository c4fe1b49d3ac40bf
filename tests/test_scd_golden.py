"""Golden SCD2 tests ported from the reference behavioral spec
(``/root/reference/include/tests/test_scd_functions.py:110-262``):
same literal inputs, same expected rows. These pin the semantic
subtleties: min-date-per-attribute-combo version collapse, open
intervals for current rows, and the incremental merge split.
"""

import datetime

import pyspark.sql.functions as F
from pyspark.sql import Row

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators import (
    create_scd_from_input,
    merge_scd,
    scd_update_and_insert,
)

ATTRS = ["store_number", "store_name", "address", "city", "zip_code", "store_location"]


def _event(day, name, invoice="RINV-04934100006"):
    return Row(
        invoice_and_item_number=invoice,
        date=day,
        store_number=4970,
        store_name=name,
        address="200, E 3RD ST",
        city="WEST LIBERTY",
        zip_code=52776,
        store_location="POINT(-91.261560959 41.569567007)",
    )


def test_create_scd_more_than_one_change(spark):
    """Reference ``test_create_scd_from_input_for_more_than_one_change``:
    5 events, names A, B, B, B, C → exactly 3 versions with
    [Jan1,Jan12), [Jan12,Feb15), [Feb15,∞)."""
    input_df = spark.createDataFrame(
        [
            _event(datetime.date(2024, 1, 1), "JEFF'S MARKET / WEST LIBERTY"),
            _event(datetime.date(2024, 1, 12), "JEFF'S MARKET / WEST LIBERTY CHANGED 1"),
            _event(datetime.date(2024, 1, 13), "JEFF'S MARKET / WEST LIBERTY CHANGED 1"),
            _event(datetime.date(2024, 1, 14), "JEFF'S MARKET / WEST LIBERTY CHANGED 1"),
            _event(datetime.date(2024, 2, 15), "JEFF'S MARKET / WEST LIBERTY CHANGED 2"),
        ]
    )
    scd = create_scd_from_input(input_df, ATTRS, "date", "store_number")
    rows = {r["start_date"]: r for r in scd.collect()}
    assert len(rows) == 3

    first = rows[datetime.date(2024, 1, 1)]
    assert first["store_name"] == "JEFF'S MARKET / WEST LIBERTY"
    assert first["end_date"] == datetime.date(2024, 1, 12)
    assert first["is_current"] is False
    assert first["zip_code"] == 52776

    second = rows[datetime.date(2024, 1, 12)]
    assert second["store_name"] == "JEFF'S MARKET / WEST LIBERTY CHANGED 1"
    assert second["end_date"] == datetime.date(2024, 2, 15)
    assert second["is_current"] is False

    third = rows[datetime.date(2024, 2, 15)]
    assert third["store_name"] == "JEFF'S MARKET / WEST LIBERTY CHANGED 2"
    assert third["end_date"] is None
    assert third["is_current"] is True


def test_create_scd_flip_collapse(spark):
    """The A→B→A subtlety (SURVEY §2.11#2): versions are keyed by
    (nk, attr combo) min-date, so a flip back to A collapses into A's
    FIRST interval — 2 rows, not 3."""
    input_df = spark.createDataFrame(
        [
            _event(datetime.date(2024, 1, 1), "NAME A"),
            _event(datetime.date(2024, 1, 10), "NAME B"),
            _event(datetime.date(2024, 1, 20), "NAME A"),
        ]
    )
    scd = create_scd_from_input(input_df, ATTRS, "date", "store_number")
    rows = sorted(scd.collect(), key=lambda r: r["start_date"])
    assert len(rows) == 2
    assert rows[0]["store_name"] == "NAME A"
    assert rows[0]["start_date"] == datetime.date(2024, 1, 1)
    assert rows[0]["end_date"] == datetime.date(2024, 1, 10)
    assert rows[1]["store_name"] == "NAME B"
    assert rows[1]["end_date"] is None
    assert rows[1]["is_current"] is True


def _old_scd(spark):
    return spark.createDataFrame(
        [
            Row(
                store_number=2502,
                store_name="HY-VEE WINE AND SPIRITS (1022) / ANKENY",
                address="410 NORTH ANKENY BLVD",
                city="ANKENY",
                zip_code=50021,
                store_location="POINT(-93.602561976 41.73460601)",
                start_date=datetime.date(2024, 11, 12),
                end_date=datetime.date(2024, 11, 27),
                is_current=False,
            ),
            Row(
                store_number=2502,
                store_name="HY-VEE WINE AND SPIRITS (1022) / ANKENY CHANGE 1",
                address="410 NORTH ANKENY BLVD",
                city="ANKENY",
                zip_code=50021,
                store_location="POINT(-93.602561976 41.73460601)",
                start_date=datetime.date(2024, 11, 27),
                end_date=None,
                is_current=True,
            ),
        ]
    )


def test_incremental_merge_closes_current_and_inserts(spark):
    """Reference merge semantics (``test_merge_last_scd_record_with_
    oldest_scd_record_...__one_store`` via the unified
    get_scd_records_for_update_and_insert): a new value arriving
    Dec 12 closes the current row at Dec 12 and inserts the new
    version as current."""
    old_scd = _old_scd(spark)
    new_records = spark.createDataFrame(
        [
            Row(
                store_number=2502,
                store_name="HY-VEE WINE AND SPIRITS (1022) / ANKENY CHANGE 2",
                address="410 NORTH ANKENY BLVD",
                city="ANKENY",
                zip_code=50021,
                store_location="POINT(-93.602561976 41.73460601)",
                date=datetime.date(2024, 12, 12),
            )
        ]
    )
    to_update, to_insert = scd_update_and_insert(old_scd, new_records, "store_number", "date", ATTRS)

    upd = to_update.collect()
    assert len(upd) == 1
    assert upd[0]["start_date"] == datetime.date(2024, 11, 27)
    assert upd[0]["end_date"] == datetime.date(2024, 12, 12)
    assert upd[0]["is_current"] is False
    assert upd[0]["store_name"] == "HY-VEE WINE AND SPIRITS (1022) / ANKENY CHANGE 1"

    ins = to_insert.collect()
    assert len(ins) == 1
    assert ins[0]["store_name"] == "HY-VEE WINE AND SPIRITS (1022) / ANKENY CHANGE 2"
    assert ins[0]["start_date"] == datetime.date(2024, 12, 12)
    assert ins[0]["end_date"] is None
    assert ins[0]["is_current"] is True

    # the merged dimension is a consistent 3-version dimension
    merged = merge_scd(old_scd, new_records, "store_number", "date", ATTRS)
    rows = sorted(merged.collect(), key=lambda r: r["start_date"])
    assert len(rows) == 3
    assert [r["is_current"] for r in rows] == [False, False, True]
    # intervals tile with no gaps
    assert rows[0]["end_date"] == rows[1]["start_date"]
    assert rows[1]["end_date"] == rows[2]["start_date"]


def test_merge_same_attributes_is_noop(spark):
    """A delta record repeating the current attribute values must not
    create a version or close anything (min-date semantics)."""
    old_scd = _old_scd(spark)
    new_records = spark.createDataFrame(
        [
            Row(
                store_number=2502,
                store_name="HY-VEE WINE AND SPIRITS (1022) / ANKENY CHANGE 1",
                address="410 NORTH ANKENY BLVD",
                city="ANKENY",
                zip_code=50021,
                store_location="POINT(-93.602561976 41.73460601)",
                date=datetime.date(2024, 12, 20),
            )
        ]
    )
    to_update, to_insert = scd_update_and_insert(old_scd, new_records, "store_number", "date", ATTRS)
    assert to_update.count() == 0
    assert to_insert.count() == 0


def test_scd_schema_is_the_built_dimension_schema(spark):
    """The dimension schema derived without Spark names and types the
    columns as ``create_scd_from_input`` builds them, for a DATE and a
    TIMESTAMP date column."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.scd import scd_schema

    events = spark.createDataFrame([_event(datetime.date(2022, 1, 1), "A")])
    for df in (events, events.withColumn("date", F.col("date").cast("timestamp"))):
        built = create_scd_from_input(df, ATTRS, "date", "store_number").schema
        derived = scd_schema(df.schema, ATTRS, "date", "store_number")
        assert [(f.name, f.dataType) for f in derived] == [(f.name, f.dataType) for f in built]
