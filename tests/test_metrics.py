"""Observation-based load metrics: one pass, correct numbers."""

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources.metrics import (
    observed_quality,
    quality_report,
)
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources.tables import (
    load_table,
)

SF_DIR = "/root/testdata/sf0.001"


def test_observed_quality_counts(spark, tmp_path):
    orders = load_table(spark, SF_DIR, "orders")
    n = orders.count()
    df, obs = observed_quality(
        orders, key_cols=["o_orderkey"], not_null=["o_custkey", "o_totalprice"]
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "out"))
    rep = quality_report(obs)
    assert rep["n_rows"] == n
    assert rep["null_o_custkey"] == 0
    assert rep["null_o_totalprice"] == 0
    # approx distinct within 10% of exact (o_orderkey is unique)
    assert abs(rep["approx_distinct_o_orderkey"] - n) / n < 0.1

