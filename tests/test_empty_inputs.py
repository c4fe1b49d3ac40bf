"""Empty-input robustness: every operator must return an empty (not
failing) result on an empty frame with the right schema — the S10
'empty DataFrame from schema' behavior incremental pipelines hit on
quiet days."""

import os
import shutil

from conftest import SF_DIR
from pyspark.sql.types import (
    DateType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.functions.dates import (
    build_date_dim,
)
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.dedup import (
    exact_dedup_keys,
    minhash_lsh_candidates,
    simhash_near_dup_pairs,
)
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.scd import (
    create_scd_from_input,
    merge_scd,
    remove_one_day_changes,
    scd_update_and_insert,
)
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.pipeline import (
    build_star_warehouse,
)

LOG_SCHEMA = StructType(
    [
        StructField("nk", LongType()),
        StructField("val", StringType()),
        StructField("d", DateType()),
    ]
)

DOC_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("text", StringType())]
)


def _empty_log(spark):
    return spark.createDataFrame([], LOG_SCHEMA)


def test_scd_build_empty(spark):
    scd = create_scd_from_input(_empty_log(spark), ["nk", "val"], "d", "nk")
    assert scd.count() == 0
    assert set(scd.columns) == {"nk", "val", "start_date", "end_date", "is_current"}


def test_scd_merge_empty_delta(spark):
    import datetime

    from pyspark.sql import Row

    old = create_scd_from_input(
        spark.createDataFrame([Row(nk=1, val="A", d=datetime.date(2024, 1, 1))]),
        ["nk", "val"],
        "d",
        "nk",
    )
    upd, ins = scd_update_and_insert(old, _empty_log(spark), "nk", "d", ["nk", "val"])
    merged = merge_scd(old, _empty_log(spark), "nk", "d", ["nk", "val"])
    assert upd.count() == 0 and ins.count() == 0
    assert merged.count() == old.count()


def test_repair_empty(spark):
    assert remove_one_day_changes(_empty_log(spark), "val", "nk", "d").count() == 0


def test_dedup_empty(spark):
    docs = spark.createDataFrame([], DOC_SCHEMA)
    assert exact_dedup_keys(docs, "doc_id").count() == 0
    assert minhash_lsh_candidates(docs, "doc_id").count() == 0
    assert simhash_near_dup_pairs(docs, "doc_id").count() == 0


def test_jaccard_verify_empty(spark):
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame([], DOC_SCHEMA)
    pairs = spark.createDataFrame(
        [], StructType([StructField("id_a", LongType()), StructField("id_b", LongType())])
    )
    out = ngram_jaccard_pairs(docs, pairs, "doc_id")
    assert out.columns == ["id_a", "id_b", "jaccard"]
    assert out.count() == 0


def test_quantile_thresholds_empty(spark):
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.quantiles import (
        exact_rank_thresholds,
        rank_targets,
    )

    vals = spark.createDataFrame([], StructType([StructField("v", LongType())]))
    th = exact_rank_thresholds(vals, "v", rank_targets(vals, 4), widths=[10, 1])
    # zero rows → every target rank is 0 → no threshold can be located;
    # the quiet-day contract is an empty result with the right schema
    assert th.columns == ["d", "target_rank", "t"]
    assert th.count() == 0


def test_derived_n_cells_degenerate():
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.similarity import (
        derived_n_cells,
    )

    # empty/tiny corpora must still yield a sane quantizer capacity
    # (the floor), never 0 or a negative shift
    assert derived_n_cells(0) == 4
    assert derived_n_cells(1) == 4
    assert derived_n_cells(2) == 4


def test_star_warehouse_over_an_empty_fact(spark, tmp_path):
    """No orders and no lineitems: the fact has no dates, and the build
    still writes every dimension, the calendar empty with its columns."""
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    for t in ("customer", "nation", "region", "part", "supplier"):
        shutil.copy(os.path.join(SF_DIR, f"{t}.parquet"), sf_dir / f"{t}.parquet")
    for t in ("orders", "lineitem"):
        spark.read.parquet(os.path.join(SF_DIR, f"{t}.parquet")).limit(0).write.parquet(
            str(sf_dir / f"{t}.parquet")
        )
    paths = build_star_warehouse(spark, str(sf_dir), str(tmp_path / "wh"))
    dim_date = spark.read.parquet(paths["dim_date"])
    assert dim_date.count() == 0
    assert dim_date.columns == build_date_dim(spark, "2024-01-01", "2024-01-01").columns
    assert len(dim_date.columns) == 14
    assert spark.read.parquet(paths["dim_item"]).count() > 0
