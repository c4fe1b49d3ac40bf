"""Empty-input robustness: every operator must return an empty (not
failing) result on an empty frame with the right schema — the S10
'empty DataFrame from schema' behavior incremental pipelines hit on
quiet days."""

from pyspark.sql.types import (
    DateType,
    LongType,
    StringType,
    StructField,
    StructType,
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
