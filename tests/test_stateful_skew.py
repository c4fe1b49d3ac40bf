"""Skewed joins: salted-join equivalence and AQE skew splitting."""

from pyspark.sql import Row

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.skew import salted_join


def test_salted_join_equivalence(spark):
    """Salted join must produce exactly the rows of the plain join,
    including under a pathologically hot key."""
    fact = spark.createDataFrame(
        [Row(k=1, fid=i) for i in range(500)] + [Row(k=2, fid=1000 + i) for i in range(5)]
    )
    dim = spark.createDataFrame([Row(k=1, name="hot"), Row(k=2, name="cold"), Row(k=3, name="orphan")])
    plain = {(r["fid"], r["name"]) for r in fact.join(dim, "k").collect()}
    salted = {(r["fid"], r["name"]) for r in salted_join(fact, dim, "k", salt=8, salt_source="fid").collect()}
    assert salted == plain and len(salted) == 505


def test_aqe_splits_skewed_join_partition(spark):
    """With AQE thresholds scaled to test data, a 90%-one-key join
    must come back as SortMergeJoin(skew=true) with the hot partition
    split — the runtime complement to the manual salting of q63."""
    import pyspark.sql.functions as F

    keys = (
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        left = spark.range(300000).select(
            F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("pad"),
        )
        right = spark.range(1000).select(F.col("id").alias("k"), F.lit("r").alias("rv"))
        j = left.join(right, "k")
        assert len(j.collect()) == 270100
        final = j._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
        assert "SortMergeJoin(skew=true)" in final
        assert "skewed" in final, "AQEShuffleRead must mark the split partition"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
