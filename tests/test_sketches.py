"""KMV sketch properties: merge associativity, estimate accuracy."""

import pyspark.sql.functions as F

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators import (
    sketches,
)

SF_DIR = "/root/testdata/sf0.001"


def _hashes(r):
    return sorted(x["hv"] for x in r)


def test_shard_merge_equals_direct_sketch(spark):
    # k-min over the union of per-shard k-mins == k-min over everything,
    # for any sharding — the associativity the 100 TB merge relies on
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    k = 64
    direct = _hashes(sketches.kmv_global_sketch(li, "l_orderkey", k).collect())
    for n_shards in (2, 7):
        parts = sketches.kmv_grouped_sketch(
            li, sketches.kmv_hash(F.col("l_orderkey")) % n_shards, "l_orderkey", k
        )
        merged = _hashes(sketches.kmv_merge(parts, k).collect())
        assert merged == direct, f"shard count {n_shards}"


def test_distinct_estimate_within_tolerance(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    k = 128
    sk = sketches.kmv_global_sketch(li, "l_orderkey", k)
    row = sk.agg(F.max("hv").alias("hk"), F.count("*").alias("n")).collect()[0]
    assert row["n"] == k, "fixture must have more distinct keys than k"
    est = (row["n"] - 1.0) / (row["hk"] / sketches.TWO_60)
    exact = li.select("l_orderkey").distinct().count()
    # k=128 → relative standard error ~ 1/sqrt(k-1) ≈ 9%; allow 3 sigma
    assert abs(est - exact) / exact < 0.27, (est, exact)


def test_small_set_sketch_is_exact(spark):
    # fewer distinct values than k: the sketch IS the hashed set
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").limit(40)
    sk = sketches.kmv_global_sketch(li, "l_orderkey", 1000).collect()
    n_distinct = li.select("l_orderkey").distinct().count()
    assert len(sk) == n_distinct
    assert len({r["hv"] for r in sk}) == n_distinct


def test_histogram_merge_equals_direct(spark):
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    direct = {
        (r["bin"], r["cnt"])
        for r in sketches.histogram_bins(o, "o_totalprice", 4096).collect()
    }
    # shard by order key, build partial histograms, merge
    parts = []
    for shard in range(3):
        sub = o.where(F.col("o_orderkey") % 3 == shard)
        parts.append(sketches.histogram_bins(sub, "o_totalprice", 4096))
    merged = parts[0].unionByName(parts[1]).unionByName(parts[2])
    got = {(r["bin"], r["cnt"]) for r in sketches.histogram_merge(merged).collect()}
    assert got == direct


def test_histogram_quantile_within_bin_width_of_exact(spark):
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    width = 4096
    bins = sketches.histogram_bins(o, "o_totalprice", width)
    est = {
        r["quantile"]: r["estimate"]
        for r in sketches.histogram_quantiles(bins, width, [0.5, 0.9, 0.99]).collect()
    }
    vals = sorted(r["o_totalprice"] for r in o.select("o_totalprice").collect())
    import math

    for q in (0.5, 0.9, 0.99):
        exact = vals[math.ceil(q * len(vals)) - 1]
        assert abs(est[q] - exact) <= width, (q, est[q], exact)


def test_hard_negatives_band_and_disjoint_from_neardups(spark):
    # negatives must live strictly inside the band and never collide
    # with the near-dup region [hi, 1]
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.similarity import (
        hard_negatives,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.where("vec_id < 3")
    neg = hard_negatives(emb, queries, lo=0.2, hi=0.3, k=5).collect()
    assert neg, "band must contain candidates at this SF"
    for r in neg:
        assert 0.2 <= r["score"] < 0.3
        assert r["query_id"] != r["neighbor_id"]
    # per-query rank lists are dense 1..n and score-sorted
    by_q = {}
    for r in neg:
        by_q.setdefault(r["query_id"], []).append(r)
    for rows in by_q.values():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        scores = [r["score"] for r in rows]
        assert scores == sorted(scores, reverse=True)


def test_pq_codes_bounded_and_adc_orders_by_true_distance(spark):
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.similarity import (
        l2_expr,
        pq_adc_topk,
        pq_encode,
        pq_train,
    )
    import pyspark.sql.functions as F2

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    books = pq_train(emb, m=2, k=4, iters=2, dim=64)
    assert len(books) == 2 and all(len(b) == 4 for b in books)
    assert all(len(c) == 32 for b in books for c in b)
    codes = pq_encode(emb, books).collect()
    assert all(0 <= r["code_0"] <= 3 and 0 <= r["code_1"] <= 3 for r in codes)
    # ADC top-10 must overlap the exact L2 top-10 (coarse 2x4 codebooks:
    # expect at least some agreement, and every adc_dist non-negative)
    queries = emb.where("vec_id < 3")
    adc = pq_adc_topk(emb, queries, books, k=10).collect()
    assert all(r["adc_dist"] >= 0 for r in adc)
    q = queries.select(F2.col("vec_id").alias("qid"), F2.col("embedding").alias("qv"))
    exact = (
        F2.broadcast(q)
        .crossJoin(emb.select(F2.col("vec_id").alias("nid"), F2.col("embedding").alias("cv")))
        .where(F2.col("qid") != F2.col("nid"))
        .select("qid", "nid", l2_expr(F2.col("qv"), F2.col("cv")).alias("d"))
    )
    import collections

    top_exact = collections.defaultdict(set)
    for r in exact.collect():
        top_exact[r["qid"]].add((r["d"], r["nid"]))
    hits = 0
    for qid in (0, 1, 2):
        best = {nid for _, nid in sorted(top_exact[qid])[:10]}
        got = {r["neighbor_id"] for r in adc if r["query_id"] == qid}
        hits += len(best & got)
    assert hits >= 3, f"ADC recall collapsed: {hits}/30 overlap with exact L2"
