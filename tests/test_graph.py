"""Connected-components / dedup-cluster tests (operators/graph.py)."""

import pyspark.sql.functions as F

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.graph import (
    connected_components,
    dedup_clusters,
)


def _components(spark, nodes, edges):
    v = spark.createDataFrame([(n,) for n in nodes], "node long")
    e = spark.createDataFrame(edges or [(None, None)], "src long, dst long").where(
        F.col("src").isNotNull()
    )
    rows = connected_components(v, e).collect()
    return {r["node"]: r["comp"] for r in rows}

def test_chain_converges_across_rounds(spark):
    # a 7-node path needs several propagation rounds, not just one
    comp = _components(spark, range(1, 8), [(i, i + 1) for i in range(1, 7)])
    assert comp == {n: 1 for n in range(1, 8)}


def test_two_cliques_and_singleton(spark):
    edges = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 10)]
    comp = _components(spark, [1, 2, 3, 10, 11, 99], edges)
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_orientation_irrelevant(spark):
    # same component regardless of src/dst order
    assert _components(spark, [1, 2, 3], [(3, 2), (2, 1)]) == {1: 1, 2: 1, 3: 1}


def test_dedup_clusters_keep_list(spark):
    docs = spark.createDataFrame([(i, f"d{i}") for i in [5, 6, 7, 8]], "doc_id long, text string")
    pairs = spark.createDataFrame([(6, 7)], "id_a long, id_b long")
    rows = {r["doc_id"]: r for r in dedup_clusters(docs, pairs).collect()}
    assert rows[6]["cluster_id"] == 6 and rows[7]["cluster_id"] == 6
    assert rows[6]["keep"] and not rows[7]["keep"]
    # singletons keep themselves
    assert rows[5]["keep"] and rows[8]["keep"]
    assert sum(r["keep"] for r in rows.values()) == 3


def _components_algo(spark, nodes, edges, algorithm, max_iter=25):
    v = spark.createDataFrame([(n,) for n in nodes], "node long")
    e = spark.createDataFrame(edges or [(None, None)], "src long, dst long").where(
        F.col("src").isNotNull()
    )
    rows = connected_components(v, e, max_iter=max_iter, algorithm=algorithm).collect()
    return {r["node"]: r["comp"] for r in rows}


def test_star_matches_min_label_on_path_graph(spark):
    """50-node path: diameter 49 > default max_iter, the adversarial
    chain min-label cannot finish in 25 rounds. The star contraction
    converges in O(log d) rounds; min-label must RAISE rather than
    return silently mislabeled components."""
    import pytest

    nodes = list(range(1, 51))
    edges = [(i, i + 1) for i in range(1, 50)]
    want = {n: 1 for n in nodes}
    assert _components_algo(spark, nodes, edges, "star") == want
    with pytest.raises(RuntimeError, match="did not converge"):
        _components_algo(spark, nodes, edges, "min_label", max_iter=25)
    assert _components_algo(spark, nodes, edges, "min_label", max_iter=60) == want


def test_star_matches_min_label_on_random_graphs(spark):
    """Property check: both algorithms label random sparse graphs
    identically (min node id per component)."""
    import random

    rng = random.Random(17)
    for trial in range(3):
        n = 40
        nodes = list(range(n))
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(rng.randrange(10, 45))
        ]
        a = _components_algo(spark, nodes, edges, "star")
        b = _components_algo(spark, nodes, edges, "min_label", max_iter=60)
        assert a == b, (trial, a, b)


def test_star_handles_cliques_singletons_and_orientation(spark):
    edges = [(1, 2), (2, 3), (1, 3), (11, 10), (10, 11)]
    comp = _components_algo(spark, [1, 2, 3, 10, 11, 99], edges, "star")
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_dedup_clusters_auto_falls_back_to_star_on_long_chain(spark):
    """The auto path: a 60-node chained near-dup graph (diameter past
    min-label's max_iter) must NOT raise from dedup_clusters — the
    fallback runs the star contraction and returns the identical
    min-id labeling. The explicit algorithms stay available and a
    bogus name still fails loudly."""
    import pytest

    n = 60
    docs = spark.createDataFrame([(i, f"d{i}") for i in range(1, n + 1)], "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "id_a long, id_b long"
    )
    rows = {r["doc_id"]: r for r in dedup_clusters(docs, pairs, max_iter=10).collect()}
    assert all(rows[i]["cluster_id"] == 1 for i in range(1, n + 1))
    assert rows[1]["keep"] and sum(r["keep"] for r in rows.values()) == 1

    # explicit min_label on the same graph raises (no silent fallback)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(docs, pairs, algorithm="min_label", max_iter=10).collect()
    # explicit star works
    star = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(docs, pairs, algorithm="star", max_iter=10).collect()}
    assert star == {i: 1 for i in range(1, n + 1)}
    with pytest.raises(ValueError, match="unknown algorithm"):
        dedup_clusters(docs, pairs, algorithm="bogus").collect()


def test_observed_checkpoint_metrics_equal_the_explicit_aggregate(spark):
    """The metrics an observation collects while the checkpoint
    materializes equal the same aggregate run as its own query, and the
    checkpoint holds the observed rows."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.graph import (
        _canonical_edges,
        _observed_checkpoint,
    )

    edges = spark.createDataFrame([(1, 2), (2, 1), (3, 2), (4, 4), (6, 5), (7, 9)], "src long, dst long")
    df = _canonical_edges(edges)
    exprs = (
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("a", "b")).alias("h"),
        F.sum(F.col("a").cast("decimal(38,0)")).alias("s"),
    )
    out, metrics = _observed_checkpoint(df, *exprs)
    assert dict(metrics) == df.agg(*exprs).collect()[0].asDict()
    assert metrics["n"] == 4
    assert sorted(tuple(r) for r in out.collect()) == [(1, 2), (2, 3), (5, 6), (7, 9)]
