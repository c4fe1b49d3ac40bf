"""Tracked-persist hygiene: queries that cache a multi-consumer
intermediate (q139/q149/q154) must register it for release so the
long-lived sweep sessions (153-query gate, bench loop) do not
accumulate executor storage across queries."""

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.queries import (
    registry,
    release_persisted,
)

SF_DIR = "/root/testdata/sf0.001"

TRACKED = ["q139_crosstab_expected", "q149_bigram_coherence", "q154_countmin_heavy_hitters"]


def _cached_ids(spark) -> set:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_tracked_persists_are_released(spark):
    # compare RDD-id SETS, not counts: earlier tests' localCheckpoint
    # RDDs (pagerank, connected components) are unpersisted by the
    # async ContextCleaner whenever their DataFrames get GC'd, so
    # absolute storage counts can shrink concurrently mid-test
    release_persisted()  # start clean regardless of earlier tests
    reg = registry()
    try:
        base = _cached_ids(spark)
        for name in TRACKED:
            reg[name].fn(spark, SF_DIR).collect()
        added = _cached_ids(spark) - base
        assert len(added) >= len(TRACKED), (
            "expected each tracked query to leave one materialized cache"
        )
    finally:
        n = release_persisted()
    assert n >= len(TRACKED)
    leftover = _cached_ids(spark) & added
    assert not leftover, f"release_persisted left cached RDDs behind: {leftover}"


def test_no_bare_actions_in_query_functions():
    # driver actions inside registered query builders make the whole
    # registry non-lazy; the two sanctioned ones live behind named
    # helpers (_persist(eager=True) for the two-branch cache race,
    # _scalar_count for plan-parameterizing counts) so any new bare
    # .count()/.collect() in a query function trips this test
    import ast
    import inspect

    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans import (
        queries as qmod,
    )

    tree = ast.parse(inspect.getsource(qmod))
    offenders = []
    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef):
            continue
        if fn.name in ("_persist", "_scalar_count"):
            continue
        for node in ast.walk(fn):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            # F.count("*") / take(n) are lazy column exprs — actions
            # are the zero-argument terminal calls. GroupedData.count()
            # (lazy) is the one zero-arg count that is NOT an action;
            # it only ever appears directly chained on .groupBy(...)
            is_grouped_count = (
                node.func.attr == "count"
                and isinstance(node.func.value, ast.Call)
                and isinstance(node.func.value.func, ast.Attribute)
                and node.func.value.func.attr in ("groupBy", "groupby", "cube", "rollup")
            )
            if (
                node.func.attr in ("count", "collect", "toPandas", "head")
                and not node.args
                and not node.keywords
                and not is_grouped_count
            ):
                offenders.append(f"{fn.name}:{node.lineno}")
    assert not offenders, (
        "bare driver actions inside query functions (route through "
        f"_persist(eager=True) or _scalar_count): {offenders}"
    )


def test_release_is_idempotent_and_queries_rebuild(spark):
    reg = registry()
    release_persisted()  # drain whatever earlier tests tracked
    assert release_persisted() == 0, "second release must find nothing"
    # a released query re-persists and stays correct on the next build
    rows1 = sorted(map(tuple, reg[TRACKED[0]].fn(spark, SF_DIR).collect()))
    release_persisted()
    rows2 = sorted(map(tuple, reg[TRACKED[0]].fn(spark, SF_DIR).collect()))
    release_persisted()
    assert rows1 == rows2
