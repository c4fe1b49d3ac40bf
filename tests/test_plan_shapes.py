"""Physical-plan shape guards.

Correctness tests prove the queries compute the right rows; these prove
they compute them the way that survives a 100x scale-up. Each assertion
pins a plan property that Catalyst gives us today and that a careless
refactor could silently lose:

- dimension lookups broadcast (no fact-side shuffle),
- filters and projections reach the parquet scan,
- aggregations are partial (map-side combine) before the shuffle,
- top-N compiles to TakeOrderedAndProject, not a global sort.
"""

import contextlib
import importlib.util
import io
import os
import re

import pytest

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.queries import (
    registry,
)

SF_DIR = "/root/testdata/sf0.001"


def plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def q(spark):
    reg = registry()

    def run(name):
        return reg[name].fn(spark, SF_DIR)

    return run


def test_star_join_broadcasts_all_dims(q):
    plan = plan_text(q("q23_star_weekday"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "star dims must broadcast, not shuffle the fact"


def test_scd_as_of_broadcasts_dim(q):
    plan = plan_text(q("q22_scd_as_of"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "point-in-time dim lookup must not shuffle the fact"


def _final_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]


def test_scd_merge_shuffles_once_on_the_natural_key(spark, tmp_path):
    """merge_scd's (nk, attrs) aggregate and PARTITION BY nk window share
    one exchange on the natural key; a rebuild over a raw log keeps its
    map-side partial aggregate ahead of its own two shuffles."""
    import datetime

    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.scd import (
        create_scd_from_input,
        merge_scd,
    )

    d, schema = datetime.date, "store long, city string, obs_date date"
    log = spark.createDataFrame(
        [(1, "ames", d(2024, 1, 1)), (1, "boone", d(2024, 2, 1)), (2, "adel", d(2024, 1, 1))], schema
    )
    rebuilt = _final_plan(create_scd_from_input(log, ["city"], "obs_date", "store"))
    assert re.findall(r"Exchange hashpartitioning\((\w+)#\w+(?:, (\w+)#)?", rebuilt) == [
        ("store", ""),
        ("store", "city"),
    ]
    assert "partial_min" in rebuilt

    dim = str(tmp_path / "dim")
    create_scd_from_input(log, ["city"], "obs_date", "store").write.parquet(dim)
    batch = spark.createDataFrame([(1, "clive", d(2024, 3, 1))], schema)
    merged = _final_plan(merge_scd(spark.read.parquet(dim), batch, "store", "obs_date", ["city"]))
    assert merged.count("Exchange ") == 1, merged
    assert "Exchange hashpartitioning(store#" in merged


def test_filter_pushdown_reaches_scan(q):
    plan = plan_text(q("q01_pricing_summary"))
    assert "PushedFilters: [" in plan
    # the shipdate predicate must be pushed, not just evaluated post-scan
    assert "l_shipdate" in plan.split("PushedFilters")[1].split("]")[0]


def test_column_pruning_reaches_scan(q):
    plan = plan_text(q("q02_filter_project"))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema, "unused wide column must be pruned from the scan"
    assert "l_orderkey" in read_schema


def test_aggregate_is_partial_before_shuffle(q):
    plan = plan_text(q("q01_pricing_summary"))
    assert "partial_sum" in plan, "need map-side partial agg before the shuffle"
    assert "hashpartitioning" in plan


def test_topn_is_take_ordered_not_global_sort(q):
    plan = plan_text(q("q09_topn_parts"))
    assert "TakeOrderedAndProject" in plan, "ORDER BY + LIMIT must not global-sort"


def test_whole_stage_codegen_active(q):
    # codegen spans only appear on the AQE-finalized plan, so execute first
    df = q("q01_pricing_summary")
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes are the whole-stage-codegen stage ids
    assert "*(1)" in final, "hot path fell out of whole-stage codegen"


def test_salted_join_shuffles_only_on_salted_key(q):
    # the whole point of salting: the join key in the exchange includes the salt
    plan = plan_text(q("q63_salted_join"))
    assert "_salt" in plan


def test_dedup_exact_partial_agg(q):
    plan = plan_text(q("q30_dedup_exact"))
    assert plan.count("HashAggregate") >= 2


def test_snowflake_join_broadcasts_every_dim(q):
    # q80 joins lineitem to five dims; every one must broadcast so the
    # fact table is never shuffled for the join
    plan = plan_text(q("q80_local_supplier_volume"))
    assert "SortMergeJoin" not in plan
    # formatted output names each join node twice (tree + details)
    assert plan.count("BroadcastHashJoin") >= 10
    assert "partial_sum" in plan


def test_disjunctive_filter_pushed_to_both_scans(q):
    # TPC-H Q19 shape: Catalyst must extract per-side disjuncts from the
    # OR-of-ANDs and push them into BOTH parquet scans
    plan = plan_text(q("q83_disjunctive_filter"))
    pushed = [seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]]
    assert any("l_quantity" in p and "Or(" in p for p in pushed), "lineitem disjunct not pushed"
    assert any("p_brand" in p and "Or(" in p for p in pushed), "part disjunct not pushed"


def test_shipping_priority_topn_is_take_ordered(q):
    plan = plan_text(q("q79_shipping_priority"))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_customer_distribution_aggregates_before_join(q):
    # Q13 shape: orders must be pre-aggregated per customer BEFORE the
    # left join (shrinks the probe side), and the priority filter must
    # reach the orders scan
    plan = plan_text(q("q88_customer_distribution"))
    assert "partial_count" in plan, "orders per-customer agg must be partial map-side"
    pushed = [seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]]
    assert any("o_orderpriority" in p for p in pushed), "priority filter not pushed to scan"


def test_small_quantity_self_join_shares_partitioning(q):
    # Q17 shape: the per-part avg and the probe side both hash-partition
    # on l_partkey — no extra repartition, and the avg agg is partial
    plan = plan_text(q("q89_small_quantity_revenue"))
    assert "hashpartitioning(l_partkey" in plan
    assert "partial_avg" in plan or "partial_sum" in plan


def test_top_supplier_single_lineitem_scan(q):
    # Q15 shape: the scalar MAX must come from a window over the
    # aggregated table, not a second full lineitem scan+agg
    df = q("q91_top_supplier")
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    import re

    scans = re.findall(r"FileScan parquet[^\n]*lineitem", final)
    assert len(scans) == 1, "scalar-max decorrelation must not rescan lineitem"
    assert "Exchange SinglePartition" in final, "max must be a window over the small agg"


def test_balance_opportunity_anti_join_and_broadcast_stats(q):
    # Q22 shape: NOT EXISTS plans as a left-anti join; the 1-row stats
    # aggregate is broadcast (nested-loop), never shuffled against
    plan = plan_text(q("q92_balance_opportunity"))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_waiting_suppliers_semi_and_anti(q):
    # Q21 shape: EXISTS -> left-semi, NOT EXISTS -> left-anti, and the
    # supplier dim lookup broadcasts
    plan = plan_text(q("q93_waiting_suppliers"))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_denylist_scrub_no_shuffle(q):
    # q101 is a pure narrow map: any Exchange means a refactor broke it
    plan = plan_text(q("q101_denylist_scrub"))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan, "redaction must stay JVM-side"


def test_domain_mixture_no_shuffle(q):
    # q103 is map + generate only; repetition must not shuffle or sort
    plan = plan_text(q("q103_domain_mixture"))
    assert "Exchange" not in plan
    assert "explode(" in plan


def test_sequence_packing_single_stream_shuffle(q):
    # q100: ONE exchange total — the cumulative-sum window shuffles on
    # lang, and the (lang, pack_id) aggregation reuses that partitioning
    # (same-lang rows are already co-located), so the corpus is never
    # reshuffled again
    plan = plan_text(q("q100_sequence_packing"))
    assert plan.count("+- Exchange") == 1
    assert "Window" in plan


def test_tfidf_single_corpus_scan(q):
    # q102: the corpus text is scanned once; the n_docs side scans zero
    # columns (footer count). DF comes from a vocabulary window, not a
    # second corpus explode.
    df = q("q102_tfidf_terms")
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    import re

    doc_scans = re.findall(r"FileScan parquet[^\n]*documents[^\n]*", final)
    full_scans = [s for s in doc_scans if "text" in s]
    assert len(full_scans) == 1, "TF-IDF must explode the corpus exactly once"


def test_domain_caps_partial_topk(q):
    # q104: the per-source cap must plan as WindowGroupLimit so each
    # mapper ships at most K rows per source into the single exchange
    df = q("q104_domain_caps")
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    assert "WindowGroupLimit" in final
    assert final.count("+- Exchange") == 1


def test_embedding_quantize_no_shuffle_no_python(q):
    # q105: higher-order array functions stay JVM-side with zero shuffles
    df = q("q105_embedding_quantize")
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    assert "+- Exchange" not in final
    assert "BatchEvalPython" not in final


def test_min_cost_supplier_single_exchange(q):
    # q110 (Q2 shape): repartition(l_partkey) feeds BOTH the
    # (partkey, suppkey) aggregate and the per-part window MIN — hash
    # partitioning on a subset of the grouping keys satisfies
    # ClusteredDistribution, so there is exactly one data shuffle and
    # every dimension side broadcasts
    plan = plan_text(q("q110_min_cost_supplier"))
    import re

    non_broadcast = [
        line
        for line in plan.splitlines()
        if re.search(r"\(\d+\) Exchange$", line.strip())
    ]
    assert len(non_broadcast) == 1, "q110 must shuffle exactly once (on l_partkey)"
    assert "SortMergeJoin" not in plan
    assert "Window" in plan


def test_important_parts_reuses_vals_exchange(q):
    # q113 (Q11 shape): the grand-total scalar must come from the SAME
    # per-part aggregate exchange (AQE ReusedExchange), not a second
    # lineitem scan, and join against it as a one-row broadcast
    df = q("q113_important_parts")
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final, "total must reuse the per-part agg shuffle"
    assert "BroadcastNestedLoopJoin" in final or "BroadcastExchange IdentityBroadcastMode" in final


def test_shipping_modes_broadcast_and_partial(q):
    # q112 (Q12 shape): orders broadcasts; the two-row aggregate is
    # partial map-side so the exchange carries O(tasks) rows
    plan = plan_text(q("q112_shipping_modes"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_sum" in plan


def test_promotion_suppliers_semi_joins_broadcast(q):
    # q115 (Q20 shape): both nested IN subqueries plan as broadcast
    # left-semi joins; the fact never sort-merge shuffles
    plan = plan_text(q("q115_promotion_suppliers"))
    assert plan.count("LeftSemi") >= 2
    assert "SortMergeJoin" not in plan


def test_dataset_split_no_shuffle(q):
    # q116: split assignment is a pure narrow map — any Exchange or
    # Python eval means a refactor broke the zero-shuffle property
    plan = plan_text(q("q116_dataset_split"))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_corpus_shards_single_exchange(q):
    # q117: one shuffle on the shard key; the per-shard sort IS the
    # operator semantics (shards are written sorted by the hash)
    plan = plan_text(q("q117_corpus_shards"))
    assert plan.count("+- Exchange") == 1
    assert "Window" in plan


def test_repetition_filter_no_shuffle_no_python(q):
    # q118: gram generation + dedup + counting are array expressions
    # in codegen — no explode-shuffle, no Python
    plan = plan_text(q("q118_repetition_filter"))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    assert "Generate" not in plan, "repetition scoring must not explode the grams"


def test_zorder_curve_no_shuffle(q):
    # q119: the Morton value is integer arithmetic in codegen — a pure
    # projection with the quantity filter pushed to the scan
    plan = plan_text(q("q119_zorder_curve"))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    pushed = [seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]]
    assert any("l_quantity" in p for p in pushed)


def test_quality_classifier_fused_no_python(q):
    # q120: the dot product + sigmoid inference is one fused expression
    # pipeline — no UDF, no shuffle
    plan = plan_text(q("q120_quality_classifier"))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_range_join_is_equi_not_nested_loop(q):
    # q121: the interval overlap must execute as a hash join on the
    # coarse bucket (overlap predicate post-filter), never as a
    # nested-loop/cartesian theta join
    plan = plan_text(q("q121_range_join"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "bucket" in plan


def test_gap_fill_single_shuffle(q):
    # q122: one exchange on user_id; the running IGNORE-NULLS frame is
    # a single Window pass, no self-join
    plan = plan_text(q("q122_gap_fill"))
    assert plan.count("+- Exchange") == 1
    assert "Window" in plan
    assert "Join" not in plan


def test_unpivot_narrow_no_shuffle(q):
    # q123: unpivot compiles to a single Expand over the scan — a
    # narrow 1->3 expansion, no exchange, filter pushed down
    plan = plan_text(q("q123_unpivot"))
    assert "Expand" in plan
    assert "Exchange" not in plan


def test_cdc_compaction_partial_topk(q):
    # q124: rn=1 must plan as WindowGroupLimit so each mapper ships at
    # most one row per key into the single exchange
    df = q("q124_cdc_compaction")
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    assert "WindowGroupLimit" in final
    assert final.count("+- Exchange") == 1


def test_char_entropy_partial_agg_before_exchange(q):
    # q127: the (doc_id, char) histogram must partially aggregate
    # map-side so the exchange carries histogram rows, never the
    # exploded characters (a repartition barrier here once shipped one
    # row per raw character — orders of magnitude more shuffle)
    plan = plan_text(q("q127_char_entropy"))
    assert "partial_count" in plan
    first_exchange = plan.index("Exchange")
    assert "HashAggregate" in plan[:first_exchange], (
        "histogram aggregate must start before the first exchange"
    )
    assert "BatchEvalPython" not in plan


def test_temperature_sampling_broadcasts_rates(q):
    # q128: the per-source rates join back to the corpus as a
    # broadcast — the corpus is never shuffled
    plan = plan_text(q("q128_temperature_sampling"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_table_diff_single_copartitioned_join(q):
    # q131: both snapshots shuffle once on the key for the full outer
    # join; no broadcast (at scale both sides are big)
    plan = plan_text(q("q131_table_diff"))
    assert "FullOuter" in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_revenue_share_window_over_aggregate(q):
    # q132: the ratio-to-report window must run over the aggregated
    # |nations| rows (after the groupBy), never a second fact scan
    df = q("q132_revenue_share")
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    import re

    scans = re.findall(r"FileScan parquet[^\n]*lineitem", final)
    assert len(scans) == 1
    assert "Window" in final


def test_yoy_growth_broadcast_star(q):
    # q133: all three dims broadcast; the lag window runs over the
    # (nation, year) aggregate only
    plan = plan_text(q("q133_yoy_growth"))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3
    assert "Window" in plan


def test_doc_chunking_no_shuffle(q):
    # q134: chunking is map + generate only — no exchange, no Python
    plan = plan_text(q("q134_doc_chunking"))
    assert "Exchange" not in plan
    assert "Generate" in plan
    assert "BatchEvalPython" not in plan


def test_table_profile_result_is_literal(q):
    # q136: the stats aggregate is collected once; the profile rows
    # are literals — the result plan must not rescan the table (a
    # union over the agg made Catalyst re-plan the scan per branch)
    df = q("q136_table_profile")
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in final
    assert df.count() == 3


def test_daily_anomalies_scalar_broadcast(q):
    # q135: the global mean joins back as a one-row broadcast, never
    # reshuffling the daily aggregate
    plan = plan_text(q("q135_daily_anomalies"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_event_asof_single_shuffle_no_join(q):
    # q137: the as-of is a union + one forward-fill window per user —
    # no join operator, one exchange
    plan = plan_text(q("q137_event_asof"))
    assert "Join" not in plan
    assert plan.count("+- Exchange") == 1
    assert "Window" in plan


def test_weighted_sample_take_ordered(q):
    # q138: top-100-by-key must compile to TakeOrderedAndProject
    # (partial per-partition top-k, no global sort)
    plan = plan_text(q("q138_weighted_sample"))
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_crosstab_marginals_broadcast_no_rescan(q):
    # q139: row/col totals and the grand total must derive from the
    # persisted (source, lang) aggregate and broadcast back — never a
    # sort-merge join, never a second documents scan per marginal
    df = q("q139_crosstab_expected")
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    import re

    scans = re.findall(r"FileScan parquet[^\n]*documents", final)
    assert len(scans) <= 1, "marginals must reuse the obs aggregate, not rescan"
    assert "SortMergeJoin" not in final
    assert "InMemoryTableScan" in final or len(scans) == 1


def test_benford_single_aggregate(q):
    # q140: digit histogram is one partial-agg pass; the 9-row window
    # total adds a single tiny exchange
    plan = plan_text(q("q140_benford_digits"))
    assert "partial_count" in plan
    assert "SortMergeJoin" not in plan


def test_topn_with_ties_window_group_limit(q):
    # q143: rank<=3 must plan as WindowGroupLimit — each mapper ships
    # a bounded prefix per brand, not the full per-part sums
    df = q("q143_topn_with_ties")
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    assert "WindowGroupLimit" in final


def test_doc_chunks_no_shuffle(q):
    # q148 is a pure flat-map (sequence+transform+posexplode): chunks
    # inherit the scan partitioning; any Exchange means a refactor
    # introduced a shuffle into an embarrassingly parallel op
    plan = plan_text(q("q148_doc_chunks"))
    assert "Exchange" not in plan
    assert "Generate" in plan, "1 doc -> N chunks must be a generator, not a join"


def test_bigram_coherence_stats_joins_broadcast(q):
    # q149: the unigram/bigram count sides are corpus-vocabulary-sized
    # aggregates; their join back onto the (much larger) bigram stream
    # must broadcast, never sort-merge — at 100 TB a sort-merge here
    # would reshuffle the whole exploded corpus twice
    plan = plan_text(q("q149_bigram_coherence"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hll_register_aggregation_is_partial(q):
    # q150: the per-bucket MAX must partial-aggregate map-side — the
    # shuffle carries at most 4096 registers per mapper, never the raw
    # hashed rows — and the final fold is one tiny single-row aggregate
    plan = plan_text(q("q150_hll_portable"))
    assert "partial_max" in plan


def test_ivf_persisted_query_scan_is_partition_pruned(spark, tmp_path):
    # the point of the persisted IVF index: the probed cell ids must
    # land as a static PARTITION filter on the inverted-list scan (file
    # pruning — ~n_probe/n_cells of the corpus read), not a post-scan
    # predicate over all cells
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.similarity import (
        build_ivf_index,
        query_ivf_index,
    )
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "index")
    build_ivf_index(emb, path, n_cells=8, iters=2)
    out = query_ivf_index(emb.where("vec_id < 5"), path, k=10, n_probe=3)
    plan = plan_text(out)
    seg = plan.split("PartitionFilters: [")
    assert len(seg) > 1, "inverted-list scan lost its partition filter"
    assert "cell" in seg[1].split("]")[0]
    assert out.count() > 0


def test_bloom_prune_broadcast_semi_no_smj(q):
    plan = plan_text(q("q159_bloom_prune_join"))
    # the exact FP-removal semi join broadcasts the 9-key dim; the
    # bloom probe itself is a scan-stage filter, never a join
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bm25_topk_is_take_ordered(q):
    plan = plan_text(q("q160_bm25_topk"))
    # final top-k must be TakeOrderedAndProject, not a global sort
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_kmv_global_sketch_is_take_ordered(q):
    plan = plan_text(q("q161_kmv_distinct"))
    # the k-min is a per-partition heap + driver merge, not a full sort
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_pagerank_topk_over_checkpointed_rounds(q):
    # each iteration is checkpointed (plan truncation — see
    # graph.pagerank), so the visible plan is the top-k over the final
    # rank vector: TakeOrderedAndProject, no global sort, no cartesian
    plan = plan_text(q("q163_pagerank"))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_histogram_quantiles_aggregate_partial(q):
    plan = plan_text(q("q164_histogram_quantiles"))
    # the histogram build is a partial (map-side) count before the
    # exchange; the quantile walk is over the tiny bin vector
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_boilerplate_ngrams_take_ordered(q):
    plan = plan_text(q("q165_boilerplate_ngrams"))
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan


def test_hybrid_rrf_take_ordered_no_cartesian(q):
    plan = plan_text(q("q166_hybrid_rrf"))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_hard_negatives_no_corpus_shuffle(q):
    # broadcast-queries shape like q38: the corpus side must not be
    # exchanged for the scoring join
    plan = plan_text(q("q167_hard_negatives"))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filtered_ann_prefilters_with_semi_join(q):
    # the metadata predicate must prune the corpus BEFORE scoring:
    # left-semi against the allowed set, no sort-merge
    plan = plan_text(q("q170_filtered_ann"))
    assert "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_batch_padding_distributed_partial_aggs(q):
    # the registered (window-free) form of length-bucketed batching
    plan = plan_text(q("q207_batch_padding_distributed"))
    assert "partial_count" in plan or "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_corpus_drift_kl_broadcast_totals(q):
    # scalar totals must broadcast against the vocab-sized side
    plan = plan_text(q("q172_corpus_drift_kl"))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_markov_matrix_broadcast_normalization(q):
    plan = plan_text(q("q174_markov_transitions"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_journey_surprise_broadcast_model(q):
    # the transition matrix must broadcast against the event stream
    plan = plan_text(q("q175_journey_surprise"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_zipf_fit_partial_vocab_agg(q):
    plan = plan_text(q("q176_zipf_fit"))
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_pq_adc_corpus_never_shuffles(q):
    # queries broadcast against the code table; ADC is pure projection
    plan = plan_text(q("q177_pq_adc"))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ivfpq_candidates_equi_join_on_cell(q):
    # probed queries broadcast and join the code table equi on cell —
    # no full-corpus nested loop at query time
    plan = plan_text(q("q178_ivfpq"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_query_expansion_shares_token_stream(q):
    # both BM25 rounds and the expansion mining must not cartesian;
    # expansion terms join broadcast
    plan = plan_text(q("q180_query_expansion"))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_trending_brands_broadcast_dims_take_ordered(q):
    plan = plan_text(q("q181_trending_brands"))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan, "part dim must broadcast"


def test_psi_single_integer_aggregation(q):
    plan = plan_text(q("q182_psi_stability"))
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_basket_lift_inline_pairs_no_self_join(q):
    # pairs come from per-order arrays (explode), never a baskets
    # self-join; marginals and the order total broadcast
    plan = plan_text(q("q183_basket_lift"))
    assert "explode(flatten(transform" in plan
    assert "SortMergeJoin" not in plan, "brand marginals must broadcast"
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_rfm_distributed_no_window_customer_grain(q):
    # the registered RFM form is window-free; the customer grain still
    # partial-aggregates and the anchor/threshold sides broadcast
    plan = plan_text(q("q206_rfm_distributed"))
    assert "Window" not in plan
    assert "partial_count" in plan, "customer grain must partial-aggregate"
    assert "SortMergeJoin" not in plan


def test_hhi_broadcasts_part_and_totals(q):
    plan = plan_text(q("q185_hhi_concentration"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_exp_smoothing_partial_month_aggregate(q):
    plan = plan_text(q("q186_exp_smoothing"))
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_containment_equi_blocked_candidates(q):
    # candidate pairs come from an equi hash join on the prefix block
    # key — never a length-only theta join (that would nested-loop)
    plan = plan_text(q("q188_shingle_containment"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_vocab_coverage_broadcasts_vocab(q):
    # the 100-row vocabulary broadcasts onto the token stream; the
    # stream itself is never shuffled for the coverage flags
    plan = plan_text(q("q189_vocab_coverage"))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-100 vocab selection
    assert "CartesianProduct" not in plan


def test_pii_redaction_zero_shuffle_single_eval(q):
    # the scrub is one codegen pass over a 2-column pruned scan: no
    # exchange anywhere, and the 3-deep regexp_replace chain is
    # materialized once (its two consumers — length delta and md5 —
    # read the shared projection, not private copies)
    plan = plan_text(q("q191_pii_redaction"))
    assert "Exchange" not in plan
    assert "doc_id:bigint,text:string" in plan, "scan must prune to 2 columns"
    assert plan.count("regexp_replace(regexp_replace(regexp_replace") == 1


def test_repeated_spans_md5_prefix_keys_take_ordered(q):
    # the gram stream shuffles on the 16-hex md5 prefix (16 bytes per
    # gram, not the span text) and the top-100 is a partial top-k
    plan = plan_text(q("q192_repeated_spans"))
    assert "TakeOrderedAndProject" in plan
    assert "hashpartitioning(h#" in plan, "group key must be the md5 prefix"
    assert "CartesianProduct" not in plan


def test_touch_attribution_single_window_pass(q):
    # both attribution models ride one scan / one (user_id) exchange /
    # one Window computing last+first together; the union-of-two-
    # projections alternative splits into two full scans
    plan = plan_text(q("q193_touch_attribution"))
    assert plan.count("Scan parquet") == 2, (  # tree + detail line = 1 scan
        "events must be scanned once"
    )
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, (
        "last+first touch must share one Window node"
    )
    assert "partial_sum" in plan, "revenue aggregate must be partial"
    assert "windowspecdefinition(user_id#" in plan


def test_fim_transform_zero_shuffle(q):
    # the FIM rewrite is a pure per-row map: no exchange, no join —
    # the shape that scales embarrassingly at any corpus size
    plan = plan_text(q("q194_fim_transform"))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_quantile_norm_broadcast_reference(q):
    # the 101-row nearest-rank reference broadcasts onto the bucketed
    # stream; per-source windows are partitioned (distributed); no
    # cartesian anywhere (the scalar gn crossJoin is a 1-row build)
    plan = plan_text(q("q195_quantile_norm"))
    assert "BroadcastHashJoin" in plan
    assert "windowspecdefinition(source#" in plan
    assert "CartesianProduct" not in plan


def test_containment_shingles_member_restricted(q):
    # invariant (round-6 banded-candidate shape): shingle arrays are
    # computed ONLY for candidate members — every Project that builds
    # a shingle array sits directly above the left-semi member
    # restriction, never in a per-pair projection above the verify
    # join. The per-pair formulation rebuilt both arrays per candidate
    # and measured 41x at 10x data (BASELINE.md) before this was
    # pinned; the round-5 positional pin ("shingles before the first
    # join") broke when candidate generation legitimately moved to
    # MinHash bands, so the pin is now structural.
    plan = plan_text(q("q188_shingle_containment"))
    blocks = re.split(r"\n(?=\(\d+\) )", plan)
    shingle_nodes = [
        re.match(r"\((\d+)\) Project", b).group(1)
        for b in blocks
        if "transform(sequence" in b and re.match(r"\(\d+\) Project", b)
    ]
    n_shingle_exprs = sum(b.count("transform(sequence") for b in blocks)
    assert shingle_nodes, "shingle arrays must come from Project nodes"
    assert n_shingle_exprs == len(shingle_nodes), (
        "every shingle expression must live in a member-restricted "
        "Project (no per-pair rebuild elsewhere in the plan)"
    )
    tree = plan.split("\n\n")[0]
    tree_lines = tree.splitlines()
    for node in shingle_nodes:
        idx = next(
            i for i, ln in enumerate(tree_lines) if ln.endswith(f"Project ({node})")
        )
        # walk down the subtree: the shingle Project must reach the
        # left-semi member restriction through projection/width
        # plumbing only (Project/Exchange/AQEShuffleRead/Sort — the
        # explicit compute-width repartition lives here), never
        # through a pair join (which would mean per-pair rebuild)
        below = []
        for ln in tree_lines[idx + 1 : idx + 8]:
            below.append(ln)
            if "Join" in ln:
                break
        first_join = next((ln for ln in below if "Join" in ln), "")
        assert "LeftSemi" in first_join, (
            f"shingle Project ({node}) must feed off the left-semi "
            "member restriction (shingle candidate members only, once "
            f"per member); first join below was: {first_join!r}"
        )
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin) Inner", tree), (
        "containment verify must be a hash/merge join over candidates"
    )


def test_leakage_safe_split_one_fingerprint_window(q):
    # the cluster is the fingerprint equivalence class: one window
    # partitioned by the md5 fingerprint, no pair join, no graph —
    # the linear-at-any-scale split shape
    plan = plan_text(q("q196_leakage_safe_split"))
    assert "windowspecdefinition(f#" in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_span_corruption_zero_shuffle(q):
    # both rewritten streams come from higher-order functions in one
    # codegen pass — no exchange, no join (the q194 FIM sibling)
    plan = plan_text(q("q197_span_corruption"))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_ann_recall_corpus_never_shuffles(q):
    # both paths broadcast the 5-query batch onto the corpus (cross
    # for brute force, bucket-equi for LSH); WindowGroupLimit keeps
    # the per-query top-k partial, so only top-10 lists and aggregates
    # ever reach an exchange — the corpus itself is never shuffled
    plan = plan_text(q("q198_ann_recall"))
    assert "BroadcastNestedLoopJoin Cross BuildLeft" in plan  # brute side
    assert "BroadcastHashJoin" in plan  # LSH bucket side
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_ivf_delete_tombstone_filter_below_assignment(q):
    # the tombstone exclusion must be a plain candidate-side Filter
    # sitting with the scan — BELOW the O(n_cells) assignment fold —
    # so deleted rows are never scored; candidates stay map-only
    # (broadcast probe join, never a corpus shuffle-join)
    plan = plan_text(q("q224_ivf_delete"))
    # IS-NOT-TRUE form: NOT coalesce(pred, false) — NULL-evaluating
    # rows are kept, matching the persisted anti-join twin
    assert re.search(
        r"NOT coalesce\(\(\(vec_id#\d+L? % 7\) = 3\), false\)", plan
    ), "tombstone filter missing"
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # probed queries broadcast onto cells


def test_cluster_canonical_partitioned_window(q):
    # the rank window is partitioned by cluster (distributed), and the
    # candidate join is an equi hash join on the block key
    plan = plan_text(q("q187_cluster_canonical"))
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition(cluster_id" in plan, (
        "rank window must be partitioned by cluster, not global"
    )


def test_decile_thresholds_no_window(q):
    # q204 is the registered scale-safe form of global decile banding:
    # the entire point is that exact percentile banding runs with NO
    # window function — a refactor that sneaks a Window (or a
    # cartesian) back in silently reintroduces the single-partition
    # funnel the query exists to eliminate
    plan = plan_text(q("q204_decile_thresholds"))
    assert "Window" not in plan, "q204 must stay window-free (that's its contract)"
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, (
        "q204's self-joins are domain-bounded and must broadcast"
    )


def test_rfm_distributed_no_window(q):
    # q206: the COMPLETE RFM grid on the quantiles operator — three
    # banded measures and still zero window functions / cartesians in
    # the plan (q204's contract, composed)
    plan = plan_text(q("q206_rfm_distributed"))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_batch_padding_distributed_no_window(q):
    # q207 is the registered window-free form of length-bucketed
    # batching: the NTILE + per-bucket row_number pipeline re-derived
    # as interval arithmetic over the bounded token-count histogram.
    # Its contract is zero window functions and broadcast-only joins —
    # a refactor that reintroduces either brings back the
    # single-partition funnel the query exists to eliminate
    plan = plan_text(q("q207_batch_padding_distributed"))
    assert "Window" not in plan, "q207 must stay window-free (that's its contract)"
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, (
        "q207's histogram joins are domain-bounded and must broadcast"
    )


def test_exp_smoothing_no_window(q):
    # q186's ranks ride the sorted collect_list (transform index
    # lambda), so even the bounded month table needs no WindowExec
    plan = plan_text(q("q186_exp_smoothing"))
    assert "Window" not in plan


def test_quantile_norm_no_global_window(q):
    # q195's global nearest-rank reference values come from the
    # histogram-refinement operator; the ONLY windows left are the
    # per-source ranks (partitioned). An unpartitioned window over
    # documents would funnel the corpus through one task.
    plan = plan_text(q("q195_quantile_norm"))
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "windowspecdefinition(source#" in line, (
                "q195 must not carry an unpartitioned (global) window:\n" + line
            )


def test_signature_stream_not_scan_stage_bound(q):
    # the round-7 lesson: Spark's partition sizers are byte-based
    # (maxPartitionBytes for scans, AQE coalescing for shuffles), so a
    # compute-dense stage over a small byte stream serializes unless an
    # EXPLICIT width is pinned. The minhash signature pipeline carries a
    # repartition of the (doc, lowered-text) projection before the
    # per-shingle hash explode — this pin fails if a refactor drops it
    # and the whole md5/xxhash stream silently collapses back into the
    # one-split scan stage (measured: 46 s single-task at sf1.0).
    plan = plan_text(q("q35_minhash_lsh"))
    assert "REPARTITION_BY_NUM" in plan, (
        "minhash_signatures must pin an explicit compute width "
        "(repartition with numPartitions) below the shingle explode"
    )


def test_near_dup_self_join_has_pinned_width(q):
    # embedding_near_dup_pairs: both sides of the bucket self-join are
    # explicitly repartitioned — AQE coalesced the ~10 MB shuffle to
    # one partition and ran the O(bucket^2) interpreted cosine folds
    # serially (36.7 s -> 5.2 s at sf1.0 when pinned)
    plan = plan_text(q("q40_embedding_near_dup"))
    assert "REPARTITION_BY_NUM" in plan
    assert "CartesianProduct" not in plan


def test_jaccard_verify_shingles_outside_lambda_lower(q):
    # ngram_jaccard_pairs projects the lowered text BEFORE the shingle
    # transform; inlining lower(text) in the lambda re-evaluates the
    # full-document lowercase once per shingle (O(len^2) per doc,
    # 49.3 s vs ~2 s over a 35k-doc member set). The pin: no shingle
    # transform block may contain a lower( call — the lambda must
    # substring a pre-lowered attribute.
    plan = plan_text(q("q202_source_overlap"))
    blocks = [b for b in re.split(r"\n(?=\(\d+\) )", plan) if "transform(sequence" in b]
    assert blocks, "expected shingle transforms in the q202 plan"
    for b in blocks:
        seg = b[b.index("transform(sequence"):]
        assert "lower(" not in seg.split("\n")[0], (
            "shingle lambda must substring a pre-lowered column, not "
            "re-evaluate lower(text) per element"
        )


# ---------------------------------------------------------------------
# Registry-wide unpartitioned-window audit. An unpartitioned window is
# Spark's single-partition funnel — every input row through ONE task —
# so each one in the registry must be a conscious, documented decision.
# The only legitimate class left is windows whose INPUT is bounded by
# construction (bin vectors, top-k lists, per-partition count tables),
# where the funnel holds a few hundred rows at any corpus size —
# corpus-scale global-ntile contracts are no longer registered (their
# scale-safe devices q204/q206/q207 are). A new query sneaking a
# corpus-scale global window in must show up here and be either fixed
# or rebuilt on the window-free devices.
# ---------------------------------------------------------------------

UNPARTITIONED_WINDOW_CARRIERS = {
    # INPUT-BOUNDED windows only. The corpus-scale global-ntile
    # contracts that used to live here (q94/q171/q184) are no longer
    # registered queries: their scale-safe devices (q204/q207/q206)
    # are the registered defaults.
    "q97_dense_ids": "prefix sum over the #partitions-row counts table",
    "q164_histogram_quantiles": "quantile walk over the ~120-row bin vector",
    "q166_hybrid_rrf": "rank fusion over two bounded top-k lists",
    "q140_benford_digits": "shares over the 9 leading-digit rows",
    "q176_zipf_fit": "rank over the vocabulary table (vocab-bounded)",
    "q91_top_supplier": "scalar MAX window over the small aggregate",
    "q200_ivf_occupancy": "shares/skew over the n_cells-row cell table",
    "q223_ivf_cell_split": "hot predicate + post-split shares/skew over "
    "the n_cells-row occupancy table and the <= 2 x n_cells split table",
    "q225_tombstone_debt": "index-wide share/affected-frac/trigger over "
    "the n_cells-row debt table (the q200 device)",
    "q227_ivf2_occupancy": "shares/skew over the <= n_cells-row member-"
    "cell table (the q200 device on the two-level routing)",
}


# Arrow/Python evaluation is the slow path; it is the DESIGN only where
# the work is inherently Python (media codecs) and in the one documented
# escape hatch (the grouped as-of join). Anything else in Python is a
# hot-path regression.
PYTHON_EVAL_CARRIERS = {
    "q45_media_features": "Arrow mapInPandas media feature extraction (codec work is Python by nature)",
    "q70_frame_sample": "Arrow mapInPandas frame sampling",
    "q71_media_resize": "Arrow mapInPandas payload resize",
    "q217_ppm_decode": "Arrow mapInPandas PPM render + REAL pure-Python P6 decode",
    "q218_wav_decode": "Arrow mapInPandas WAV render + REAL pure-Python RIFF/PCM decode",
    "q219_ppm_frame_sample": "Arrow mapInPandas P6-stream render + REAL frame-boundary parsing",
    "q222_multimodal_curation": "Arrow mapInPandas real P6 decode feeding the text+image curation join",
    "q61_asof_grouped": "cogroup applyInPandas merge_asof: operators/asof.py's big-dimension escape hatch",
}

def _plan_census_tool():
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "plan_census.py")
    spec = importlib.util.spec_from_file_location("plan_census", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


census_tool = _plan_census_tool()


@pytest.fixture(scope="module")
def registry_walk(spark):
    """One walk over every registered query (``tools/plan_census.py``):
    ``(census, output dtypes)`` by name — shared by the registry-wide
    audits below (the walk dominates their cost)."""
    return census_tool.walk(spark)


@pytest.fixture(scope="module")
def registry_census(registry_walk):
    return registry_walk[0]


def test_plan_census_matches_checked_in(registry_census):
    """Every registered query's node counts and build actions equal the
    checked-in ``PLAN_CENSUS.json``. A plan-affecting change
    regenerates the file (``python tools/plan_census.py``) and commits
    it with the change, so the plan change shows up in review."""
    changes = census_tool.diff(census_tool.load(), registry_census)
    assert not changes, (
        "physical plans differ from PLAN_CENSUS.json — if intended, run "
        "python tools/plan_census.py and commit the file:\n" + "\n".join(changes)
    )


def test_no_registered_query_terminates_in_decimal(registry_walk):
    """Terminal decimal columns are a cross-engine hash hazard: the
    engines agree on values but stringify trailing-zero decimals
    differently, so whether a query's hash matches depends on whether
    the data happens to land on a .x0 boundary. Every registered query
    must canonicalize decimal outputs to DOUBLE at the very end of the
    plan (decimal math inside the plan is encouraged — it is exact and
    order-independent). A new query tripping this: add its terminal
    decimal columns to queries._CANONICAL_DOUBLE."""
    offenders = {}
    for name, dtypes in registry_walk[1].items():
        decs = [c for c, t in dtypes if t.startswith("decimal")]
        if decs:
            offenders[name] = decs
    assert not offenders, f"decimal terminal columns: {offenders}"


def test_registry_unpartitioned_windows_are_allowlisted(registry_census):
    offenders, stale = [], []
    for name, counts in registry_census.items():
        n = counts.get(census_tool.UNPARTITIONED_WINDOW, 0)
        if n and name not in UNPARTITIONED_WINDOW_CARRIERS:
            offenders.append(f"{name}: {n} unpartitioned window(s)")
        if not n and name in UNPARTITIONED_WINDOW_CARRIERS:
            stale.append(name)
    assert not offenders, (
        "unpartitioned (single-partition) windows outside the allowlist — "
        "either route through the window-free twins (quantiles.py / q207's "
        "interval device) or allowlist WITH a boundedness reason:\n"
        + "\n".join(offenders)
    )
    assert not stale, f"allowlist entries no longer carrying a window: {stale}"


def test_registry_has_zero_cartesian_products(registry_census):
    # a CartesianProduct is |left| x |right| work AND memory with no
    # key to partition on — there is no corpus size at which one is
    # acceptable in this registry (bounded scalar cross joins plan as
    # BroadcastNestedLoopJoin, which is allowed)
    offenders = [n for n, c in registry_census.items() if c.get("CartesianProduct")]
    assert not offenders, f"CartesianProduct in: {offenders}"


def test_registry_python_eval_only_in_media_queries(registry_census):
    offenders, stale = [], []
    for name, counts in registry_census.items():
        nodes = [nd for nd in census_tool.PY_NODES if counts.get(nd)]
        if nodes and name not in PYTHON_EVAL_CARRIERS:
            offenders.append(f"{name}: {nodes}")
        if not nodes and name in PYTHON_EVAL_CARRIERS:
            stale.append(name)
    assert not offenders, (
        "Python/Arrow evaluation outside the media allowlist — rewrite "
        "with built-in Column expressions (the JVM path):\n" + "\n".join(offenders)
    )
    assert not stale, f"allowlist entries no longer using Python eval: {stale}"


def test_ivf2_persisted_query_scan_is_partition_pruned(spark, tmp_path):
    # q220: the two-level persisted index must keep q156's pruning
    # contract — the probed member-cell ids land as a static PARTITION
    # filter on the hierarchical inverted-list scan — and the persisted
    # result must equal the in-plan cosine_topk_ivf2 with identical
    # parameters (the parquet round trip is value-exact: same c_vec,
    # same precomputed cn, shared probe/score devices).
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.similarity import (
        build_ivf2_index,
        cosine_topk_ivf2,
        query_ivf_index,
    )
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "index2")
    build_ivf2_index(emb, path, n_cells=32, iters=2, train_where="vec_id % 16 = 0")
    qs = emb.where("vec_id < 5")
    out = query_ivf_index(qs, path, k=10, n_probe=3, n_super_probe=2)
    plan = plan_text(out)
    seg = plan.split("PartitionFilters: [")
    assert len(seg) > 1, "hierarchical inverted-list scan lost its partition filter"
    assert "cell" in seg[1].split("]")[0]
    inplan = cosine_topk_ivf2(
        emb, qs, k=10, n_cells=32, n_probe=3, n_super_probe=2,
        train_where="vec_id % 16 = 0",
    )
    key = lambda r: (r["query_id"], r["rank"], r["neighbor_id"], r["score"])
    assert sorted(map(key, out.collect())) == sorted(map(key, inplan.collect()))
