"""Metric and query-set definitions shared by the benchmark's modules
and its tests (importing this module starts no Spark)."""

from __future__ import annotations

WORKLOAD_NAMES = ("etl_full", "etl_incremental", "dashboard", "curation")

DASHBOARD_VISUALS = (
    "q01_pricing_summary", "q09_topn_parts", "q16_count_distinct", "q23_star_weekday",
    "q24_star_month", "q25_topn_vendors", "q26_rollup_geo", "q27_kpi_totals",
    "q28_season", "q53_running_total", "q80_local_supplier_volume", "revenue_by_weekday",
)
CURATION_QUERIES = (
    "q35_minhash_lsh", "q187_cluster_canonical", "q190_semantic_dedup",
    "q199_ivf_incremental", "q212_hierarchical_ivf",
)

# Per-layer metrics: unit, better, the end-to-end metric each should
# move, and the workloads where it should move it. BENCHMARK.json lists
# the same names; perfbench/test_benchmark.py keeps the two in step.
PER_LAYER = {
    "session.get_spark_s": ("s", "lower", "setup_s", "etl_full etl_incremental dashboard curation"),
    "plans.build_s": ("s", "lower", "op_p50_s", "dashboard curation"),
    "plans.build_py4j_calls": ("count", "lower", "op_p50_s", "dashboard"),
    "plans.build_jobs": ("count", "lower", "run_s", "curation dashboard"),
    "spark.catalyst_analyze_ms": ("ms", "lower", "op_p50_s", "dashboard"),
    "spark.catalyst_optimize_ms": ("ms", "lower", "op_p50_s", "dashboard"),
    "spark.catalyst_plan_ms": ("ms", "lower", "op_p50_s", "dashboard"),
    "spark.jobs": ("count", "lower", "op_p50_s", "dashboard etl_incremental"),
    "spark.stages": ("count", "lower", "op_p50_s", "dashboard etl_incremental"),
    "spark.tasks": ("count", "lower", "op_p50_s", "dashboard etl_incremental"),
    "spark.driver_gap_s": ("s", "lower", "op_p50_s", "etl_incremental dashboard"),
    "spark.exec_run_s": ("s", "lower", "run_s", "etl_full curation dashboard"),
    "spark.exec_cpu_s": ("s", "lower", "run_s", "etl_full curation dashboard"),
    "spark.gc_s": ("s", "lower", "run_s", "etl_full curation dashboard"),
    "spark.shuffle_write_mb": ("MB", "lower", "run_s", "etl_full curation dashboard"),
    "spark.shuffle_read_mb": ("MB", "lower", "run_s", "etl_full curation dashboard"),
    "spark.spill_mb": ("MB", "lower", "run_s", "etl_full curation dashboard"),
    "sources.input_mb": ("MB", "lower", "op_p50_s", "dashboard"),
    "sources.input_rows": ("count", "lower", "op_p50_s", "dashboard"),
    "sources.bytes_written": ("bytes", "lower", "stored_bytes_ratio", "etl_full etl_incremental"),
    "sources.files_written": ("count", "lower", "stored_bytes_ratio", "etl_full etl_incremental"),
    "sources.target_files": ("count", "lower", "stored_bytes_ratio", "etl_full etl_incremental"),
    "plans.pipeline.build_star_warehouse_s": ("s", "lower", "run_s", "etl_full"),
    "operators.scd.create_s": ("s", "lower", "run_s", "etl_full"),
    "streaming.incremental.load_s": ("s", "lower", "op_p50_s", "etl_incremental"),
    "streaming.incremental.rows_read_per_row_appended": ("ratio", "lower", "op_p50_s", "etl_incremental"),
    "streaming.scd_stream.drain_s": ("s", "lower", "op_p50_s", "etl_incremental"),
    "operators.scd.rows_written_per_changed_row": ("ratio", "lower", "run_s", "etl_incremental"),
    "trace.overhead_s": ("s", "lower", "run_s", "etl_full etl_incremental dashboard curation"),
}
QUERY_WALLS = DASHBOARD_VISUALS + CURATION_QUERIES
for _q in DASHBOARD_VISUALS:
    PER_LAYER[f"query.{_q}.wall_s"] = ("s", "lower", "op_p90_s", "dashboard")
for _q in CURATION_QUERIES:
    PER_LAYER[f"query.{_q}.wall_s"] = ("s", "lower", "op_p90_s", "curation")
