"""Per-query profiler: where does a registry query's wall go?

Runs named registry queries on the package's ``get_spark`` session,
materialized the way bench.py does (noop sink), with the benchmark's
tracer (``perfbench/spans.py``) on: one span per query run, Spark's
event log for the session, py4j round trips counted. Per run it prints
the wall, py4j calls, job/stage/task counts, executor run and CPU
time, input, shuffle and spill volumes, and the driver gap: wall minus
the union of the run's stage intervals, the share no stage accounts for
(plan building, py4j round trips, job-submission latency).

``--sf`` may repeat, smallest scale first (default: the one directory
in ``SPARK_GRAFT_SF_DIR``). Each query ends with its median wall per
scale factor and the ratio between consecutive scale factors (how the
wall grows per step of data).

    SPARK_GRAFT_SF_DIR=.localdata/sf1.0 python tools/profile_query.py q01_pricing_summary q23_star_weekday
    python tools/profile_query.py --sf /root/testdata/sf0.1 --reps 3 q199_ivf_incremental
    python tools/profile_query.py --reps 3 --sf .localdata/sf1.0 --sf .localdata/sf10 q217_ppm_decode

``--page`` profiles a dashboard refresh instead: it builds the
warehouse as the benchmark's ``dashboard`` set-up does, then runs the
page's visuals (``perfbench/metrics.DASHBOARD_VISUALS``) in order twice
on one session, the cold page and then the warm page. Per visual and
page it prints the build and collect walls, the Spark jobs submitted,
the build's py4j round trips (py4j's memory-delete commands left out:
when they fire depends on Python's garbage collector) and the classes
Spark's code generator compiled, with their compile milliseconds:

    python tools/profile_query.py --page --sf /root/testdata/sf0.01
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from metrics import DASHBOARD_VISUALS  # noqa: E402
from spans import Tracer, read_event_log, spark_counters  # noqa: E402


def _page(sf_dir: str) -> None:
    """The cold and the warm dashboard page over a warehouse built from
    ``sf_dir``: one row per visual and page."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark import get_spark
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans import pipeline
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.queries import (
        registry,
        release_persisted,
    )
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.session import (
        gateway_calls,
        jobs_submitted,
    )

    reg = registry()
    spark = get_spark("profile-page")
    codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    with tempfile.TemporaryDirectory(prefix="profile-page-") as out:
        paths = pipeline.build_star_warehouse(spark, sf_dir, os.path.join(out, "warehouse"))

        def build(name):
            if name == "revenue_by_weekday":
                return pipeline.revenue_by_weekday(pipeline.read_warehouse(spark, paths))
            return reg[name].fn(spark, sf_dir)

        print(f"{'page':5} {'visual':28} {'build_s':>8} {'collect_s':>9} {'jobs':>4} {'py4j':>5} "
              f"{'compiles':>8} {'compile_ms':>10}")
        for page in ("cold", "warm"):
            for name in DASHBOARD_VISUALS:
                jobs, n_compiled, compile_ns = jobs_submitted(spark), compiles.getCount(), codegen.compileTime()
                t0 = time.perf_counter()
                with gateway_calls(spark) as calls:
                    df = build(name)
                t1 = time.perf_counter()
                df.collect()
                t2 = time.perf_counter()
                print(f"{page:5} {name:28} {t1 - t0:8.3f} {t2 - t1:9.3f} {jobs_submitted(spark) - jobs:4d} "
                      f"{calls[0]:5d} {compiles.getCount() - n_compiled:8d} "
                      f"{(codegen.compileTime() - compile_ns) / 1e6:10.1f}")
                release_persisted()
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", action="append", help="scale-factor directory; repeatable")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--page", action="store_true", help="profile the cold and the warm dashboard page")
    args = ap.parse_args()
    sfs = args.sf or [os.environ.get("SPARK_GRAFT_SF_DIR")]
    if sfs == [None]:
        ap.error("give --sf or set SPARK_GRAFT_SF_DIR")
    if args.page:
        for sf in sfs:
            _page(sf)
        return
    if not args.names:
        ap.error("name the queries to profile, or give --page")

    from pyspark import SparkContext

    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark import get_spark
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.memo import clear_plan_memo
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.queries import (
        registry,
        release_persisted,
    )

    reg = registry()
    tracer = Tracer(True)
    with tempfile.TemporaryDirectory(prefix="profile-eventlog-") as log_dir:
        SparkContext._ensure_initialized()
        tracer.enable_event_log(SparkContext._jvm, log_dir)
        spark = get_spark("profile")
        tracer.disable_event_log(SparkContext._jvm)
        tracer.attach(spark)

        # warm exactly like bench.py, outside any span
        for warm in ("q01_pricing_summary", "q23_star_weekday"):
            reg[warm].fn(spark, "/root/testdata/sf0.001").write.mode("overwrite").format("noop").save()

        for name in args.names:
            for sf in sfs:
                for rep in range(args.reps):
                    clear_plan_memo()  # each rep profiles a fresh build
                    with tracer.span(name, rep=rep, sf=sf):
                        reg[name].fn(spark, sf).write.mode("overwrite").format("noop").save()
                    release_persisted()
        spark.stop()
        log = read_event_log(log_dir)

    for sp in tracer.spans:
        c = spark_counters(log, sp)
        print(
            f"{sp.name} rep{sp.attrs['rep']} sf={sp.attrs['sf']} wall={sp.wall_s:.3f}s "
            f"py4j={sp.py4j_calls} "
            f"jobs={c['spark.jobs']:.0f} stages={c['spark.stages']:.0f} tasks={c['spark.tasks']:.0f} "
            f"execRun={c['spark.exec_run_s']:.2f}s execCpu={c['spark.exec_cpu_s']:.2f}s "
            f"input={c['sources.input_mb']:.2f}MB shufRead={c['spark.shuffle_read_mb']:.2f}MB "
            f"shufWrite={c['spark.shuffle_write_mb']:.2f}MB spill={c['spark.spill_mb']:.2f}MB "
            f"driverGap={c['spark.driver_gap_s']:.2f}s"
        )
    for name in args.names:
        medians = [
            statistics.median(
                sp.wall_s for sp in tracer.spans if sp.name == name and sp.attrs["sf"] == sf
            )
            for sf in sfs
        ]
        walls = " ".join(f"{sf}={m:.3f}s" for sf, m in zip(sfs, medians))
        steps = ", ".join(f"{b / a:.2f}x" for a, b in zip(medians, medians[1:]))
        print(f"{name} median wall {walls}" + (f"; per step {steps}" if steps else ""))

if __name__ == "__main__":
    main()
