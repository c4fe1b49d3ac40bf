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
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from spans import Tracer, read_event_log, spark_counters  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", action="append", help="scale-factor directory; repeatable")
    ap.add_argument("--reps", type=int, default=1)
    args = ap.parse_args()
    sfs = args.sf or [os.environ.get("SPARK_GRAFT_SF_DIR")]
    if sfs == [None]:
        ap.error("give --sf or set SPARK_GRAFT_SF_DIR")

    from pyspark import SparkContext

    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark import get_spark
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.queries import (
        clear_plan_memo,
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
