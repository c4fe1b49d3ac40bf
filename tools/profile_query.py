"""Per-query empirical profiler (optimization-round instrumentation).

Runs named registry queries exactly the way bench.py does (noop sink,
same session configs) but with the Spark UI enabled, then pulls the
REST API (/api/v1) for per-job and per-stage metrics: executor run
time, shuffle read/write bytes, task counts. This answers the guide
§1 question — WHERE does the wall go (scan, exchange, Python, driver
gaps) — without changing the benched code path.

    python tools/profile_query.py q01_pricing_summary q23_star_weekday
    python tools/profile_query.py --sf /root/testdata/sf0.1 --reps 3 q199_ivf_incremental

Per query it prints: wall seconds, job count, stage count, total
executor-run seconds (sum over tasks), and the top stages by run time
with their shuffle volumes — plus the "driver gap" = wall - max
concurrent stage span, the share no stage accounts for (driver-side
planning, py4j round trips, job-submission latency).
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.session import (
    default_parallelism,
)


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def _ts(v) -> float | None:
    """Epoch seconds of a REST API timestamp (``2026-10-17T01:25:27.123GMT``),
    milliseconds included: stages and driver gaps are often shorter than
    a second. None for a missing value."""
    if not isinstance(v, str):
        return None
    return datetime.datetime.strptime(v.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def build_spark():
    # same configs as session.get_spark, but UI on for the REST API
    from pyspark.sql import SparkSession

    n = default_parallelism()
    b = (
        SparkSession.builder.appName("profile")
        .master(f"local[{n}]")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4055")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    extra = os.environ.get("SPARK_GRAFT_PROFILE_CONF", "")
    for kv in filter(None, extra.split(";")):
        k, v = kv.split("=", 1)
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--top", type=int, default=8)
    args = ap.parse_args()

    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.queries import (
        registry,
        release_persisted,
    )

    spark = build_spark()
    reg = registry()
    base = "http://localhost:4055/api/v1"
    app_id = spark.sparkContext.applicationId

    # warm exactly like bench.py
    for warm in ("q01_pricing_summary", "q23_star_weekday"):
        reg[warm].fn(spark, "/root/testdata/sf0.001").write.mode("overwrite").format("noop").save()

    for name in args.names:
        for rep in range(args.reps):
            jobs_before = {j["jobId"] for j in _get(f"{base}/applications/{app_id}/jobs")}
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.time()
            reg[name].fn(spark, args.sf).write.mode("overwrite").format("noop").save()
            wall = time.time() - t0
            spark.sparkContext.setJobDescription(None)
            release_persisted()

            jobs = [
                j
                for j in _get(f"{base}/applications/{app_id}/jobs")
                if j["jobId"] not in jobs_before
            ]
            stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
            stages = []
            for sid in stage_ids:
                try:
                    for att in _get(f"{base}/applications/{app_id}/stages/{sid}"):
                        stages.append(att)
                except Exception:
                    pass
            run_s = sum(s.get("executorRunTime", 0) for s in stages) / 1000.0
            cpu_s = sum(s.get("executorCpuTime", 0) for s in stages) / 1e9
            sread = sum(s.get("shuffleReadBytes", 0) for s in stages)
            swrite = sum(s.get("shuffleWriteBytes", 0) for s in stages)
            inp = sum(s.get("inputBytes", 0) for s in stages)
            ntasks = sum(s.get("numCompleteTasks", 0) for s in stages)
            # stage-covered wall: union of [firstTaskLaunchedTime, completionTime]
            spans = []
            for s in stages:
                a, b = _ts(s.get("firstTaskLaunchedTime")), _ts(s.get("completionTime"))
                if a is not None and b is not None and b >= a:
                    spans.append((a, b))
            covered = 0.0
            cur_end = None
            for a, b in sorted(spans):
                if cur_end is None or a > cur_end:
                    covered += b - a
                    cur_end = b
                elif b > cur_end:
                    covered += b - cur_end
                    cur_end = b

            print(
                f"\n=== {name} rep{rep} wall={wall:.3f}s jobs={len(jobs)} "
                f"stages={len(stages)} tasks={ntasks} execRun={run_s:.2f}s "
                f"execCpu={cpu_s:.2f}s stageSpan~{covered:.2f}s "
                f"driverGap~{max(0.0, wall - covered):.2f}s"
            )
            print(
                f"    input={inp/1e6:.1f}MB shufRead={sread/1e6:.2f}MB shufWrite={swrite/1e6:.2f}MB"
            )
            top = sorted(stages, key=lambda s: -s.get("executorRunTime", 0))[: args.top]
            for s in top:
                nm = (s.get("description") or s.get("name") or "")[:90]
                print(
                    f"    stage {s['stageId']:>4} run={s.get('executorRunTime',0)/1000.0:7.2f}s "
                    f"tasks={s.get('numCompleteTasks',0):>3} "
                    f"in={s.get('inputBytes',0)/1e6:7.1f}MB "
                    f"sr={s.get('shuffleReadBytes',0)/1e6:6.2f}MB "
                    f"sw={s.get('shuffleWriteBytes',0)/1e6:6.2f}MB  {nm}"
                )
    spark.stop()


if __name__ == "__main__":
    main()
