"""Warehouse benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run stages the workload's inputs
from the seed under ``.perfbench/`` (generated locally, nothing is
downloaded), sets the program up ``N_SETUPS`` times (``get_spark`` and
the workload's own set-up; the first also launches the JVM), runs the
workload's untimed warm-up, then repeats the workload's unit of work
until ``--seconds`` have passed (at least ``MIN_UNITS`` times), checking
every operation's output against DuckDB.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` first runs
the measurement on a session with Spark's event log on and py4j round
trips counted, then the untraced one as its control, and prints the
per-layer metrics. A run
record with box state, staged input sizes, every unit and operation
and, for traced runs, the per-operation layer record is written to
``.perfbench/records/``. The last stdout line is the result:

    {"correct": true, "attempted": 36, "failed": 0, "metrics": {...}}
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

from metrics import PER_LAYER, QUERY_WALLS, WORKLOAD_NAMES
from spans import Tracer, dir_bytes, read_event_log, spark_counters

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
N_SETUPS = 2  # one cold (JVM launch and first-use JIT), one warm
MIN_UNITS = 2  # timed units of an untraced run, for medians over more than one


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else xs[0]


def _isolate(work: str) -> None:
    """Keep every file Python, Spark and the JVM write inside ``work``
    (the checkout), and size Spark to this box."""
    py_tmp, jvm_tmp = os.path.join(work, "tmp"), os.path.join(work, "jvm-tmp")
    os.makedirs(py_tmp)
    os.makedirs(jvm_tmp)
    os.environ["TMPDIR"] = py_tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # one core is left to the JVM's JIT and GC threads and the Python
    # driver, so that a run measures the program, not the scheduler
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, nproc() - 1))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    java_opts = f"-Djava.io.tmpdir={jvm_tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


class Bench:
    def __init__(self, args, work: str):
        from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark import get_spark
        from workloads import WORKLOADS

        self.args = args
        self.get_spark = get_spark
        self.wl = WORKLOADS[args.workload](os.path.join(work, "wl"), args.seed, args.sf)
        self.spark = None

    def session(self, tracer) -> float:
        """(Re)start the session; returns get_spark's wall."""
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = self.get_spark(f"perfbench-{self.wl.name}")
        wall = time.perf_counter() - t0
        if tracer.enabled:
            tracer.attach(self.spark)
        return wall

    def setup(self, tracer) -> dict:
        t0 = time.perf_counter()
        get_spark_s = self.session(tracer)
        self.wl.setup(self.spark)
        return {"setup_s": time.perf_counter() - t0, "get_spark_s": get_spark_s}

    def measure(self, tracer, min_units: int) -> list[dict]:
        """Repeat the unit until ``--seconds`` have passed, at least
        ``min_units`` times."""
        units = []
        deadline = time.perf_counter() + self.args.seconds
        while len(units) < min_units or time.perf_counter() < deadline:
            t_epoch = time.time()
            with tracer.span("run") as run:
                ops = self.wl.unit(self.spark, tracer)
            out = self.wl.outputs()
            units.append({
                "span": run, "ops": ops,
                "files_written": dir_bytes(*out, since=t_epoch)[1],
                "target_files": dir_bytes(*out)[1],
            })
        return units


def layer_metrics(tracer, units: list[dict], log: dict) -> tuple[dict, list[dict]]:
    """Per-layer metrics of the traced units, and one record per op."""
    idx = {id(s): i for i, s in enumerate(tracer.spans)}
    per_op: list[dict] = []
    per_run: list[dict] = []
    for u in units:
        run_c = spark_counters(log, u["span"])
        r = {k: run_c[k] for k in (
            "spark.exec_run_s", "spark.exec_cpu_s", "spark.gc_s", "spark.shuffle_write_mb",
            "spark.shuffle_read_mb", "spark.spill_mb", "sources.bytes_written")}
        r["sources.files_written"] = u["files_written"]
        r["sources.target_files"] = u["target_files"]
        r["plans.build_jobs"] = 0.0
        r["plans.pipeline.build_star_warehouse_s"] = 0.0
        r["operators.scd.create_s"] = 0.0
        written = changed = 0
        for op in u["ops"]:
            op_i = idx[id(op.span)]
            c = spark_counters(log, op.span)
            rec = {"op": op.name, "wall_s": op.span.wall_s, "ok": op.ok,
                   **{k: c[k] for k in ("spark.jobs", "spark.stages", "spark.tasks", "spark.driver_gap_s",
                                        "sources.input_mb", "sources.input_rows")}}
            for sp in tracer.children(op_i, "plans.build"):
                rec["plans.build_s"] = sp.wall_s
                rec["plans.build_py4j_calls"] = float(sp.py4j_calls)
                rec["plans.build_jobs"] = spark_counters(log, sp)["spark.jobs"]
                r["plans.build_jobs"] += rec["plans.build_jobs"]
            for key, ms in op.span.attrs.get("catalyst_ms", {}).items():
                rec[f"spark.catalyst_{key}_ms"] = ms
            for sp in tracer.children(op_i, "streaming.incremental.load"):
                rec["streaming.incremental.load_s"] = sp.wall_s
                rows_read = spark_counters(log, sp)["sources.input_rows"]
                rec["streaming.incremental.rows_read_per_row_appended"] = rows_read / max(
                    sp.attrs.get("rows_appended", 0), 1)
            for sp in tracer.children(op_i, "streaming.scd_stream.drain"):
                rec["streaming.scd_stream.drain_s"] = sp.wall_s
            for sp in tracer.children(op_i, "plans.pipeline.build_star_warehouse"):
                r["plans.pipeline.build_star_warehouse_s"] += sp.wall_s
            for sp in tracer.children(op_i, "operators.scd.create"):
                r["operators.scd.create_s"] += sp.wall_s
            written += op.span.attrs.get("scd_rows_written", 0)
            changed += op.span.attrs.get("scd_rows_changed", 0)
            per_op.append(rec)
        r["operators.scd.rows_written_per_changed_row"] = written / max(changed, 1) if written else 0.0
        per_run.append(r)

    metrics = dict.fromkeys(PER_LAYER, 0.0)
    for key in metrics:
        vals = [r[key] for r in per_run if key in r] or [o[key] for o in per_op if key in o]
        if vals:
            metrics[key] = statistics.median(vals)
    for name in QUERY_WALLS:
        walls = [o["wall_s"] for o in per_op if o["op"] == name]
        metrics[f"query.{name}.wall_s"] = statistics.median(walls) if walls else 0.0
    return metrics, per_op


def run(args, work: str) -> dict:
    import pyspark

    sys.path.insert(0, ROOT)
    import bench
    from pyspark import SparkContext

    box = {"nproc": nproc(), "python": platform.python_version(), "pyspark": pyspark.__version__,
           "load_proxy_before": bench._load_proxy_sample(), "io_proxy_before": bench._io_proxy_sample()}
    b = Bench(args, work)
    t0 = time.perf_counter()
    staged = b.wl.stage()
    staged["stage_s"] = time.perf_counter() - t0
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")  # reset this process's peak RSS: staging is the benchmark's cost

    plain = Tracer(False)
    setups = [b.setup(plain) for _ in range(N_SETUPS)]
    # the workload's untimed warm-up, so the timed units do not pay JIT
    # and first-use costs that a long-running deployment pays once
    t0 = time.perf_counter()
    warmup_ops = b.wl.warmup(b.spark, plain)
    warmup_s = time.perf_counter() - t0

    traced_units, layers, per_op = [], None, []
    if args.trace:
        tracer = Tracer(True)
        log_dir = os.path.join(work, "eventlog")
        tracer.enable_event_log(SparkContext._jvm, log_dir)
        b.session(tracer)
        tracer.disable_event_log(SparkContext._jvm)
        traced_units = b.measure(tracer, 1)
        # the untraced control units, on a fresh untraced session
        b.session(plain)
    units = b.measure(plain, 1 if args.trace else MIN_UNITS)
    stored_ratio = dir_bytes(*b.wl.outputs())[0] / b.wl.input_bytes()
    all_ops = warmup_ops + [op for u in traced_units + units for op in u["ops"]]
    rss = {"python": _vm_hwm_mb("self"), "jvm": _vm_hwm_mb(SparkContext._gateway.proc.pid)}
    b.spark.stop()
    if args.trace:
        layers, per_op = layer_metrics(tracer, traced_units, read_event_log(log_dir))
        layers["session.get_spark_s"] = statistics.median(s["get_spark_s"] for s in setups)
        layers["trace.overhead_s"] = (statistics.median(u["span"].wall_s for u in traced_units)
                                      - statistics.median(u["span"].wall_s for u in units))
    _stop_jvm()
    box.update(load_proxy_after=bench._load_proxy_sample(), io_proxy_after=bench._io_proxy_sample())

    op_walls = [op.span.wall_s for u in units for op in u["ops"]]
    e2e = {
        "setup_s": statistics.median(s["setup_s"] for s in setups),
        "run_s": statistics.median(u["span"].wall_s for u in units),
        "op_p50_s": statistics.median(op_walls),
        "op_p90_s": p90(op_walls),
        "peak_rss_mb": rss["python"] + rss["jvm"],
        "stored_bytes_ratio": stored_ratio,
    }
    failed = [op for op in all_ops if not op.ok]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    values = layers if args.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "sf": b.wl.sf, "box": box, "staged": staged, "setups": setups, "warmup_unit_s": warmup_s,
        "peak_rss_mb_by_process": rss,
        "units": [{"run_s": u["span"].wall_s, "ops": [[op.name, op.span.wall_s] for op in u["ops"]]}
                  for u in units],
        "samples": {"run_s": len(units), "op": len(op_walls)},
        "end_to_end": e2e, "per_layer": layers, "per_op": per_op,
        "failures": [{"op": op.name, "error": op.error} for op in failed],
    }
    rec_dir = os.path.join(ROOT, ".perfbench", "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(f"[perfbench] {args.workload} seed={args.seed}: {len(units)} units, {len(op_walls)} ops,"
          f" {len(failed)} failed; {json.dumps(e2e)}", file=sys.stderr)
    return {"correct": not failed, "attempted": len(all_ops), "failed": len(failed), "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Iowa liquor warehouse benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="override the workload's scale factor (tests)")
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _isolate(work)
    try:
        result = run(args, work)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
