"""Run the benchmark over several seeds and report each end-to-end
metric's median and spread (interquartile range over median).

    python3 perfbench/spread.py --workload dashboard --seeds 101-110 --out .perfbench/spread.json

Runs ``perfbench/run.py --trace 0`` once per seed, one after another,
with ``run_seconds`` from BENCHMARK.json, from the root of the checkout.
``process_wall_s`` is the whole command's wall, the figure that sizes
the benchmark's total run budget.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarise(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": round(med, 4), "q1": round(q1, 4), "q3": round(q3, 4),
            "spread": round((q3 - q1) / med, 4)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 101-110")
    ap.add_argument("--out", help="write the runs and the summary here as JSON")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    runs = []
    for seed in seeds(args.seeds):
        cmd = [*spec["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        t0 = time.perf_counter()
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        wall = time.perf_counter() - t0
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}", file=sys.stderr)
            return 1
        res = json.loads(out.stdout.strip().splitlines()[-1])
        run = {"seed": seed, "process_wall_s": round(wall, 4), "correct": res["correct"],
               "attempted": res["attempted"], "failed": res["failed"],
               **{k: round(v["value"], 4) for k, v in res["metrics"].items()}}
        print(json.dumps(run), file=sys.stderr)
        runs.append(run)

    names = ["process_wall_s"] + [m["name"] for m in spec["end_to_end"]]
    summary = {n: summarise([r[n] for r in runs]) for n in names}
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for n, s in summary.items():
        mark = "" if n not in bounds else f"  bound {bounds[n]}"
        print(f"{args.workload:16s} {n:20s} median {s['median']:>10}  spread {s['spread']:.4f}{mark}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "summary": summary, "runs": runs}, f, indent=1)
    return 0 if all(r["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
