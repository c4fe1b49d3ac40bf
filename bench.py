"""Benchmark harness: runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints, as the LAST stdout line, ONE
compact JSON record:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced to full materialization with the `noop` sink
(no driver collect cost, no output I/O cost — pure plan execution).

Since round 9 every reported number is a PER-QUERY MEDIAN across
repeated runs (HEADLINE_REPS for the headline list, HEAVY_REPS for the
heavy tail), because BASELINE.md's round-8 spread study measured
±2-3x single-shot variance on sub-second queries — single shots were
manufacturing phantom regressions for the round-over-round compare.
Reps are interleaved round-robin (run the whole list, repeat) so a
transient box-wide stall inflates at most one rep of each query rather
than every rep of one query.

Output layout (round-10 fix): the external harness records only the
final ~2000 chars of stdout and parses the metric JSON out of that
tail. Round 9 packed per-query {median,min,max} stats into the same
line and pushed ``"metric"`` out of the capture window — the round
lost its machine-readable bench artifact (BENCH_r09.json parsed:
null). The detailed blobs (per-query spread stats, the active driver
window, the cumulative driver-checked-ever name list) therefore now
go to a sidecar file next to this script — ``BENCH_STATS.local.json``,
GITIGNORED, so the driver's own post-commit bench runs stop dirtying
the working tree (the r14 ask #4); the builder promotes a chosen run
to the committed ``BENCH_STATS.json`` by explicit copy — and the
compact line printed LAST carries only the medians plus counts —
small enough that the whole record always fits the tail.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import sys
import time

REPO_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO_DIR)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Representative slice of the registry: flagship agg, joins/set ops,
# windows, SCD build + as-of, star dashboards, dedup, ANN.
HEADLINE = [
    "q01_pricing_summary",
    "q09_topn_parts",
    "q14_except_all",
    "q16_count_distinct",
    "q21_scd_build",
    "q22_scd_as_of",
    "q23_star_weekday",
    "q26_rollup_geo",
    "q80_local_supplier_volume",
    "q30_dedup_exact",
    "q35_minhash_lsh",
    "q38_knn_cosine",
    "q43_sessionization",
    "q45_media_features",
    "q53_running_total",
    # skew-mitigation pair: same 90%-one-key join, salted vs AQE-split;
    # the two must stay within ~2x of each other (BASELINE.md)
    "q157_skew_join_salted",
    "q158_skew_join_aqe",
]

# The expensive tail, benched separately so a regression in the
# heaviest queries is visible in BENCH_r*.json (the headline list
# tracks only fast queries; a 2x regression here used to be invisible).
# Reported as "heavy_queries"/"heavy_total" alongside the headline
# metric — the headline total stays comparable across rounds.
# Round 10 adds q212 (hierarchical IVF — the designed scale path past
# flat-IVF's N^1.5 build cost); BASELINE.md re-baselines heavy_total.
HEAVY = [
    "q187_cluster_canonical",
    "q188_shingle_containment",
    "q190_semantic_dedup",
    "q199_ivf_incremental",
    "q202_source_overlap",
    "q212_hierarchical_ivf",
]

# Rep counts per the round-8 verdict ask (>=5 headline, >=3 heavy);
# overridable for quick local iteration (SPARK_GRAFT_BENCH_REPS=1).
# An EXPLICIT SPARK_GRAFT_BENCH_HEAVY_REPS is honored verbatim — the
# old min()-clamp silently ignored a request for more heavy reps than
# headline reps; the clamp now applies only to the default.
# Heavy default 3 → 5 (r13): this box stalls in multi-second bursts
# (r13 measured q212 spread 4.5—44.9 s within one bench; the io_proxy
# sample taken during the burst was +50%). The round-robin interleave
# bounds a burst to ~one rep per query, but with 3 reps one polluted
# rep already drags the median; 5 reps keeps the median on the clean
# majority for ~2 extra minutes of bench wall.
HEADLINE_REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))
_heavy_env = os.environ.get("SPARK_GRAFT_BENCH_HEAVY_REPS")
HEAVY_REPS = int(_heavy_env) if _heavy_env is not None else min(HEADLINE_REPS, 5)


def _load_proxy_sample() -> float:
    """Wall time of a FIXED single-threaded spin (a 3M-step 31-bit LCG
    — bounded ints, so the work is identical every call and every
    round; ~0.5 s on this box when idle). The r12 round-over-round
    bench compare was clouded by uniform 9-43% inflation across
    queries untouched for six rounds — the signature of a loaded
    measurement box, but with nothing recorded to prove it. Three
    samples (before the headline list, between the lists, after the
    heavy list) ride both the sidecar and the compact line so a future
    compare can NORMALIZE by box speed instead of arguing about it:
    same code + higher load_proxy + uniformly higher walls = load, not
    regression."""
    t0 = time.perf_counter()
    acc = 1
    for _ in range(3_000_000):
        acc = (acc * 1103515245 + 12345) & 0x7FFFFFFF
    return round(time.perf_counter() - t0, 3)


def _io_proxy_sample() -> float:
    """Wall time of a FIXED disk round-trip (write 8 MiB + fsync +
    read back + unlink in this repo's filesystem) — the I/O companion
    to :func:`_load_proxy_sample`. The CPU spin alone cannot explain a
    slow round: q199 (the one heavy query that writes a real parquet
    index) swung 6.5 → 11 s across sessions whose spin walls differed
    by <20%, because the box's DISK state (page cache, other writers)
    moved independently of its CPU load. Recording both lets a
    cross-round compare attribute inflation to the right resource."""
    import tempfile

    buf = b"\xa5" * (8 << 20)
    t0 = time.perf_counter()
    fd, p = tempfile.mkstemp(prefix="bench_ioproxy_", dir=REPO_DIR)
    try:
        os.write(fd, buf)
        os.fsync(fd)
        os.close(fd)
        with open(p, "rb") as f:
            f.read()
    finally:
        try:
            os.unlink(p)
        except OSError:
            pass
    return round(time.perf_counter() - t0, 3)


def _driver_checked_rounds() -> dict[str, list[int]]:
    """Per-query list of rounds in which the external harness
    hash-verified it (rows + schema + value hash green in that round's
    CORRECTNESS_r*.json). Emitted so the accumulation math the
    round-over-round rotation relies on is auditable from the BENCH
    artifact alone — and so a green earned BEFORE a later rewrite of
    the query/oracle pair is distinguishable from a green on current
    code (the r10 advisor's staleness caveat): consumers can compare a
    query's last green round against the round its implementation last
    changed. Rows-only entries (no oracle → hash_match null) do not
    accumulate, matching the judge's ledger."""
    rounds: dict[str, list[int]] = {}
    for path in sorted(glob.glob(os.path.join(REPO_DIR, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else -1
        try:
            with open(path) as f:
                results = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        for name, res in results.items():
            if (
                isinstance(res, dict)
                and res.get("rows_match") is True
                and res.get("schema_match") is True
                and res.get("hash_match") is True
            ):
                rounds.setdefault(name, []).append(rnd)
    return {n: sorted(r) for n, r in sorted(rounds.items())}


def main() -> None:
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark import get_spark
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.memo import clear_plan_memo
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.queries import (
        registry,
        release_persisted,
    )

    spark = get_spark("bench")
    reg = registry()

    # warm JVM/codegen with the flagship shapes at tiny scale so the
    # timed runs measure steady-state execution, not first-query JIT
    clear_plan_memo()  # every timed build below is a fresh one
    for warm in ("q01_pricing_summary", "q23_star_weekday"):
        reg[warm].fn(spark, "/root/testdata/sf0.001").write.mode("overwrite").format("noop").save()

    def run_list(names: list[str], reps: int) -> dict[str, dict[str, float]]:
        samples: dict[str, list[float]] = {n: [] for n in names}
        for _ in range(reps):
            clear_plan_memo()
            for name in names:
                t0 = time.time()
                reg[name].fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
                samples[name].append(time.time() - t0)
                release_persisted()  # free tracked caches between queries
        return {
            n: {
                "median": round(statistics.median(s), 3),
                "min": round(min(s), 3),
                "max": round(max(s), 3),
            }
            for n, s in samples.items()
        }

    load_samples = [_load_proxy_sample()]
    io_samples = [_io_proxy_sample()]
    headline_stats = run_list(HEADLINE, HEADLINE_REPS)
    load_samples.append(_load_proxy_sample())
    io_samples.append(_io_proxy_sample())
    heavy_stats = run_list(HEAVY, HEAVY_REPS)
    load_samples.append(_load_proxy_sample())
    io_samples.append(_io_proxy_sample())
    load_proxy = round(statistics.median(load_samples), 3)
    io_proxy = round(statistics.median(io_samples), 3)
    timings = {n: s["median"] for n, s in headline_stats.items()}
    heavy = {n: s["median"] for n, s in heavy_stats.items()}
    checked_rounds = _driver_checked_rounds()
    ever_raw = sorted(checked_rounds)
    # The compact coverage count reports |ever ∩ current registry|:
    # a query that went driver-green and was later DEREGISTERED
    # (q184_rfm_segments, r10) must not inflate current-registry
    # coverage (the r11 verdict's ledger-overstatement finding). The
    # raw history stays in the sidecar for auditability.
    ever = [n for n in ever_raw if n in reg]

    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else None

    # Detail blobs → sidecar (kept out of the stdout tail on purpose).
    # A sidecar write failure (read-only checkout, disk full) must not
    # lose the round's machine-readable stdout record — the compact
    # metric line below still prints, with stats_file nulled.
    # Atomic sidecar write (temp file + os.replace): a failure mid-dump
    # (disk full) must never leave a truncated sidecar behind for the
    # next round's tooling to choke on — either the previous intact
    # sidecar survives, or the new one lands whole.
    # The sidecar lands at the GITIGNORED .local name (r14 verdict ask
    # #4): the driver's own post-commit bench run used to overwrite the
    # committed BENCH_STATS.json and dirty the working tree every
    # round. Now every run — builder's and driver's — writes the local
    # file only; the builder promotes its chosen run to the committed
    # BENCH_STATS.json by copying it explicitly (cp
    # BENCH_STATS.local.json BENCH_STATS.json) before the closing
    # commit, so the committed artifact changes only by builder intent.
    stats_file = "BENCH_STATS.local.json"
    stats_tmp = os.path.join(REPO_DIR, stats_file + ".tmp")
    try:
        with open(stats_tmp, "w") as f:
            json.dump(
                {
                    # per-query {median,min,max} spread behind the medians
                    "stats": {**headline_stats, **heavy_stats},
                    # the ACTIVE driver-checked window (first 50 of the
                    # rotated registration order) — recorded per-round so
                    # which queries the external hash gate verifies is
                    # auditable without reading _WINDOW_SWAPS in a commit
                    "driver_window": list(reg)[:50],
                    # cumulative driver-hash-green names, current registry
                    # only (the compact line's count = len of this list)
                    "driver_checked_ever": ever,
                    # raw history incl. since-deregistered names (audit)
                    "driver_checked_ever_raw": ever_raw,
                    # name -> rounds green (see _driver_checked_rounds);
                    # the rotation policy once first-time coverage of the
                    # registry completes is oldest-green-first: re-check
                    # the smallest max(rounds) names, because the corpus
                    # and the query/oracle pairs both evolve after a green
                    "driver_checked_rounds": checked_rounds,
                    "recheck_policy": "after first-time coverage, rotate "
                    "oldest-green-first (smallest last-green round)",
                    "reps": {"headline": HEADLINE_REPS, "heavy": HEAVY_REPS},
                    # fixed single-threaded spin walls (before headline,
                    # between lists, after heavy) — the box-load
                    # normalizer; see _load_proxy_sample
                    "load_proxy_samples": load_samples,
                    # fixed 8 MiB write+fsync+read walls at the same
                    # three points — the DISK-state companion
                    "io_proxy_samples": io_samples,
                    "sf": sf,
                },
                f,
                indent=1,
            )
        os.replace(stats_tmp, os.path.join(REPO_DIR, stats_file))
    except OSError:
        stats_file = None
        try:
            os.unlink(stats_tmp)
        except OSError:
            pass

    # Compact machine-readable record, printed LAST so it is always
    # inside the harness's stdout-tail capture.
    sys.stdout.flush()
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "heavy_total": round(sum(heavy.values()), 3),
                "heavy_queries": heavy,
                "reps": {"headline": HEADLINE_REPS, "heavy": HEAVY_REPS},
                "sf": sf,
                "driver_checked_ever": len(ever),
                # median of 3 fixed single-threaded spins interleaved
                # with the runs — divide walls by (load_proxy / an idle
                # round's load_proxy) to normalize box load before
                # calling a cross-round delta a regression
                "load_proxy": load_proxy,
                # median fixed 8 MiB write+fsync+read wall — the disk
                # half of the normalization (q199-class index writers
                # track this, not the CPU spin)
                "io_proxy": io_proxy,
                "stats_file": stats_file,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
