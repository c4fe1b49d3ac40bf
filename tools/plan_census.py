"""Plan census: the physical-plan shape of every registered query, as
node counts, plus the Spark actions run while its DataFrame is built.

    python tools/plan_census.py        # rewrites PLAN_CENSUS.json

One walk over the registry at sf0.001 on the session shape the tests
use (8 cores). Per query it parses ``executedPlan().toString()`` into
counts of the nodes that decide how a plan scales (:data:`NODES`) and
counts the actions the build ran (:func:`_build_actions`).
``PLAN_CENSUS.json`` holds one sorted line per query, zero counts
omitted; ``tests/test_plan_shapes.py`` recomputes it with :func:`walk`
and diffs it against the file, so a plan change shows up in review as
a change to that file. For the full plan text of a query use
``tools/dump_plans.py NAME``.
"""

from __future__ import annotations

import json
import os
import re
import sys
import uuid
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = "/root/testdata/sf0.001"
CENSUS_PATH = os.path.join(ROOT, "PLAN_CENSUS.json")

# Python/Arrow evaluation nodes, every concrete one in Spark 4.1's
# ``org.apache.spark.sql.execution.python``: the slow path, by design
# only where the work is Python by nature (media codecs).
PY_NODES = (
    "BatchEvalPython", "ArrowEvalPython", "BatchEvalPythonUDTF", "ArrowEvalPythonUDTF",
    "MapInPandas", "MapInArrow", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas", "FlatMapCoGroupsInArrow", "ArrowAggregatePython",
    "ArrowWindowPython", "FlatMapGroupsInPandasWithState", "TransformWithStateInPySpark",
)

# Counted node names. ``FileScan`` reads files; ``Scan`` reads an
# existing RDD (a checkpoint or driver-built rows). ``ReusedExchange``
# is not an ``Exchange``: it reads one already counted.
NODES = (
    "Exchange", "BroadcastExchange",
    "SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct",
    "Window", "WindowGroupLimit", "Generate",
    *PY_NODES,
    "InMemoryRelation", "FileScan", "Scan",
)
UNPARTITIONED_WINDOW = "UnpartitionedWindow"
BUILD_ACTIONS = "build_actions"

_NODE_NAME = re.compile(r"(?:\*\(\d+\) )?(\w+)")


def _unpartitioned(window_line: str) -> bool:
    """Whether a ``Window`` node has no partition spec: its window
    definition opens with an ordering or the frame instead of a key."""
    for m in re.finditer(r"windowspecdefinition\(", window_line):
        first = window_line[m.end():m.end() + 200].split(",", 1)[0]
        if first.startswith("specifiedwindowframe") or " ASC" in first or " DESC" in first:
            return True
    return False


def node_counts(plan: str) -> dict[str, int]:
    """Counts of :data:`NODES` (and of unpartitioned windows) in a
    physical plan's tree string, zeros omitted. A cached relation that
    has run prints its plan twice, final then initial; only the
    initial plan is counted, so a count does not depend on whether a
    cache was materialized before the plan was printed."""
    counts: Counter[str] = Counter()
    skipping = False
    for line in plan.splitlines():
        text = line.lstrip(" :+-")
        if text.startswith(("== Final Plan ==", "== Current Plan ==")):
            skipping = True
        elif text.startswith("== Initial Plan =="):
            skipping = False
        if skipping:
            continue
        m = _NODE_NAME.match(text)
        name = m.group(1) if m else None
        if name in NODES:
            counts[name] += 1
            if name == "Window" and _unpartitioned(text):
                counts[UNPARTITIONED_WINDOW] += 1
    return dict(sorted(counts.items()))


def _build_actions(sc, group: str) -> int:
    """Actions run by the jobs of ``group`` (``setJobGroup``): one per
    SQL execution, whatever number of jobs it took, plus one per job
    outside any (a schema inference, an RDD collect). Adaptive
    execution splits one action into a number of jobs that depends on
    which of its stages finishes first, so a job count can differ
    between two runs of the same build; the action count cannot."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    actions = set()
    for job in sc.statusTracker().getJobIdsForGroup(group):
        roots = [t for t in str(store.job(job).jobTags().mkString(" ")).split() if "-execution-root-id-" in t]
        actions.add(roots[0] if roots else job)
    return len(actions)


def walk(spark) -> tuple[dict[str, dict[str, int]], dict[str, list[tuple[str, str]]]]:
    """Build every registered query once: ``(census, dtypes)`` by name.

    Every table is read before anything is counted, ``events`` first:
    its read sets ``spark.sql.legacy.parquet.nanosAsLong``, which is
    part of the schema memo's fingerprint, so a table remembered
    before it would be inferred again by whichever query reads it
    next."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.memo import clear_plan_memo
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.queries import (
        registry,
        release_persisted,
    )
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources.tables import (
        TABLES,
        load_table,
    )

    # a memoized DataFrame that already ran prints adaptive execution's
    # final plan beside its initial one; the census counts fresh builds
    clear_plan_memo()
    for table in sorted(TABLES, key=lambda t: t != "events"):
        load_table(spark, SF_DIR, table)
    sc = spark.sparkContext
    walk_id = uuid.uuid4().hex
    census, dtypes = {}, {}
    try:
        for name, spec in registry().items():
            group = f"plan-census-{walk_id}-{name}"
            sc.setJobGroup(group, group)
            df = spec.fn(spark, SF_DIR)
            row = node_counts(df._jdf.queryExecution().executedPlan().toString())
            dtypes[name] = df.dtypes
            actions = _build_actions(sc, group)
            census[name] = {**row, BUILD_ACTIONS: actions} if actions else row
            release_persisted()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return census, dtypes


def render(census: dict[str, dict[str, int]]) -> str:
    """The census file: a JSON object with one sorted line per query."""
    lines = [f"{json.dumps(n)}: {json.dumps(census[n], sort_keys=True)}" for n in sorted(census)]
    return "{\n" + ",\n".join(lines) + "\n}\n"


def load() -> dict[str, dict[str, int]]:
    with open(CENSUS_PATH) as f:
        return json.load(f)


def diff(old: dict[str, dict[str, int]], new: dict[str, dict[str, int]]) -> list[str]:
    """One line per query whose counts changed, naming each field."""
    out = []
    for name in sorted(old.keys() | new.keys()):
        if name not in new:
            out.append(f"{name}: no longer registered")
        elif name not in old:
            out.append(f"{name}: new query {json.dumps(new[name], sort_keys=True)}")
        elif old[name] != new[name]:
            a, b = old[name], new[name]
            fields = sorted(a.keys() | b.keys())
            out.append(f"{name}: " + ", ".join(
                f"{k} {a.get(k, 0)} -> {b.get(k, 0)}" for k in fields if a.get(k, 0) != b.get(k, 0)
            ))
    return out


def main() -> None:
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark import get_spark

    spark = get_spark("plan-census", cores=8)
    census, _ = walk(spark)
    spark.stop()
    old = load() if os.path.exists(CENSUS_PATH) else {}
    with open(CENSUS_PATH, "w") as f:
        f.write(render(census))
    changes = diff(old, census)
    print("\n".join(changes) if changes else "no change")
    print(f"wrote {CENSUS_PATH} ({len(census)} queries)")


if __name__ == "__main__":
    main()
