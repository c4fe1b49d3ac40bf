"""Tests of the checked-in tools: pure helpers, and two subprocess
smoke runs of the profiler."""

import importlib.util
import os
import re
import subprocess
import sys

from conftest import SF_DIR

_TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def _tool(name: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(_TOOLS, f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_profile_query_reports_jobs_and_driver_gap():
    out = subprocess.run(
        [sys.executable, os.path.join(_TOOLS, "profile_query.py"),
         "--sf", SF_DIR, "q01_pricing_summary"],
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    m = re.search(r"^q01_pricing_summary rep0 .*\bjobs=(\d+) .*\bdriverGap=(\d+\.\d+)s$", out.stdout, re.M)
    assert m, out.stdout
    assert int(m.group(1)) >= 1


def test_profile_query_page_reports_each_visual_of_both_pages():
    out = subprocess.run(
        [sys.executable, os.path.join(_TOOLS, "profile_query.py"), "--page", "--sf", SF_DIR],
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rows = re.findall(r"^(cold|warm) +(\w+) +\d+\.\d+ +\d+\.\d+ +\d+ +\d+ +\d+ +\d+\.\d$", out.stdout, re.M)
    assert len(rows) == 24, out.stdout
    assert [page for page, _ in rows] == ["cold"] * 12 + ["warm"] * 12
    assert rows[11][1] == rows[23][1] == "revenue_by_weekday"


_CANNED_PLAN = """\
AdaptiveSparkPlan isFinalPlan=false
+- Window [rank(v#3) windowspecdefinition(v#3 DESC NULLS LAST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS r#9], [v#3 DESC NULLS LAST]
   +- *(2) Sort [v#3 DESC NULLS LAST], false, 0
      +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=41]
         +- BroadcastHashJoin [k#1], [k#2], Inner, BuildRight, false
            :- Union
            :  :- Exchange hashpartitioning(k#1, 8), ENSURE_REQUIREMENTS, [plan_id=30]
            :  :  +- FileScan parquet [k#1,v#3] Batched: true, DataFilters: [], Format: Parquet
            :  +- ReusedExchange [k#1, v#3], Exchange hashpartitioning(k#1, 8), ENSURE_REQUIREMENTS, [plan_id=30]
            +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=40]
               +- InMemoryTableScan [k#2]
                     +- InMemoryRelation [k#2], StorageLevel(disk, memory, deserialized, 1 replicas)
                           +- AdaptiveSparkPlan isFinalPlan=true
                              +- == Final Plan ==
                                 ResultQueryStage 1
                                 +- ShuffleQueryStage 0
                                    +- Exchange hashpartitioning(k#2, 8), ENSURE_REQUIREMENTS, [plan_id=12]
                                       +- *(1) Scan ExistingRDD[k#2]
                              +- == Initial Plan ==
                                 Window [row_number() windowspecdefinition(k#2, k#2 ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS n#5], [k#2], [k#2 ASC NULLS FIRST]
                                 +- Exchange hashpartitioning(k#2, 8), ENSURE_REQUIREMENTS, [plan_id=12]
                                    +- Scan ExistingRDD[k#2]
"""


def test_plan_census_counts_nodes_not_substrings():
    # ReusedExchange and BroadcastExchange are not Exchanges; nodes of a
    # cached relation count once, from its initial plan; only the
    # outer window is unpartitioned
    counts = _tool("plan_census").node_counts(_CANNED_PLAN)
    assert counts == {
        "BroadcastExchange": 1,
        "BroadcastHashJoin": 1,
        "Exchange": 3,
        "FileScan": 1,
        "InMemoryRelation": 1,
        "Scan": 1,
        "UnpartitionedWindow": 1,
        "Window": 2,
    }
