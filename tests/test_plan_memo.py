"""The plan memo: a registry query's or the flagship visual's built
DataFrame comes back while every file its build read is unchanged, and
never outlives a change to those files, to the session conf or to the
session. Builds that run work other than the schema inference of their
own reads, persist, checkpoint, are nondeterministic or read files they
did not record are never kept."""

import os
import shutil
import subprocess
import sys
import textwrap

import pyspark.sql.functions as F
from conftest import SF_DIR, jobs_of

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans import memo, pipeline, queries
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.memo import clear_plan_memo
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.pipeline import (
    build_star_warehouse,
    read_warehouse,
    revenue_by_weekday,
)
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.queries import (
    registry,
    release_persisted,
)
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources import commit
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources.tables import (
    NANOS_AS_LONG,
    _file_stats,
    load_table,
    read_parquet,
)
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.session import gateway_calls

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
Q80_TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem")
# the registry visuals of a dashboard page (perfbench/metrics.py)
DASHBOARD_VISUALS = (
    "q01_pricing_summary", "q09_topn_parts", "q16_count_distinct", "q23_star_weekday",
    "q24_star_month", "q25_topn_vendors", "q26_rollup_geo", "q27_kpi_totals",
    "q28_season", "q53_running_total", "q80_local_supplier_volume",
)


def _stored(name: str) -> bool:
    return any(key[0] == name for key in memo._PLAN_MEMO)


def _memoized(fn, spark, sf_dir):
    """A build of ``fn`` that the memo kept: its first, whose only jobs
    (if any) inferred the schemas of its reads."""
    df = fn(spark, sf_dir)
    assert fn(spark, sf_dir) is df
    return df


def _rows(df):
    return sorted(df.collect())


def _fresh_rows(fn, spark, sf_dir):
    clear_plan_memo()
    return _rows(fn(spark, sf_dir))


def test_second_call_returns_the_same_dataframe_without_building(spark):
    fn = registry()["q80_local_supplier_volume"].fn
    df = _memoized(fn, spark, SF_DIR)
    ((key, entry),) = [(k, m) for k, m in memo._PLAN_MEMO.items() if k[0] == "q80_local_supplier_volume"]
    assert {os.path.basename(p) for p, _ in entry.reads} == {f"{t}.parquet" for t in Q80_TABLES}
    with gateway_calls(spark) as call:
        again = fn(spark, SF_DIR)
    with gateway_calls(spark) as lookup:
        assert memo._conf_text(spark) == key[2]
        nanos = spark.conf.get(NANOS_AS_LONG, "false")
        assert all(fp == (nanos, _file_stats(p)) for p, fp in entry.reads)
    assert again is df
    assert call[0] == lookup[0]  # the lookup's round trips, no build call after it


def _copy_tables(sf_dir, names, as_dir=()):
    """Copy staged tables to ``sf_dir``; those in ``as_dir`` become a
    directory holding the file as ``part-0.parquet``."""
    os.makedirs(sf_dir, exist_ok=True)
    for t in names:
        src = os.path.join(SF_DIR, f"{t}.parquet")
        dst = os.path.join(sf_dir, f"{t}.parquet")
        if t in as_dir:
            os.makedirs(dst)
            dst = os.path.join(dst, "part-0.parquet")
        shutil.copy(src, dst)


def test_commit_to_a_broadcast_side_table_misses(spark, tmp_path):
    """``nation`` is a broadcast side of q80; a commit to it between two
    calls returns the new rows."""
    sf_dir = str(tmp_path / "sf")
    _copy_tables(sf_dir, [t for t in Q80_TABLES if t != "nation"])
    nation = os.path.join(sf_dir, "nation.parquet")
    base = spark.read.parquet(os.path.join(SF_DIR, "nation.parquet"))
    commit.write(spark, nation, base)

    fn = registry()["q80_local_supplier_volume"].fn
    before = _memoized(fn, spark, sf_dir)
    old_rows = _rows(before)

    renamed = base.withColumn("n_name", F.concat(F.col("n_name"), F.lit(" (renamed)")))
    commit.write(spark, nation, renamed, retire=commit.live_files(spark, nation))
    after = fn(spark, sf_dir)
    assert after is not before
    new_rows = _rows(after)
    assert new_rows != old_rows
    assert new_rows == _fresh_rows(fn, spark, sf_dir)


def test_file_added_under_a_directory_input_misses(spark, tmp_path):
    sf_dir = str(tmp_path / "sf")
    _copy_tables(sf_dir, ["lineitem"], as_dir=("lineitem",))
    fn = registry()["q01_pricing_summary"].fn
    before = _memoized(fn, spark, sf_dir)
    old_rows = _rows(before)

    shutil.copy(os.path.join(SF_DIR, "lineitem.parquet"), os.path.join(sf_dir, "lineitem.parquet", "part-1.parquet"))
    after = fn(spark, sf_dir)
    assert after is not before
    new_rows = _rows(after)
    assert new_rows != old_rows
    assert new_rows == _fresh_rows(fn, spark, sf_dir)


def test_conf_change_misses(spark):
    fn = registry()["q01_pricing_summary"].fn
    before = _memoized(fn, spark, SF_DIR)
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, str(int(old) + 1))
        assert fn(spark, SF_DIR) is not before
    finally:
        spark.conf.set(key, old)


def _session_with_the_same_conf(spark):
    other = spark.newSession()
    mine, theirs = spark.conf.getAll, other.conf.getAll
    for key in theirs.keys() - mine.keys():
        other.conf.unset(key)
    for key, value in mine.items():  # runtime confs set in ``spark`` before
        if theirs.get(key) != value:
            other.conf.set(key, value)
    assert memo._conf_text(other) == memo._conf_text(spark)
    return other


def test_another_session_with_the_same_conf_misses(spark):
    """The key holds no session; the entry's own session must be the
    caller's."""
    fn = registry()["q01_pricing_summary"].fn
    before = _memoized(fn, spark, SF_DIR)
    other = _session_with_the_same_conf(spark)
    again = fn(other, SF_DIR)
    assert again is not before
    assert again.sparkSession is other


def test_stopped_and_recreated_session_misses():
    """A DataFrame of a stopped session never comes back. Run in a child
    process, since stopping the tests' session would end every later
    test."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark import get_spark
        from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.queries import registry

        fn = registry()["q01_pricing_summary"].fn
        spark = get_spark("plan-memo-session", cores=1)
        fn(spark, {SF_DIR!r})
        first = fn(spark, {SF_DIR!r})
        assert fn(spark, {SF_DIR!r}) is first
        want = sorted(first.collect())
        spark.stop()
        spark = get_spark("plan-memo-session", cores=1)
        again = fn(spark, {SF_DIR!r})
        assert again is not first, "a stopped session's DataFrame came back"
        assert sorted(again.collect()) == want
        spark.stop()
    """)
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    out = subprocess.run([sys.executable, "-c", script], env=env, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]


def test_a_build_that_persists_is_never_stored(spark):
    fn = registry()["q139_crosstab_expected"].fn
    try:
        fn(spark, SF_DIR)
        release_persisted()
        first = fn(spark, SF_DIR)
        release_persisted()
        assert fn(spark, SF_DIR) is not first
        assert not _stored("q139_crosstab_expected")
    finally:
        release_persisted()


def test_an_index_query_is_never_stored(spark):
    """q200 builds an IVF index and reads it back through ``spark.read``."""
    fn = registry()["q200_ivf_occupancy"].fn
    first = fn(spark, SF_DIR)
    assert fn(spark, SF_DIR) is not first
    assert not _stored("q200_ivf_occupancy")


def _nation(spark, sf_dir):
    return load_table(spark, sf_dir, "nation")


def _runs_a_job(spark, sf_dir):
    df = _nation(spark, sf_dir)
    df.count()
    return df


def _nondeterministic(spark, sf_dir):
    return _nation(spark, sf_dir).withColumn("r", F.rand(7))


def _unrecorded_file(spark, sf_dir):
    """Also scans a file outside ``read_parquet``, with a pinned schema
    (no job), as the index queries read their indexes."""
    nation = _nation(spark, sf_dir)
    return nation.unionByName(spark.read.schema(nation.schema).parquet(os.path.join(SF_DIR, "region.parquet")))


def _checkpointed(spark, sf_dir):
    return _nation(spark, sf_dir).localCheckpoint(eager=False)


def _reads_nothing(spark, sf_dir):
    return spark.range(5)


def _unfingerprinted(spark, sf_dir):
    """Reads ``nation`` twice, once by a URI ``os.stat`` cannot take."""
    nation = _nation(spark, sf_dir)
    uri = "file://" + os.path.abspath(os.path.join(sf_dir, "nation.parquet"))
    return nation.unionByName(read_parquet(spark, uri))


def _assert_never_stored(spark, build, name, sf_dir=SF_DIR):
    fn = queries._registered_fn(name, build)
    load_table(spark, SF_DIR, "nation")  # its schema is known: no inference job
    first = fn(spark, sf_dir)
    assert fn(spark, sf_dir) is not first
    assert not _stored(name)


def test_a_build_that_runs_a_job_is_never_stored(spark):
    _assert_never_stored(spark, _runs_a_job, "memo_probe_job")


def test_a_nondeterministic_build_is_never_stored(spark):
    _assert_never_stored(spark, _nondeterministic, "memo_probe_rand")


def test_a_build_scanning_an_unrecorded_file_is_never_stored(spark):
    _assert_never_stored(spark, _unrecorded_file, "memo_probe_unrecorded")


def test_a_checkpointed_build_is_never_stored(spark):
    _assert_never_stored(spark, _checkpointed, "memo_probe_checkpoint")


def test_a_build_that_reads_no_file_is_never_stored(spark):
    _assert_never_stored(spark, _reads_nothing, "memo_probe_no_read")


def test_a_read_that_cannot_be_fingerprinted_is_never_stored(spark, monkeypatch):
    """Such a read also infers its schema, a job; the job count is
    pinned here so the test sees the fingerprint rule on its own. The
    file it scans is one a fingerprinted read recorded too."""
    monkeypatch.setattr(memo, "jobs_submitted", lambda spark: 0)
    _assert_never_stored(spark, _unfingerprinted, "memo_probe_glob")


def test_the_bound_evicts_the_oldest_entry(spark, monkeypatch):
    monkeypatch.setattr(memo, "_PLAN_MEMO_SIZE", 2)
    fns = [queries._registered_fn(f"memo_probe_lru_{i}", _nation) for i in range(3)]
    load_table(spark, SF_DIR, "nation")
    built = [fn(spark, SF_DIR) for fn in fns]
    assert [_stored(f"memo_probe_lru_{i}") for i in range(3)] == [False, True, True]
    assert fns[2](spark, SF_DIR) is built[2]
    assert fns[0](spark, SF_DIR) is not built[0]


def test_a_build_whose_only_jobs_inferred_its_schemas_is_stored_first_time(spark, tmp_path):
    """A first read of a path infers its schema in a Spark job, which
    ``read_parquet`` remembers under the fingerprint the build recorded;
    that job does not keep the build out of the memo."""
    sf_dir = str(tmp_path / "sf")
    _copy_tables(sf_dir, ["nation"], as_dir=("nation",))  # a new directory: no footer shortcut
    fn = queries._registered_fn("memo_probe_inferred", _nation)
    first, jobs = jobs_of(spark, "memo-probe-inferred", lambda: fn(spark, sf_dir))
    assert jobs  # the schema inference
    assert _stored("memo_probe_inferred")
    assert fn(spark, sf_dir) is first


def test_dashboard_cold_builds_gateway_calls_are_bounded(spark):
    """Cold builds of a page's 11 registry visuals (memo cleared,
    schemas already read once) make about 820 py4j round trips together,
    each visual one ``spark.sql`` text. Built as DataFrame chains they
    made 2,603; the bound catches a return to that."""
    reg = registry()
    for name in DASHBOARD_VISUALS:
        reg[name].fn(spark, SF_DIR)
    clear_plan_memo()
    with gateway_calls(spark) as calls:
        for name in DASHBOARD_VISUALS:
            reg[name].fn(spark, SF_DIR)
    assert calls[0] <= 1000


def _warehouse(spark, tmp_path, sf_dir=SF_DIR):
    return build_star_warehouse(spark, sf_dir, str(tmp_path / "wh"))


def _counted_reads(monkeypatch) -> list[str]:
    """The basenames of the paths ``read_warehouse`` tables read from
    here on."""
    seen = []

    def counting(spark, path):
        seen.append(os.path.basename(path))
        return read_parquet(spark, path)

    monkeypatch.setattr(pipeline, "read_parquet", counting)
    return seen


def test_flagship_first_call_reads_its_two_tables_only(spark, tmp_path, monkeypatch):
    paths = _warehouse(spark, tmp_path)
    seen = _counted_reads(monkeypatch)
    revenue_by_weekday(read_warehouse(spark, paths))
    assert sorted(seen) == ["dim_date", "fact_sales"]
    assert _stored("revenue_by_weekday")  # its only jobs inferred the two schemas


def test_flagship_second_call_reads_nothing_and_runs_no_job(spark, tmp_path, monkeypatch):
    paths = _warehouse(spark, tmp_path)
    first = revenue_by_weekday(read_warehouse(spark, paths))
    seen = _counted_reads(monkeypatch)
    again, jobs = jobs_of(spark, "flagship-again", lambda: revenue_by_weekday(read_warehouse(spark, paths)))
    assert again is first
    assert seen == []
    assert jobs == []


def test_flagship_over_a_rebuilt_warehouse_returns_the_new_rows(spark, tmp_path):
    paths = _warehouse(spark, tmp_path)
    before = revenue_by_weekday(read_warehouse(spark, paths))
    old_rows = _rows(before)
    _warehouse(spark, tmp_path, "/root/testdata/sf0.01")
    after = revenue_by_weekday(read_warehouse(spark, paths))
    assert after is not before
    new_rows = _rows(after)
    assert new_rows != old_rows
    clear_plan_memo()
    assert new_rows == _rows(revenue_by_weekday(read_warehouse(spark, paths)))


def test_flagship_conf_change_misses(spark, tmp_path):
    paths = _warehouse(spark, tmp_path)
    before = revenue_by_weekday(read_warehouse(spark, paths))
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, str(int(old) + 1))
        assert revenue_by_weekday(read_warehouse(spark, paths)) is not before
    finally:
        spark.conf.set(key, old)


def test_flagship_in_another_session_misses(spark, tmp_path):
    paths = _warehouse(spark, tmp_path)
    before = revenue_by_weekday(read_warehouse(spark, paths))
    other = _session_with_the_same_conf(spark)
    again = revenue_by_weekday(read_warehouse(other, paths))
    assert again is not before
    assert again.sparkSession is other
