"""The four benchmark workloads.

Each workload stages its inputs from the seed, does the program's own
set-up, runs one *unit* of work (a batch window, a page refresh, a
curation pass) as a list of operations, and checks every operation's
output against DuckDB. All calls go through the package's public
functions; nothing here changes package code.

=================  ======================================================
workload           one unit
=================  ======================================================
``etl_full``       ``build_star_warehouse`` + an SCD2 dimension written
                   from ``create_scd_from_input`` over the ``events`` log
``etl_incremental``  K consecutive days, each a ``load_or_update`` of the
                   day's fact slice plus one ``scd_stream_upsert`` drain
                   of the day's change-log file
``dashboard``      one page refresh: eleven registry BI visuals plus
                   ``revenue_by_weekday`` over a warehouse written at
                   set-up, each collected to the client
``curation``       one pass over the heavy curation queries, collected
=================  ======================================================
"""

from __future__ import annotations

import importlib.util
import os
import random
import shutil
import sys
import traceback

import duckdb
import pyspark.sql.functions as F
from pyspark.sql.types import DateType, LongType, StringType, StructField, StructType

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.scd import (
    create_scd_from_input,
)
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans import pipeline
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.queries import (
    registry,
    release_persisted,
)
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.plans.warehouse import (
    PROFIT_SQL,
    REVENUE_SQL,
    fact_sales,
)
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources.tables import load_table
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.streaming.incremental import (
    load_or_update,
)
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.streaming.scd_stream import (
    scd_stream_upsert,
)

from gen import ORDER_DAY0, ORDER_DAYS, write_tables
from metrics import CURATION_QUERIES, DASHBOARD_VISUALS
from spans import catalyst_ms, dir_bytes


def _load_tool(name: str):
    """Import ``tools/<name>.py`` of this checkout by path."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", f"{name}.py")
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    spec.loader.exec_module(mod)
    sys.path[:] = saved  # the tool prepends its own default checkout path
    return mod


_cc = _load_tool("check_correctness")
duck_connection, norm_rows, type_mismatches = _cc.duck_connection, _cc.norm_rows, _cc.type_mismatches

STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
SCD_NK, SCD_ATTRS, SCD_DATE = "user_id", ["user_id", "event_type"], "change_date"
CHANGELOG_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("change_date", DateType()),
])
# DuckDB twin of the package's revenue_by_weekday over the written warehouse
REVENUE_BY_WEEKDAY_SQL = f"""
    SELECT CAST(isodow(CAST(o_orderdate AS DATE)) AS INT) AS "DayOfWeekNumber",
           dayname(CAST(o_orderdate AS DATE)) AS "DayOfWeekName",
           SUM({REVENUE_SQL}) AS sum_rev, SUM({PROFIT_SQL}) AS sum_profit, COUNT(*) AS n_sales
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2
"""
SCD_ORACLE_SQL = """
    WITH versions AS (
      SELECT user_id, event_type, MIN(change_date) AS start_date
      FROM {log} GROUP BY user_id, event_type
    )
    SELECT user_id, event_type, start_date,
           LEAD(start_date) OVER w AS end_date,
           LEAD(start_date) OVER w IS NULL AS is_current
    FROM versions
    WINDOW w AS (PARTITION BY user_id ORDER BY start_date ASC, event_type ASC)
"""
SCD_COLS = "user_id, event_type, start_date, end_date, is_current"


def _parquet_glob(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def _tables_differ(con, left_sql: str, right_sql: str) -> int:
    """Rows in either multiset difference of two queries (0 = equal)."""
    left, right = f"SELECT * FROM ({left_sql})", f"SELECT * FROM ({right_sql})"
    return con.execute(
        f"SELECT (SELECT count(*) FROM ({left} EXCEPT ALL {right}))"
        f" + (SELECT count(*) FROM ({right} EXCEPT ALL {left}))"
    ).fetchone()[0]


class Op:
    """One operation of a unit: its span, and whether it was correct."""

    def __init__(self, name: str, span):
        self.name, self.span, self.ok, self.error = name, span, True, None

    def fail(self, why: str) -> None:
        self.ok, self.error = False, why


def run_op(tracer, ops: list, name: str, body, check=None):
    """Time ``body()`` as one operation; a raise or a failed ``check``
    (run outside the timed span) marks it failed."""
    result = None
    with tracer.span("op", name=name) as sp:
        op = Op(name, sp)
        try:
            result = body(sp)
        except Exception as e:  # noqa: BLE001 - the benchmark keeps going and counts it
            traceback.print_exc()
            op.fail(f"{type(e).__name__}: {e}")
    ops.append(op)
    if op.ok and check is not None:
        try:
            why = check(result)
        except Exception as e:  # noqa: BLE001
            traceback.print_exc()
            why = f"check raised {type(e).__name__}: {e}"
        if why:
            op.fail(why)
    return op


class Workload:
    """Base: stage inputs, set up, run units. ``outputs()`` names the
    directories the program writes, for the storage metrics."""

    name = ""
    sf = 0.1
    TABLES: tuple[str, ...] = ()  # the staged tables the workload reads

    def __init__(self, work_dir: str, seed: int, sf: float | None = None):
        self.work = work_dir
        self.seed = seed
        self.rng = random.Random(seed)
        if sf is not None:
            self.sf = sf
        self.inputs = os.path.join(work_dir, "inputs")
        self.out = os.path.join(work_dir, "out")
        self.reg = registry()

    # staging (the benchmark's cost, recorded but not compared)
    def stage(self) -> dict:
        rows = write_tables(self.inputs, self.sf, self.seed)
        self.con = duck_connection(self.inputs)
        return {"rows": rows, "bytes": self.input_bytes()}

    def input_bytes(self) -> int:
        return sum(os.path.getsize(os.path.join(self.inputs, f"{t}.parquet")) for t in self.TABLES)

    def setup(self, spark) -> None:
        """Program set-up beyond ``get_spark``."""

    def unit(self, spark, tracer) -> list[Op]:
        raise NotImplementedError

    def warmup(self, spark, tracer) -> list[Op]:
        """An untimed pass over every code path a unit runs."""
        return self.unit(spark, tracer)

    def outputs(self) -> list[str]:
        return [self.out]


class EtlFull(Workload):
    name = "etl_full"
    sf = 0.05
    TABLES = (*STAR_TABLES, "events")

    def stage(self) -> dict:
        info = super().stage()
        self.fact_expect = self.con.execute(
            f"SELECT count(*), sum({REVENUE_SQL}), sum({PROFIT_SQL})"
            " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
        ).fetchone()
        log = "(SELECT user_id, event_type, CAST(ts AS DATE) AS change_date FROM events)"
        self.scd_expect = SCD_ORACLE_SQL.format(log=log)
        return info

    def unit(self, spark, tracer) -> list[Op]:
        wh = os.path.join(self.out, "warehouse")
        dim = os.path.join(self.out, "dim_user_scd")

        def body(_sp):
            with tracer.span("plans.pipeline.build_star_warehouse"):
                pipeline.build_star_warehouse(spark, self.inputs, wh)
            with tracer.span("operators.scd.create"):
                log = load_table(spark, self.inputs, "events").select(
                    SCD_NK, "event_type", F.to_date("ts").alias(SCD_DATE)
                )
                create_scd_from_input(log, SCD_ATTRS, SCD_DATE, SCD_NK).write.mode("overwrite").parquet(dim)

        def check(_):
            got = self.con.execute(
                "SELECT count(*), sum(revenue_usd), sum(gross_profit_usd)"
                f" FROM {_parquet_glob(wh + '/fact_sales')}"
            ).fetchone()
            if tuple(got) != tuple(self.fact_expect):
                return f"fact totals {got} != {self.fact_expect}"
            n = _tables_differ(self.con, f"SELECT {SCD_COLS} FROM {_parquet_glob(dim)}", self.scd_expect)
            return f"SCD2 dimension differs from the oracle in {n} rows" if n else None

        ops: list[Op] = []
        run_op(tracer, ops, "full_load", body, check)
        return ops


class EtlIncremental(Workload):
    """``HISTORY_DAYS`` fact days ending at a seed-chosen cut-off, and
    the change log up to ``event_cut``, are loaded at set-up; each unit
    applies ``DAYS`` more days to a fresh copy of that committed state."""

    name = "etl_incremental"
    sf = 0.1
    HISTORY_DAYS = 40
    DAYS = 2
    event_cut = 20  # change-log history: event days 0..20 of January 2024

    def stage(self) -> dict:
        write_tables(self.inputs, self.sf, self.seed, ("orders", "lineitem", "events"))
        self.cut = self.rng.randrange(self.HISTORY_DAYS, ORDER_DAYS - self.DAYS)
        con = self.con = duckdb.connect()
        for t in ("orders", "lineitem", "events"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.inputs}/{t}.parquet'")
        con.execute(
            "CREATE VIEW changelog AS SELECT user_id, event_type, CAST(ts AS DATE) AS change_date,"
            " date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS eday FROM events"
        )
        self.staged = os.path.join(self.work, "staged")
        self.state = os.path.join(self.work, "state")
        self.pristine = os.path.join(self.work, "pristine")
        self._cut_fact("history", self.cut - self.HISTORY_DAYS + 1, self.cut)
        self._cut_log("changelog_history", 0, self.event_cut)
        for i in range(1, self.DAYS + 1):
            self._cut_fact(f"day_{i}", self.cut + i, self.cut + i)
            self._cut_log(f"changelog_day_{i}", self.event_cut + i, self.event_cut + i)
        days = range(1, self.DAYS + 1)
        rows = {
            "history_lineitems": self._count("history/lineitem"),
            "day_lineitems": sum(self._count(f"day_{i}/lineitem") for i in days),
            "changelog_history": self._count("changelog_history"),
            "changelog_days": sum(self._count(f"changelog_day_{i}") for i in days),
        }
        return {"rows": rows, "bytes": self.input_bytes(),
                "cut_day": str(ORDER_DAY0 + self.cut), "event_cut_day": self.event_cut}

    def input_bytes(self) -> int:
        return dir_bytes(self.staged)[0]

    def _count(self, name: str) -> int:
        return self.con.execute(f"SELECT count(*) FROM '{self.staged}/{name}.parquet'").fetchone()[0]

    def _cut_fact(self, name: str, lo: int, hi: int) -> None:
        d = os.path.join(self.staged, name)
        os.makedirs(d, exist_ok=True)
        day = "date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))"
        self.con.execute(
            f"COPY (SELECT * FROM orders WHERE {day} BETWEEN {lo} AND {hi} ORDER BY o_orderkey)"
            f" TO '{d}/orders.parquet' (FORMAT PARQUET)"
        )
        self.con.execute(
            "COPY (SELECT * FROM lineitem WHERE l_orderkey IN"
            f" (SELECT o_orderkey FROM orders WHERE {day} BETWEEN {lo} AND {hi})"
            " ORDER BY l_orderkey, l_linenumber)"
            f" TO '{d}/lineitem.parquet' (FORMAT PARQUET)"
        )

    def _cut_log(self, name: str, lo: int, hi: int) -> None:
        self.con.execute(
            f"COPY (SELECT user_id, event_type, change_date FROM changelog WHERE eday BETWEEN {lo} AND {hi}"
            f" ORDER BY user_id, change_date, event_type) TO '{self.staged}/{name}.parquet' (FORMAT PARQUET)"
        )

    def _path(self, what: str) -> str:
        return os.path.join(self.state, what)

    def _load(self, spark, day_dir: str) -> int:
        source = fact_sales(spark, os.path.join(self.staged, day_dir))
        return load_or_update(spark, source, self._path("fact"), "sale_date")[1]

    def _drain(self, spark, log_file: str) -> None:
        shutil.copy(os.path.join(self.staged, f"{log_file}.parquet"), self._path("inbox"))
        scd_stream_upsert(
            spark, self._path("inbox"), self._path("dim"), self._path("checkpoint"),
            SCD_NK, SCD_DATE, SCD_ATTRS, CHANGELOG_SCHEMA,
        )

    def setup(self, spark) -> None:
        shutil.rmtree(self.state, ignore_errors=True)
        os.makedirs(self._path("inbox"))
        self._load(spark, "history")
        self._drain(spark, "changelog_history")
        shutil.rmtree(self.pristine, ignore_errors=True)
        shutil.copytree(self.state, self.pristine)

    def warmup(self, spark, tracer) -> list[Op]:
        # the set-ups run every code path a day runs, and a warm-up day
        # (about 5 s a run) did not steady the timed days
        return []

    def unit(self, spark, tracer) -> list[Op]:
        days = self.DAYS
        shutil.rmtree(self.state)
        shutil.copytree(self.pristine, self.state)
        ops: list[Op] = []
        for i in range(1, days + 1):
            if tracer.enabled:  # snapshot for the SCD useful-work ratio, outside the timed span
                self.con.execute(
                    f"CREATE OR REPLACE TABLE dim_before AS SELECT {SCD_COLS} FROM {_parquet_glob(self._path('dim'))}"
                )

            def body(_sp, i=i):
                with tracer.span("streaming.incremental.load") as load:
                    load.attrs["rows_appended"] = self._load(spark, f"day_{i}")
                with tracer.span("streaming.scd_stream.drain"):
                    self._drain(spark, f"changelog_day_{i}")

            op = run_op(tracer, ops, f"day_{i}", body)
            if tracer.enabled:
                dim_now = f"SELECT {SCD_COLS} FROM {_parquet_glob(self._path('dim'))}"
                op.span.attrs["scd_rows_written"], op.span.attrs["scd_rows_changed"] = self.con.execute(
                    f"SELECT (SELECT count(*) FROM ({dim_now})),"
                    f" (SELECT count(*) FROM ({dim_now} EXCEPT ALL SELECT * FROM dim_before))"
                ).fetchone()
        try:
            why = self._check(days)
        except Exception as e:  # noqa: BLE001 - counted as failed operations
            traceback.print_exc()
            why = f"check raised {type(e).__name__}: {e}"
        if why:
            for op in ops:
                op.fail(why)
        return ops

    def _check(self, days: int) -> str | None:
        first, last = self.cut - self.HISTORY_DAYS + 1, self.cut + days
        cols = "l_orderkey, l_linenumber, CAST(sale_date AS DATE), revenue_usd, gross_profit_usd"
        want = (
            f"SELECT l_orderkey, l_linenumber, CAST(o_orderdate AS DATE), {REVENUE_SQL}, {PROFIT_SQL}"
            " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
            f" WHERE date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) BETWEEN {first} AND {last}"
        )
        n = _tables_differ(self.con, f"SELECT {cols} FROM {_parquet_glob(self._path('fact'))}", want)
        if n:
            return f"fact table differs from history + {days} days in {n} rows"
        log = f"(SELECT * FROM changelog WHERE eday <= {self.event_cut + days})"
        n = _tables_differ(
            self.con, f"SELECT {SCD_COLS} FROM {_parquet_glob(self._path('dim'))}", SCD_ORACLE_SQL.format(log=log)
        )
        return f"merged dimension differs from a rebuild over the whole log in {n} rows" if n else None

    def outputs(self) -> list[str]:
        return [self._path("fact"), self._path("dim")]


class _RegistryPage(Workload):
    """Shared loop of ``dashboard`` and ``curation``: run each query in
    seed order, collect its rows, compare them with the oracle."""

    QUERIES: tuple[str, ...] = ()

    def stage(self) -> dict:
        info = super().stage()
        self.order = list(self.QUERIES)
        self.rng.shuffle(self.order)
        self.expect = {}
        for name in self.QUERIES:
            sql = self._oracle(name)
            if sql is not None:
                res = self.con.execute(sql)
                cols = [d[0] for d in res.description]
                self.expect[name] = (sorted(cols), norm_rows(cols, res.fetchall()))
        self.row_counts: dict[str, int] = {}
        return info

    def _oracle(self, name: str) -> str | None:
        return self.reg[name].oracle

    def _build(self, spark, name: str):
        return self.reg[name].fn(spark, self.inputs)

    def _check(self, name: str, df, rows) -> str | None:
        if name not in self.expect:
            # rows-only query: non-empty, and the same size on every pass
            seen = self.row_counts.setdefault(name, len(rows))
            return None if rows and len(rows) == seen else f"{len(rows)} rows, first pass had {seen}"
        cols, want = self.expect[name]
        if sorted(df.columns) != cols:
            return f"columns {sorted(df.columns)} != {cols}"
        if name in self.reg:
            bad = type_mismatches(df.dtypes, self.con.execute("DESCRIBE " + self._oracle(name)).fetchall())
            if bad:
                return f"type families diverge: {bad}"
        got = norm_rows(df.columns, rows)
        return None if got == want else f"{len(rows)} rows differ from the oracle's {len(want)}"

    def unit(self, spark, tracer) -> list[Op]:
        ops: list[Op] = []
        for name in self.order:
            built = {}

            def body(_sp, name=name):
                with tracer.span("plans.build"):
                    built["df"] = self._build(spark, name)
                return built["df"].collect()

            op = run_op(tracer, ops, name, body, lambda rows, name=name: self._check(name, built["df"], rows))
            if tracer.enabled and "df" in built:
                op.span.attrs["catalyst_ms"] = catalyst_ms(built["df"])
            release_persisted()
        return ops


class Dashboard(_RegistryPage):
    name = "dashboard"
    sf = 0.01
    TABLES = STAR_TABLES
    QUERIES = DASHBOARD_VISUALS

    def _oracle(self, name: str) -> str | None:
        return REVENUE_BY_WEEKDAY_SQL if name == "revenue_by_weekday" else super()._oracle(name)

    def setup(self, spark) -> None:
        self.paths = pipeline.build_star_warehouse(spark, self.inputs, os.path.join(self.out, "warehouse"))

    def warmup(self, spark, tracer) -> list[Op]:
        # the set-ups' warehouse builds warm the JVM; the first timed page
        # is still slower than the second, which the median over the
        # timed pages absorbs, and an untimed page would not fit the
        # run budget
        return []

    def _build(self, spark, name: str):
        if name == "revenue_by_weekday":
            return pipeline.revenue_by_weekday(pipeline.read_warehouse(spark, self.paths))
        return super()._build(spark, name)


class Curation(_RegistryPage):
    name = "curation"
    sf = 0.01
    TABLES = ("documents", "embeddings")
    QUERIES = CURATION_QUERIES

    def outputs(self) -> list[str]:
        # the side indexes q199/q212 keep under the process temp directory
        return [os.environ["TMPDIR"]]


WORKLOADS = {w.name: w for w in (EtlFull, EtlIncremental, Dashboard, Curation)}
