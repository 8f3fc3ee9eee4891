"""The ``dag_lake`` workload: a generated shelf project built, checked and
queried through the framework layer.

The project holds the eight sf0.1 tables as file snapshots at version
2024-01-01, plus 24 older versions each of ``lineitem``, ``orders`` and
``events`` (80 snapshots). Nothing reads the history, but the dirty-check
rehashes every snapshot on every run, as it would in a lake that keeps its
history. Twelve SQL steps cover a staging chain, a diamond (staged
lineitem → supplier, part and order rollups → report), a bucketed step
with a downstream join, a partition-wise incremental step on events with
a full-rebuild sibling, and validation rules on two steps. Every
aggregate is exact (decimal sums and counts), so Spark's tables can be
compared with DuckDB's row for row.

A run times one cold build and then rounds of everyday work:

- cold: empty ``data/tables``, the current snapshots fetched from the
  object store, every step built. Once per run, on the process's fresh
  JVM, so it also pays the JIT and code-generation warm-up; reported as
  ``dag_cold_s`` and per layer, and kept out of ``pass_s``, which it
  would make as noisy as that warm-up;
- then, repeated for ``--seconds`` (at least once), a round of:

  - noop: ``shelf run`` on the built project; nothing may run and no
    Spark job may start;
  - dirty_dim: one ``nation`` row renamed and re-snapshotted (renamed
    back in the next round); exactly ``nation_revenue`` and ``report``
    rebuild;
  - dirty_fact: one day of ``events`` changed and re-snapshotted (changed
    back in the next round); the incremental step rewrites that day's
    partition only and its sibling rebuilds;
  - db: ``execute_query`` over the built tables.

``pass_s`` is the median time of a round.

The seed picks the history dates, the renamed ``nation`` row and the
changed ``events`` day. The framework sees only the generated files.
"""

from __future__ import annotations

import datetime as dt
import io
import os
import random
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import checks

VERSION = "2024-01-01"
TPCH = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
#: snapshot dataset path → source table
SNAPSHOTS = {**{f"tpch/{t}": t for t in TPCH}, "lake/events": "events"}
HISTORY = ("tpch/lineitem", "tpch/orders", "lake/events")
HISTORY_VERSIONS = 24

#: step dataset path → (dependency URIs, SQL template, step config).
#: Template names are the last path segment of each dependency, which is
#: what the framework binds them to when they are unique within a step.
STEPS: dict[str, tuple[list[str], str, dict | None]] = {
    "stg/lineitem": (
        ["snapshot://tpch/lineitem/latest"],
        """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
       CAST(l_quantity AS DECIMAL(12,2)) AS quantity,
       CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS revenue,
       l_returnflag, CAST(l_shipdate AS DATE) AS ship_date
FROM {lineitem}""",
        None,
    ),
    "stg/orders": (
        ["snapshot://tpch/orders/latest"],
        """SELECT o_orderkey, o_custkey, o_orderstatus,
       CAST(o_orderdate AS DATE) AS order_date, o_orderpriority
FROM {orders}""",
        {
            "bucketing": {"keys": ["o_orderkey"], "num_buckets": 8},
            "validation": {"unique_columns": ["o_orderkey"], "not_null": ["o_custkey"]},
        },
    ),
    "stg/customer": (
        ["snapshot://tpch/customer/latest"],
        "SELECT c_custkey, c_nationkey, c_mktsegment FROM {customer}",
        None,
    ),
    "rollup/supplier_revenue": (
        ["table://stg/lineitem/latest", "snapshot://tpch/supplier/latest"],
        """SELECT s.s_suppkey, s.s_nationkey, COUNT(*) AS line_count, SUM(l.revenue) AS revenue
FROM {lineitem} l JOIN {supplier} s ON l.l_suppkey = s.s_suppkey
GROUP BY s.s_suppkey, s.s_nationkey""",
        None,
    ),
    "rollup/part_revenue": (
        ["table://stg/lineitem/latest", "snapshot://tpch/part/latest"],
        """SELECT p.p_brand, p.p_type, COUNT(*) AS line_count,
       SUM(l.quantity) AS quantity, SUM(l.revenue) AS revenue
FROM {lineitem} l JOIN {part} p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand, p.p_type""",
        None,
    ),
    "rollup/order_revenue": (
        ["table://stg/lineitem/latest", "table://stg/orders/latest"],
        """SELECT o.o_orderkey, o.o_custkey, o.order_date, COUNT(*) AS line_count,
       SUM(l.revenue) AS revenue
FROM {orders} o JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderkey, o.o_custkey, o.order_date""",
        {"validation": {"unique_columns": ["o_orderkey"]}},
    ),
    "marts/customer_value": (
        ["table://rollup/order_revenue/latest", "table://stg/customer/latest"],
        """SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment, COUNT(*) AS order_count,
       SUM(o.revenue) AS revenue
FROM {order_revenue} o JOIN {customer} c ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_nationkey, c.c_mktsegment""",
        None,
    ),
    "marts/segment_revenue": (
        ["table://marts/customer_value/latest"],
        """SELECT c_mktsegment, COUNT(*) AS customers, SUM(order_count) AS order_count,
       SUM(revenue) AS revenue
FROM {customer_value} GROUP BY c_mktsegment""",
        None,
    ),
    "marts/nation_revenue": (
        [
            "table://rollup/supplier_revenue/latest",
            "snapshot://tpch/nation/latest",
            "snapshot://tpch/region/latest",
        ],
        """SELECT n.n_nationkey, n.n_name, r.r_name, SUM(s.line_count) AS line_count,
       SUM(s.revenue) AS revenue
FROM {supplier_revenue} s
JOIN {nation} n ON s.s_nationkey = n.n_nationkey
JOIN {region} r ON n.n_regionkey = r.r_regionkey
GROUP BY n.n_nationkey, n.n_name, r.r_name""",
        None,
    ),
    "marts/report": (
        [
            "table://rollup/supplier_revenue/latest",
            "table://rollup/part_revenue/latest",
            "table://rollup/order_revenue/latest",
            "table://marts/nation_revenue/latest",
        ],
        """SELECT 'suppliers' AS source, COUNT(*) AS group_count, SUM(revenue) AS revenue FROM {supplier_revenue}
UNION ALL SELECT 'parts', COUNT(*), SUM(revenue) FROM {part_revenue}
UNION ALL SELECT 'orders', COUNT(*), SUM(revenue) FROM {order_revenue}
UNION ALL SELECT 'top_nation_' || (SELECT n_name FROM {nation_revenue} ORDER BY revenue DESC, n_nationkey LIMIT 1),
       COUNT(*), SUM(revenue) FROM {nation_revenue}""",
        None,
    ),
    "events/daily": (
        ["snapshot://lake/events/latest"],
        """SELECT event_type, COUNT(*) AS events, SUM(CAST(value AS DECIMAL(12,2))) AS value, day
FROM {events} GROUP BY day, event_type""",
        {"incremental": {"partition_by": "day"}},
    ),
    "events/users": (
        ["snapshot://lake/events/latest"],
        """SELECT user_id, COUNT(*) AS events, COUNT(DISTINCT day) AS active_days,
       SUM(CAST(value AS DECIMAL(12,2))) AS value
FROM {events} GROUP BY user_id""",
        None,
    ),
}
DIM_DESCENDANTS = {"marts/nation_revenue", "marts/report"}
FACT_DESCENDANTS = {"events/daily", "events/users"}

#: ``shelf db`` queries of the db phase, by short alias.
DB_QUERIES = (
    "report",
    "SELECT n_name, r_name, revenue FROM nation_revenue ORDER BY revenue DESC, n_name LIMIT 5",
    "SELECT day, SUM(events) AS events, SUM(value) AS value FROM daily GROUP BY day",
)

PHASES = ("cold", "noop", "dirty_dim", "dirty_fact", "db")
#: the phases of one round of everyday work; ``pass_s`` is a round's time
ROUND = PHASES[1:]


def _quiet(_msg: str) -> None:
    pass


# ---------------------------------------------------------------------------
# Inputs
# ---------------------------------------------------------------------------


class Inputs:
    """The raw files the project snapshots, generated from the seed. All
    of them, the changed ``nation`` and ``events`` versions too, are written
    up front, in the benchmark's child process; only their paths come back."""

    def __init__(self, raw: Path, sf_dir: str, seed: int) -> None:
        rng = random.Random(seed)
        tables = {t: pq.read_table(os.path.join(sf_dir, f"{t}.parquet")) for t in TPCH}
        events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
        tables["events"] = events.append_column("day", pc.cast(events["ts"], pa.date32()))
        first = dt.date(2022, 1, 1)
        days = rng.sample(range((dt.date(2023, 12, 31) - first).days), HISTORY_VERSIONS)
        history_dates = sorted((first + dt.timedelta(d)).isoformat() for d in days)
        nation_row = rng.randrange(tables["nation"].num_rows)
        days_of_rows = tables["events"]["day"].to_pylist()
        self.event_day = rng.choice(sorted(set(days_of_rows)))
        event_row = rng.choice([i for i, d in enumerate(days_of_rows) if d == self.event_day])

        raw.mkdir(parents=True, exist_ok=True)
        writes: dict[str, tuple[pa.Table, Path]] = {}
        for dataset, table in SNAPSHOTS.items():
            writes[f"{dataset}/{VERSION}"] = (tables[table], raw / f"{table}.parquet")
        for dataset in HISTORY:
            tbl = tables[SNAPSHOTS[dataset]]
            for i, version in enumerate(history_dates):
                # older versions lack a growing prefix of today's rows
                cut = (i + 1) * max(1, tbl.num_rows // 400)
                writes[f"{dataset}/{version}"] = (tbl.slice(cut), raw / f"{SNAPSHOTS[dataset]}-{version}.parquet")
        #: dataset path with version → raw file; current versions first
        self.files = {key: path for key, (_tbl, path) in writes.items()}
        self.renamed_nation = raw / "nation-dirty.parquet"
        self.changed_events = raw / "events-dirty.parquet"
        writes["renamed_nation"] = (_renamed(tables["nation"], nation_row), self.renamed_nation)
        writes["changed_events"] = (_changed(tables["events"], event_row), self.changed_events)
        with ThreadPoolExecutor(4) as pool:
            list(pool.map(lambda job: pq.write_table(*job), writes.values()))


def _renamed(nation: pa.Table, row: int) -> pa.Table:
    names = nation["n_name"].to_pylist()
    names[row] += "_RENAMED"
    return nation.set_column(nation.schema.get_field_index("n_name"), "n_name", pa.array(names))


def _changed(events: pa.Table, row: int) -> pa.Table:
    values = events["value"].to_pylist()
    values[row] = round(values[row] + 1.0, 2)
    return events.set_column(events.schema.get_field_index("value"), "value", pa.array(values))


# ---------------------------------------------------------------------------
# Project
# ---------------------------------------------------------------------------


def step_uri(dataset: str) -> str:
    return f"table://{dataset}/{VERSION}"


def write_project(files: dict[str, Path]) -> int:
    """Write shelf.yaml, step scripts and configs; ingest every snapshot
    (in the current directory). Returns the snapshot bytes ingested."""
    from shelf_spark.framework import core, paths, snapshots
    from shelf_spark.framework.types import StepURI
    from shelf_spark.framework.utils import save_yaml

    shelf = core.Shelf.init()
    for dataset, (deps, sql, config) in STEPS.items():
        script = paths.TABLE_SCRIPTS_DIR / f"{dataset}.sql"
        script.parent.mkdir(parents=True, exist_ok=True)
        script.write_text(sql + "\n")
        if config:
            save_yaml({"version": 1, **config}, script.with_suffix(".meta.yaml"))
        shelf.add_step(StepURI.parse(step_uri(dataset)), [StepURI.parse(d) for d in deps])
    nbytes = 0
    for dataset_version, path in files.items():
        snapshots.Snapshot.create(path, dataset_version)
        shelf.add_step(StepURI.parse(f"snapshot://{dataset_version}"))
        nbytes += path.stat().st_size
    shelf.save()
    return nbytes


def shelf_run(spark) -> set[str]:
    """What ``shelf run`` does once Spark is up; returns the steps run."""
    from shelf_spark.framework import core, steps

    dag = core.Shelf().resolve_latest()
    dag = steps.prune_completed(dag)
    if dag:
        steps.execute_dag(spark, dag, progress=_quiet)
    return {str(s) for s in dag}


# ---------------------------------------------------------------------------
# The workload
# ---------------------------------------------------------------------------


def _partition_mtimes(dataset: str) -> dict[str, int]:
    from shelf_spark.framework import paths

    out = paths.table_data_path(f"{dataset}/{VERSION}")
    return {str(p.relative_to(out)): p.stat().st_mtime_ns for p in out.glob("day=*/*") if p.is_file()}


class DagLake:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.project = ctx.work / "lake"
        self.project.mkdir()
        os.chdir(self.project)
        self.inputs = ctx.child(Inputs, ctx.work / "raw", ctx.sf_dir, ctx.seed)
        self.files = self.inputs.files
        self.lake_bytes = write_project(self.files)
        self.times: dict[str, list[float]] = {p: [] for p in PHASES}
        self.db_latencies: list[float] = []
        self.passes: list[float] = []

    # -- bookkeeping ----------------------------------------------------------

    def _timed(self, phase: str, fn):
        ctx = self.ctx
        with ctx.tracer.phase(phase), ctx.jobs(phase):
            t0 = time.perf_counter()
            result = fn()
            elapsed = time.perf_counter() - t0
        self.times[phase].append(elapsed)
        return result

    # -- the timed operations -------------------------------------------------

    def cold(self) -> None:
        """Every step built from empty ``data/tables``, the current snapshots
        fetched from the object store. Timed and checked once per run; a
        fresh process's first build also pays the JVM's warm-up."""
        from shelf_spark.framework import paths, tables

        ctx = self.ctx
        with ctx.tracer.phase("prep"):
            shutil.rmtree(paths.TABLES_DIR, ignore_errors=True)
            for dataset in STEPS:
                self.spark.sql(f"DROP TABLE IF EXISTS {tables.catalog_table_name(_uri(step_uri(dataset)))}")
            for dataset in SNAPSHOTS:
                paths.snapshot_data_path(f"{dataset}/{VERSION}", ".parquet").unlink()
        ran = self._timed("cold", lambda: shelf_run(self.spark))
        fetched = {f"snapshot://{d}/{VERSION}" for d in SNAPSHOTS}
        for uri in sorted(fetched - ran):
            ctx.attempt(False, f"cold: {uri} was not fetched")
        with ctx.unmeasured():
            self._steps_ok("cold", ran, STEPS)

    def _steps_ok(self, phase: str, ran: set[str], datasets, extra=None) -> None:
        """One op per expected step: it ran and its table matches DuckDB
        running the step's SQL over the current snapshots."""
        from shelf_spark.framework import paths

        ctx = self.ctx
        current = {t: str(paths.snapshot_data_path(f"{d}/{VERSION}", ".parquet").resolve()) for d, t in SNAPSHOTS.items()}
        ctx.child(checks.load_mirror, current, {d: (deps, sql) for d, (deps, sql, _cfg) in STEPS.items()})
        for dataset in sorted(datasets):
            uri = step_uri(dataset)
            problem = None if uri in ran else f"{phase}: {dataset} did not run"
            built = str(paths.table_data_path(f"{dataset}/{VERSION}").resolve())
            problem = problem or ctx.child(checks.table_problem, dataset, built) or (extra(dataset) if extra else None)
            ctx.attempt(problem is None, problem)
        want = {step_uri(d) for d in datasets}
        for uri in sorted(ran - want):
            ctx.attempt(phase == "cold" and uri.startswith("snapshot://"), f"{phase}: {uri} ran")

    def work_round(self) -> None:
        """One round of the lake's everyday work on the built project: a
        no-op check, the two dirty rebuilds and the ``shelf db`` queries.
        Even rounds snapshot the changed ``nation`` and ``events`` files,
        odd rounds the original ones back, so every round has the same
        dirty steps."""
        from shelf_spark.framework import core, query, snapshots

        ctx, spark = self.ctx, self.spark
        change = not len(self.passes) % 2
        ran = self._timed("noop", lambda: shelf_run(spark))
        jobs = ctx.job_count("noop")
        ctx.attempt(not ran and jobs == 0, f"noop ran {sorted(ran)} and started {jobs} Spark jobs")

        with ctx.tracer.phase("prep"):
            nation = self.inputs.renamed_nation if change else self.files[f"tpch/nation/{VERSION}"]
            snapshots.Snapshot.create(nation, f"tpch/nation/{VERSION}")
        ran = self._timed("dirty_dim", lambda: shelf_run(spark))
        with ctx.unmeasured():
            self._steps_ok("dirty_dim", ran, DIM_DESCENDANTS)

        with ctx.tracer.phase("prep"):
            events = self.inputs.changed_events if change else self.files[f"lake/events/{VERSION}"]
            snapshots.Snapshot.create(events, f"lake/events/{VERSION}")
        before = _partition_mtimes("events/daily")
        ran = self._timed("dirty_fact", lambda: shelf_run(spark))
        changed = f"day={self.inputs.event_day.isoformat()}/"

        def one_partition(dataset: str) -> str | None:
            if dataset != "events/daily":
                return None
            kept = {k: v for k, v in before.items() if not k.startswith(changed)}
            if any(after.get(k) != v for k, v in kept.items()):
                return "dirty_fact rewrote partitions other than " + changed
            if not any(k.startswith(changed) and after[k] != before.get(k) for k in after):
                return "dirty_fact did not rewrite " + changed
            return None

        with ctx.unmeasured():
            after = _partition_mtimes("events/daily")
            self._steps_ok("dirty_fact", ran, FACT_DESCENDANTS, one_partition)

        results = []

        def db_pass():
            for sql in DB_QUERIES:
                t0 = time.perf_counter()
                df = query.execute_query(spark, core.Shelf(), sql, out=io.StringIO())
                self.db_latencies.append(time.perf_counter() - t0)
                results.append(df)

        self._timed("db", db_pass)
        with ctx.unmeasured():  # against the mirror of the dirty_fact check
            for sql, df in zip(DB_QUERIES, results):
                rows = [tuple(r) for r in df.collect()]
                problem = ctx.child(checks.query_problem, sql if " " in sql else f"SELECT * FROM {sql}", rows, df.columns)
                ctx.attempt(problem is None, problem)
        self.passes.append(sum(self.times[p][-1] for p in ROUND))

    # -- reporting ------------------------------------------------------------

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        med = statistics.median
        return {
            "dag_cold_s": (med(self.times["cold"]), "s"),
            "dag_noop_s": (med(self.times["noop"]), "s"),
            "dag_dirty_dim_s": (med(self.times["dirty_dim"]), "s"),
            "dag_dirty_fact_s": (med(self.times["dirty_fact"]), "s"),
            "db_query_p50_s": (med(self.db_latencies), "s"),
        }

    def pass_s(self) -> float:
        return statistics.median(self.passes)

    def notes(self) -> list[str]:
        return [
            "rounds (noop + dirty_dim + dirty_fact + db): " + " ".join(f"{p:.3f}" for p in self.passes) + " s",
            f"db_query_p50_s over {len(self.db_latencies)} execute_query calls",
            f"lake: {len(self.files)} snapshots, {self.lake_bytes / 1e6:.1f} MB, {len(STEPS)} steps",
        ]


def _uri(text: str):
    from shelf_spark.framework.types import StepURI

    return StepURI.parse(text)


def run(ctx) -> DagLake:
    lake = DagLake(ctx)
    ctx.setup_done()
    lake.cold()
    ctx.repeat(lake.work_round)
    return lake

