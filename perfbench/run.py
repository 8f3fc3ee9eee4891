"""Benchmark of the shelf framework layer and the query registry.

Run from the root of a checkout:

    python3 perfbench/run.py --workload dag_lake --seed 1 --seconds 10 --trace 0

Workloads (see ``lake.py`` and ``ops.py``):

- ``dag_lake``: a generated shelf project; cold build, no-op check, two
  dirty rebuilds and ``shelf db`` queries through the framework layer;
- ``ops_iterative``: registry queries whose time is mostly DataFrame
  construction.

One process runs one workload on ``local[4]`` over the sf0.1 test tables.
It repeats the workload's timed operations until ``--seconds`` have
passed (at least once), checks every output, prints each metric with its
unit, and ends with one JSON line: ``{"correct", "attempted", "failed",
"metrics"}``.

With ``--trace 0`` the JSON metrics are the end-to-end metrics:

- ``setup_s``: benchmark start until the first timed operation (Spark
  start, project generation and snapshot ingest; no checks);
- ``pass_s``: median wall time of one repetition of the workload's timed
  operations: on ``dag_lake`` a round of no-op check, dirty rebuilds and
  db queries (the cold build is timed once, outside it), on
  ``ops_iterative`` a pass over its queries;
- ``peak_rss_mb``: peak resident memory of the Python driver plus the JVM
  while the program works. The JVM's heap is fixed at 2 GB (``-Xms``),
  which a run fills, so the JVM's part moves with its memory outside the
  heap (metaspace, code, threads, Arrow and network buffers); more heap
  demand shows as collection time, or fails the run. The benchmark's
  input generation and checks run in a child process, which does not
  count, and the peaks are reset after each check. Both parts are
  printed.

With ``--trace 1`` the framework modules are wrapped with spans, Spark
writes an event log, and the JSON metrics are the per-layer metrics of
``BENCHMARK.json``. Spans and per-query plan fingerprints are written to
``perfbench/out/`` at exit. A traced run also checks its own
instrumentation: a per-layer metric that reads 0 on the phase it belongs
to marks the run incorrect.

Every file the run writes stays under ``perfbench/.work/`` (removed at
exit) and ``perfbench/out/``.
"""

from __future__ import annotations

T0 = __import__("time").perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import checks  # noqa: E402

CORES = 4
DRIVER_MEM = "2g"
WORKLOADS = ("dag_lake", "ops_iterative")
_BLOCK_RACE = re.compile(r"Block rdd_\d+_\d+ already exists")

LOG4J = """\
rootLogger.level = warn
rootLogger.appenderRef.file.ref = file
appender.file.type = File
appender.file.name = file
appender.file.fileName = {path}
appender.file.layout.type = PatternLayout
appender.file.layout.pattern = %d{{UNIX_MILLIS}} %p %c{{1}}: %m%n
"""


# ---------------------------------------------------------------------------
# Run context
# ---------------------------------------------------------------------------


class JobWindow:
    """Spark job ids [first, end) and the epoch-ms window of one operation."""

    def __init__(self, ctx: Context, label: str) -> None:
        self.ctx, self.label = ctx, label

    def __enter__(self) -> JobWindow:
        self.first, self.t_start = self.ctx.next_job_id(), time.time() * 1000
        return self

    def __exit__(self, *exc) -> None:
        self.end, self.t_end = self.ctx.next_job_id(), time.time() * 1000
        self.ctx.windows.setdefault(self.label, []).append(self)

    @property
    def count(self) -> int:
        return self.end - self.first


class Context:
    def __init__(self, args, root: Path, work: Path, sf_dir: str, spark, tracer) -> None:
        self.root, self.work, self.spark, self.tracer = root, work, spark, tracer
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.sf_dir = sf_dir
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.windows: dict[str, list[JobWindow]] = {}
        self.setup_s = 0.0
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self.rss = PeakRss(spark.sparkContext._jvm.ProcessHandle.current().pid())
        #: runs the benchmark's own work (input generation, checks) in a child process
        self.child = checks.Child()

    def unmeasured(self):
        """Output checks: kept out of the peak memory."""
        return self.rss.paused()

    def next_job_id(self) -> int:
        return self._dag.numTotalJobs()

    def jobs(self, label: str) -> JobWindow:
        return JobWindow(self, label)

    def job_count(self, label: str) -> int:
        return self.windows[label][-1].count

    def attempt(self, ok: bool, problem: str | None) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(problem or "unnamed check failed")

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - T0
        self.tracer.scope = "run"

    def repeat(self, fn) -> None:
        """Call fn until --seconds have passed; at least once."""
        start = time.perf_counter()
        while True:
            fn()
            if time.perf_counter() - start >= self.seconds:
                return


# ---------------------------------------------------------------------------
# Spark
# ---------------------------------------------------------------------------


def configure_spark(work: Path, trace: bool) -> None:
    """Settings for ``shelf_spark.session.get_spark``, the session builder
    ``shelf run`` uses: a driver heap of fixed size, every file Spark writes
    under ``work``, and with ``trace`` an event log.

    The heap starts at its maximum (``-Xms``): left to grow, it grows as G1
    sees fit, which depends on how long its collections took on a shared
    machine, and the JVM's peak resident memory then spread by almost a
    quarter of its median between runs of the same code."""
    log4j = work / "log4j2.properties"
    log4j.write_text(LOG4J.format(path=work / "spark.log"))
    java_opts = (
        f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
        f" -Dlog4j2.configurationFile=file:{log4j}"
    )
    confs = {"spark.local.dir": str(work / "spark-local")}
    if trace:
        (work / "eventlog").mkdir()
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work / 'eventlog'}",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    submit = ["--driver-java-options", java_opts]
    for k, v in confs.items():
        submit += ["--conf", f"{k}={v}"]
    os.environ.update(
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_WAREHOUSE=str(work / "warehouse"),
        PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
    )


class PeakRss:
    """Peak resident memory (VmHWM) of the Python driver and of the JVM
    while the program works. Around the output checks (collecting results
    for the child process) ``paused`` reads both peaks first and resets
    them after (``/proc/<pid>/clear_refs``), so the checks do not count."""

    def __init__(self, jvm_pid: int) -> None:
        self.pids = {"python": os.getpid(), "jvm": jvm_pid}
        self.peak_kb = dict.fromkeys(self.pids, 0)

    @staticmethod
    def _hwm_kb(pid: int) -> int:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    def sample(self) -> None:
        for proc, pid in self.pids.items():
            self.peak_kb[proc] = max(self.peak_kb[proc], self._hwm_kb(pid))

    @contextlib.contextmanager
    def paused(self):
        self.sample()
        try:
            yield
        finally:
            for pid in self.pids.values():
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")

    def mb(self) -> dict[str, float]:
        self.sample()
        return {proc: kb / 1024 for proc, kb in self.peak_kb.items()}


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# Per-layer metrics
# ---------------------------------------------------------------------------

#: per-layer metric → (span name, field of trace.summarize)
SPAN_METRICS = {
    "utils.checksum_s": ("utils.checksum_file", "s"),
    "utils.checksum_mb": ("utils.checksum_file", "mb"),
    "utils.checksum_calls": ("utils.checksum_file", "calls"),
    "utils.yaml_load_s": ("utils.load_yaml", "s"),
    "utils.yaml_load_calls": ("utils.load_yaml", "calls"),
    "utils.yaml_save_s": ("utils.save_yaml", "s"),
    "schemas.validate_s": ("schemas.validate", "s"),
    "schemas.validate_calls": ("schemas.validate", "calls"),
    "core.load_s": ("core.Shelf.__init__", "s"),
    "snapshots.fresh_check_s": ("snapshots.Snapshot.is_up_to_date", "s"),
    "snapshots.create_s": ("snapshots.Snapshot.create", "s"),
    "store.upload_s": ("store.CachedStore.upload", "s"),
    "store.upload_mb": ("store.CachedStore.upload", "mb"),
    "store.download_s": ("store.CachedStore.download", "s"),
    "steps.prune_s": ("steps.prune_completed", "s"),
    "steps.execute_s": ("steps.execute_dag", "s"),
    "steps.steps_run": ("steps.execute_step", "calls"),
    "tables.build_s": ("tables.build_table", "s"),
    "tables.build_self_s": ("tables.build_table", "self_s"),
    "tables.logical_checksum_s": ("tables.logical_checksum", "s"),
    "tables.is_completed_s": ("tables.is_completed", "s"),
    "table_metadata.validate_s": ("table_metadata.TableMetadata.validate_df", "s"),
    "table_metadata.sidecar_s": ("table_metadata.TableMetadata.write_sidecar", "s"),
    "table_metadata.manifest_s": ("table_metadata.generate_input_manifest", "s"),
    "query.register_views_s": ("query.register_shelf_views", "s"),
    "query.execute_s": ("query.execute_query", "s"),
}
SPARK_METRICS = ("jobs", "tasks", "executor_cpu_s", "input_rows", "output_mb", "shuffle_mb", "spill_mb")

#: dag_lake phase → the per-layer metrics reported for it.
DAG_LAYER_METRICS = {
    "setup": ["snapshots.create_s", "store.upload_s", "store.upload_mb", "utils.checksum_mb", "schemas.validate_calls"],
    "cold": [
        "wall_s",
        "steps.prune_s", "steps.execute_s", "steps.steps_run", "steps.overlap",
        "tables.build_s", "tables.build_self_s", "tables.logical_checksum_s", "tables.is_completed_s",
        "table_metadata.validate_s", "table_metadata.sidecar_s", "table_metadata.manifest_s",
        "store.download_s", "utils.checksum_mb",
    ] + [f"spark.{m}" for m in SPARK_METRICS],
    "noop": [
        "wall_s",
        "utils.checksum_s", "utils.checksum_mb", "utils.checksum_calls", "utils.yaml_load_s",
        "utils.yaml_load_calls", "schemas.validate_s", "schemas.validate_calls", "core.load_s",
        "snapshots.fresh_check_s", "steps.prune_s", "tables.is_completed_s", "spark.jobs",
    ],
    "dirty_dim": [
        "wall_s",
        "utils.checksum_s", "utils.checksum_mb", "utils.checksum_calls", "utils.yaml_load_s",
        "utils.yaml_load_calls", "utils.yaml_save_s", "steps.prune_s", "steps.execute_s",
        "steps.steps_run", "tables.build_s", "tables.build_self_s", "tables.logical_checksum_s",
        "tables.is_completed_s",
    ] + [f"spark.{m}" for m in SPARK_METRICS],
    "dirty_fact": [
        "wall_s",
        "steps.prune_s", "steps.execute_s", "steps.steps_run", "steps.overlap", "tables.build_s",
        "tables.build_self_s", "tables.logical_checksum_s", "tables.is_completed_s",
    ] + [f"spark.{m}" for m in SPARK_METRICS],
    "db": ["wall_s", "query.register_views_s", "query.execute_s", "spark.jobs", "spark.tasks", "spark.executor_cpu_s", "spark.input_rows"],
}
OPS_LAYER_METRICS = [
    "queries.construct_s", "queries.construct_jobs", "queries.action_s", "queries.action_jobs",
    "queries.plan_s", "queries.block_races",
] + [f"ops.spark.{m}" for m in ("tasks", "executor_cpu_s", "input_rows", "shuffle_mb", "spill_mb")]
#: per-layer metrics that may read 0 on a healthy run (the self-test
#: requires every other one to read above 0). noop must start no job; on a
#: cold build every step has a dirty snapshot upstream, so
#: ``prune_completed`` never asks ``is_completed``.
MAY_BE_ZERO = {"dag.noop.spark.jobs", "dag.cold.tables.is_completed_s", "queries.block_races", "ops.spark.spill_mb",
               "dag.cold.spark.spill_mb", "dag.dirty_dim.spark.spill_mb", "dag.dirty_fact.spark.spill_mb"}


def per_layer_names() -> list[str]:
    return [f"dag.{phase}.{m}" for phase, ms in DAG_LAYER_METRICS.items() for m in ms] + OPS_LAYER_METRICS


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "ratio" if name.endswith("overlap") else "count"


def dag_layers(ctx, tracer, jobs) -> tuple[dict[str, float], dict[str, dict]]:
    """Per-layer metrics of each dag_lake phase, averaged over the times the
    phase ran, and the phase's wall time split among layers."""
    import spans as tr
    import eventlog

    out: dict[str, float] = {}
    accounting: dict[str, dict] = {}
    for phase, names in DAG_LAYER_METRICS.items():
        phase_spans = tracer.in_scope(phase)
        roots = [s for s in phase_spans if s.name == f"phase.{phase}"]
        if roots:
            shares: dict[str, float] = {}
            for root in roots:
                for layer, secs in tr.account(phase_spans, root).items():
                    shares[layer] = shares.get(layer, 0.0) + secs / len(roots)
            accounting[phase] = {"wall_s": sum(r.duration for r in roots) / len(roots), "shares_s": shares}
        summary = tr.summarize(phase_spans)
        n = len(roots) or 1  # setup has no root span and runs once
        spark = eventlog.window(jobs, [(w.first, w.end) for w in ctx.windows.get(phase, [])])
        for m in names:
            if m == "wall_s":
                value = accounting[phase]["wall_s"]
            elif m == "steps.overlap":
                build = summary.get("tables.build_table", {}).get("s", 0.0)
                execute = summary.get("steps.execute_dag", {}).get("s", 0.0)
                value = build / execute if execute else 0.0
            elif m.startswith("spark."):
                value = spark[m[len("spark."):]] / n
            else:
                span, field = SPAN_METRICS[m]
                row = summary.get(span, {})
                value = (row.get("bytes", 0) / 1e6 if field == "mb" else row.get(field, 0)) / n
            out[f"dag.{phase}.{m}"] = value
    return out, accounting


def ops_layers(ctx, registry, jobs, log_lines) -> dict[str, float]:
    import eventlog

    passes = len(registry.passes)
    recs = registry.records
    windows = [w for ws in ctx.windows.values() for w in ws]
    spark = eventlog.window(jobs, [(w.first, w.end) for w in windows])
    races = sum(1 for t in log_lines if any(w.t_start <= t <= w.t_end for w in windows))
    out = {
        "queries.construct_s": sum(r["construct_s"] for r in recs) / passes,
        "queries.construct_jobs": sum(r["construct_jobs"] for r in recs) / passes,
        "queries.action_s": sum(r["action_s"] for r in recs) / passes,
        "queries.action_jobs": sum(r["action_jobs"] for r in recs) / passes,
        "queries.plan_s": sum(r["plan_s"] for r in recs) / passes,
        "queries.block_races": races / passes,
    }
    for m in ("tasks", "executor_cpu_s", "input_rows", "shuffle_mb", "spill_mb"):
        out[f"ops.spark.{m}"] = spark[m] / passes
    return out


def block_race_times(log_path: Path) -> list[float]:
    """Epoch-ms timestamps of "Block rdd_N already exists" warnings."""
    if not log_path.exists():
        return []
    out = []
    for line in log_path.read_text(errors="replace").splitlines():
        if _BLOCK_RACE.search(line):
            try:
                out.append(float(line.split(" ", 1)[0]))
            except ValueError:
                pass
    return out


def selftest(workload: str, metrics: dict[str, float], lake=None) -> list[str]:
    """Problems with the instrumentation itself: a per-layer metric that
    reads 0 on the phase it is attributed to, or a no-op dirty-check that
    hashed less than the whole lake."""
    names = [n for n in per_layer_names() if n.startswith("dag.") == (workload == "dag_lake")]
    problems = [f"{n} reads 0" for n in names if n not in MAY_BE_ZERO and not metrics.get(n)]
    if lake is not None and metrics.get("dag.noop.utils.checksum_mb", 0) * 1e6 < lake.lake_bytes:
        problems.append(
            f"dag.noop.utils.checksum_mb {metrics.get('dag.noop.utils.checksum_mb', 0):.1f}"
            f" < lake {lake.lake_bytes / 1e6:.1f} MB"
        )
    return problems


# ---------------------------------------------------------------------------
# Output
# ---------------------------------------------------------------------------


def report_end_to_end(workload: str, result, ctx, rss: dict[str, float]) -> dict[str, tuple[float, str]]:
    own = result.end_to_end()
    error_rate = ctx.failed / ctx.attempted if ctx.attempted else 1.0
    print(f"# {workload}: seed {ctx.seed}, {len(result.passes)} repetition(s), local[{CORES}], {ctx.sf_dir}")
    for name in ("dag_cold_s", "dag_noop_s", "dag_dirty_dim_s", "dag_dirty_fact_s", "db_query_p50_s", "ops_pass_s"):
        if name in own:
            value, unit = own[name]
            print(f"{name:<18} {value:10.4f} {unit}")
        else:
            print(f"{name:<18} {'n/a':>10}    (not measured by {workload})")
    print(f"{'setup_s':<18} {ctx.setup_s:10.4f} s")
    print(f"{'error_rate':<18} {error_rate:10.4f} ratio ({ctx.failed} of {ctx.attempted} ops)")
    print(f"{'peak_rss_mb':<18} {sum(rss.values()):10.1f} MB"
          f" (python {rss['python']:.1f} + jvm {rss['jvm']:.1f})")
    print(f"{'pass_s':<18} {result.pass_s():10.4f} s")
    for note in result.notes():
        print(f"# {note}")
    return {
        "setup_s": (ctx.setup_s, "s"),
        "pass_s": (result.pass_s(), "s"),
        "peak_rss_mb": (sum(rss.values()), "MB"),
    }


def previous_untraced(out_dir: Path, workload: str, seed: int) -> float | None:
    path = out_dir / f"{workload}-seed{seed}-trace0.json"
    if path.exists():
        return json.loads(path.read_text()).get("pass_s")
    return None


# ---------------------------------------------------------------------------
# Main
# ---------------------------------------------------------------------------


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = Path.cwd().resolve()
    missing = [p for p in ("shelf_spark/framework", "shelf_spark/queries", "tools/check_correctness.py")
               if not (root / p).exists()]
    if missing:
        print(f"perfbench: run from the root of a checkout; missing {', '.join(missing)}", file=sys.stderr)
        return 2
    # read when shelf_spark.session is first imported
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ.pop("SHELF_SPARK_CONF_OVERRIDES", None)
    sys.path.insert(0, str(root))
    from shelf_spark.data import DEFAULT_SF_DIR as sf_dir  # $SPARK_GRAFT_SF_DIR or the sf0.1 tables

    if not os.path.isdir(sf_dir):
        print(f"perfbench: test tables not found at {sf_dir}", file=sys.stderr)
        return 2

    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    out_dir = HERE / "out"
    out_dir.mkdir(exist_ok=True)
    (work / "tmp").mkdir(parents=True)
    os.environ.update(
        TMPDIR=str(work / "tmp"),
        SHELF_STORE_DIR=str(work / "store"),
        SHELF_CACHE_DIR=str(work / "cache"),
        # the JVM spark-submit starts to build the driver's command line
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
    )

    import spans as tr

    tracer = tr.Tracer()
    spark = ctx = None
    try:
        try:
            configure_spark(work, bool(args.trace))
            from shelf_spark.session import get_spark

            spark = get_spark("perfbench")
            if args.trace:
                tracer.install()
            ctx = Context(args, root, work, sf_dir, spark, tracer)
            if args.workload == "dag_lake":
                import lake

                result = lake.run(ctx)
            else:
                import ops

                result = ops.run(ctx)
            rss = ctx.rss.mb()
        except Exception:  # noqa: BLE001 - report and exit non-zero
            traceback.print_exc()
            return 1
        finally:
            os.chdir(root)
            tracer.uninstall()
            if ctx is not None:
                ctx.child.close()
            if spark is not None:
                stop_spark(spark)

        e2e = report_end_to_end(args.workload, result, ctx, rss)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        if args.trace:
            metrics = trace_report(args, ctx, result, tracer, work, out_dir)
        else:
            (out_dir / f"{args.workload}-seed{args.seed}-trace0.json").write_text(
                json.dumps({"pass_s": result.pass_s(), "setup_s": ctx.setup_s, "peak_rss_mb": rss}) + "\n"
            )
        for problem in ctx.problems:
            print(f"# FAILED: {problem}")
        print(json.dumps({
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def trace_report(args, ctx, result, tracer, work: Path, out_dir: Path) -> dict:
    import eventlog

    jobs = eventlog.parse(str(work / "eventlog"))
    values = dict.fromkeys(per_layer_names(), 0.0)
    accounting: dict[str, dict] = {}
    if args.workload == "dag_lake":
        layer, accounting = dag_layers(ctx, tracer, jobs)
        values.update(layer)
        problems = selftest(args.workload, values, result)
    else:
        values.update(ops_layers(ctx, result, jobs, block_race_times(work / "spark.log")))
        problems = selftest(args.workload, values)
    for problem in problems:
        ctx.attempt(False, f"selftest: {problem}")

    print("# per-layer metrics")
    for name in per_layer_names():
        if name.startswith("dag.") == (args.workload == "dag_lake"):
            print(f"{name:<44} {values[name]:12.4f} {unit_of(name)}")
    for phase, acc in accounting.items():
        print(f"# {phase}: wall {acc['wall_s']:.3f} s =", " + ".join(
            f"{layer} {secs:.3f}" for layer, secs in sorted(acc["shares_s"].items(), key=lambda kv: -kv[1])
        ))
    if hasattr(result, "records"):
        print("# query                          pass construct_s action_s c_jobs a_jobs plan_s  plan")
        for r in result.records:
            print(f"  {r['query']:<32} {r['pass']:>3} {r['construct_s']:10.3f} {r['action_s']:8.3f}"
                  f" {r['construct_jobs']:6d} {r['action_jobs']:6d} {r['plan_s']:6.3f}  {r['plan']}")
    untraced = previous_untraced(out_dir, args.workload, args.seed)
    overhead = result.pass_s() - untraced if untraced is not None else None
    if overhead is None:
        print(f"# tracing overhead: unknown; no --trace 0 run of {args.workload} seed {args.seed} in {out_dir}")
    else:
        print(f"# tracing overhead: pass_s {result.pass_s():.3f} traced - {untraced:.3f} untraced"
              f" = {overhead:.3f} s")
    (out_dir / f"{args.workload}-seed{args.seed}-trace1.json").write_text(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "cores": CORES,
        "pass_s": result.pass_s(),
        "tracing_overhead_s": overhead,
        "per_layer": values,
        "accounting": accounting,
        "queries": getattr(result, "records", []),
        "spans": tracer.dump(),
    }) + "\n")
    return {name: {"value": values[name], "unit": unit_of(name)} for name in per_layer_names()}


if __name__ == "__main__":
    sys.exit(main())
