"""The ``ops_iterative`` workload: registry queries whose wall time is
mostly DataFrame construction (eager pins, driver-side loops, 14-32 Spark
jobs before the final write).

Each query runs as construct (``QUERIES[name](spark, sf)``) and then
action (a ``noop`` write), both timed. The pass is a fresh process's
first pass: every run of a shelf job or of the registry pays its JIT and
codegen warm-up, and a separate warm pass would double the run's length.
After each query, untimed, its result is collected and compared, in the
benchmark's child process (``checks.py``), with the DuckDB oracle for that
query (``ORACLES``), normalized by ``tools/check_correctness.py``.

The seed picks the query order within a pass.
"""

from __future__ import annotations

import hashlib
import random
import re
import statistics
import time

import checks

ITERATIVE = ("graph_hits", "events_markov_attribution", "dedup_keep_best_per_cluster")
_EXPR_ID = re.compile(r"(#\d+L?|plan_id=\d+|\[\d+\] at |rdd_\d+|RDD\[\d+\])")


def plan_fingerprint(spark, df) -> tuple[str, float]:
    """Hash of the formatted physical plan with expression and RDD ids
    blanked, and the seconds Catalyst took to produce it."""
    t0 = time.perf_counter()
    text = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    elapsed = time.perf_counter() - t0
    return hashlib.sha256(_EXPR_ID.sub("#", text).encode()).hexdigest()[:16], elapsed


class Registry:
    def __init__(self, ctx) -> None:
        from shelf_spark.queries import QUERIES

        self.ctx = ctx
        self.names = ITERATIVE
        self.queries = QUERIES
        self.rng = random.Random(ctx.seed)
        self.passes: list[float] = []
        self.records: list[dict] = []

    def one_pass(self) -> None:
        ctx, spark = self.ctx, self.ctx.spark
        order = list(self.names)
        self.rng.shuffle(order)
        timed = 0.0
        for name in order:
            record = {"pass": len(self.passes), "query": name}
            with ctx.tracer.phase(f"construct:{name}"), ctx.jobs(f"construct:{name}") as construct_jobs:
                t0 = time.perf_counter()
                df = self.queries[name](spark, ctx.sf_dir)
                record["construct_s"] = time.perf_counter() - t0
            if ctx.trace:
                record["plan"], record["plan_s"] = plan_fingerprint(spark, df)
            with ctx.tracer.phase(f"action:{name}"), ctx.jobs(f"action:{name}") as action_jobs:
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                record["action_s"] = time.perf_counter() - t0
            record["construct_jobs"] = construct_jobs.count
            record["action_jobs"] = action_jobs.count
            timed += record["construct_s"] + record["action_s"]
            with ctx.unmeasured():
                rows = [tuple(r) for r in df.collect()]
                problem = ctx.child(checks.oracle_problem, str(ctx.root), ctx.sf_dir, name, rows, df.columns)
            ctx.attempt(problem is None, problem)
            self.records.append(record)
        self.passes.append(timed)

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        return {"ops_pass_s": (statistics.median(self.passes), "s")}

    def pass_s(self) -> float:
        return statistics.median(self.passes)

    def notes(self) -> list[str]:
        return [f"ops_pass_s over {len(self.passes)} pass(es) of {', '.join(self.names)}"]


def run(ctx) -> Registry:
    registry = Registry(ctx)
    ctx.setup_done()
    ctx.repeat(registry.one_pass)
    return registry
