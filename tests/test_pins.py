"""The pin primitive (queries/pins.py): each kind's mechanism, and that it
is the only place under shelf_spark/queries that materializes a relation."""

from __future__ import annotations

import ast
import itertools
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from shelf_spark.queries.pins import pin

KINDS = ("shared", "first_use", "domain_shared", "domain_first_use")
QUERIES_DIR = Path(__file__).resolve().parent.parent / "shelf_spark" / "queries"
_group_ids = itertools.count()


def _jobs_during(spark, fn):
    """Run fn under a fresh job group; return (fn's result, its job ids)."""
    sc = spark.sparkContext
    group = f"test-pins-{next(_group_ids)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _input(spark):
    # map-only, so the only job a pin can submit is its own
    return spark.range(0, 1000, 1, 8).select(
        "id", (F.col("id") % 7).alias("k")
    )


@pytest.mark.parametrize("kind", KINDS)
def test_pin_job_count(spark, kind):
    _, jobs = _jobs_during(spark, lambda: pin(_input(spark), kind))
    eager = kind in ("shared", "domain_shared")
    assert len(jobs) == (1 if eager else 0), (kind, jobs)


@pytest.mark.parametrize("kind", KINDS)
def test_pin_keeps_rows(spark, kind):
    df = _input(spark)
    assert sorted(pin(df, kind).collect()) == sorted(df.collect())


@pytest.mark.parametrize("kind", ["domain_shared", "domain_first_use"])
def test_domain_kinds_are_one_partition(spark, kind):
    df = _input(spark)
    assert df.rdd.getNumPartitions() > 1
    assert pin(df, kind).rdd.getNumPartitions() == 1


def _materializing_calls(path: Path):
    tree = ast.parse(path.read_text(), filename=str(path))
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("localCheckpoint", "checkpoint", "cache", "persist")
        ):
            yield f"{path.name}:{node.lineno} .{node.func.attr}"


def test_queries_pin_only_through_pins_module():
    files = sorted(p for p in QUERIES_DIR.glob("*.py") if p.name != "pins.py")
    assert files
    found = [hit for p in files for hit in _materializing_calls(p)]
    assert found == [], found
