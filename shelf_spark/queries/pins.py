"""How a query pins an intermediate relation — the one place that decides.

A pin cuts the relation's lineage: everything read after it reads the
materialized blocks instead of re-running the plan above it. Every kind
materializes through ``localCheckpoint``, so a pin is LOCAL-ONLY: its
blocks sit in unreplicated executor storage, and losing an executor that
holds them fails the query instead of recomputing it. That holds for
fact-sized pins (the basket relation of the market-basket family) too.

The four kinds, and when each is the right one:

``"shared"`` — eager. Materialized by one job of its own, during
    construction, before any consumer exists. For a relation that several
    consumers read inside one job, or that driver-side steps (counts,
    collects, an iteration) read one after another: each reads the blocks,
    none races to build them.
``"first_use"`` — lazy. No job of its own; the first action that reads
    the relation materializes it inside that action. For a relation read
    by one consumer per job: before a presentation sort (whose sampling
    pass would otherwise recompute the plan above), or per round of a
    bounded iteration (keeps the plan flat). Two consumers reading it in
    the same job race: both build the blocks and Spark logs
    ``Block rdd_N_M already exists``. The rows are the same either way;
    the race only costs the duplicate work.
``"domain_shared"`` — one partition, then eager. For state bounded by a
    domain (days, states, a K² matrix), not by the corpus, with several
    consumers: everything downstream runs as one task instead of a
    shuffle-partition fan-out.
``"domain_first_use"`` — one partition, then lazy. Domain-bounded state
    read by one consumer per job.
"""

from __future__ import annotations

from typing import Literal

from pyspark.sql import DataFrame

Kind = Literal["shared", "first_use", "domain_shared", "domain_first_use"]

# kind -> (coalesce to one partition, materialize now)
_MECHANISM: dict[str, tuple[bool, bool]] = {
    "shared": (False, True),
    "first_use": (False, False),
    "domain_shared": (True, True),
    "domain_first_use": (True, False),
}


def pin(df: DataFrame, kind: Kind) -> DataFrame:
    """Pin ``df`` by ``kind`` (see the module docstring); same rows."""
    one_partition, eager = _MECHANISM[kind]
    if one_partition:
        df = df.coalesce(1)
    return df.localCheckpoint(eager=eager)
