"""Workload registry: every operator from SURVEY.md §2 (and the §2.9 /
LLM-pipeline extensions) as a named query with, where SQL-expressible,
a DuckDB oracle that must hash-match.

Each entry is (fn: (spark, sf_dir) -> DataFrame, oracle: str | None).
Column names/types are aligned between the Spark result and the oracle
(the driver sorts columns by name and hashes values — SURVEY.md §5.2).

Conventions shared by both sides:
  * timestamps → ``unix_micros(ts)`` / ``epoch_us(ts)`` (bigint) or
    date-formatted strings — never raw timestamp objects;
  * float aggregates → round(x, 4..6) with identical accumulation order;
  * DuckDB integer sums → CAST(... AS BIGINT) (DuckDB widens to INT128);
  * every computed column aliased identically in Spark and SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from cs744_big_data_system_spark.workloads import (
    curation,
    curation2,
    curation3,
    curation4,
    curation5,
    curation6,
    curation7,
    curation8,
    curation9,
    curation10,
    frontends,
    llm,
    pipeline_ext,
    relational,
    relational_ext,
    streaming_graph,
    tpch,
    warehouse,
)


# Registration order. New modules go at the end: the rotation window
# (below) breaks ties by registry order, so inserting a module earlier
# would reorder the queue the next window is drawn from.
_MODULES = (
    llm,
    streaming_graph,
    warehouse,
    relational,
    tpch,
    relational_ext,
    pipeline_ext,
    curation,
    curation2,
    curation3,
    frontends,
    curation4,
    curation5,
    curation6,
    curation7,
    curation8,
    curation9,
    curation10,
)


def all_workloads() -> dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]]:
    # Every name resolves to exactly one query: a module that registers
    # a name another module already holds raises, instead of silently
    # replacing that query and its oracle.
    reg: dict = {}
    for module in _MODULES:
        for name, entry in module.WORKLOADS.items():
            if name in reg:
                raise ValueError(f"workload {name!r} registered twice ({module.__name__})")
            reg[name] = entry

    # ATTESTATION ROTATION — the driver attests the FIRST 50 registry
    # entries each round, so the registry front doubles as the rotation
    # window. Invariant (VERDICT r06/r07): never-attested entries
    # first, then stalest-first (oldest successful attestation round),
    # registry order within a class. Since r09 the front is GENERATED:
    # `python tools/attest_rotation.py --write` derives it from the
    # CORRECTNESS_r*.json artifacts on disk and rewrites _rotation.py;
    # tests/test_bench_contract.py asserts the wired front still
    # matches the artifacts. Every name must exist in the registry
    # (ADVICE r06: a typo must raise, not silently shift the window;
    # ADVICE r07: raise explicitly — `python -O` strips asserts).
    from ._rotation import FRONT

    missing = [name for name in FRONT if name not in reg]
    if missing:
        raise KeyError(f"rotation names not in registry: {missing}")
    ordered = {name: reg[name] for name in FRONT}
    ordered.update(reg)
    return ordered


# (Historical r06–r08 rotation notes: see git history of this file.)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in all_workloads().items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in all_workloads().items() if sql is not None}
