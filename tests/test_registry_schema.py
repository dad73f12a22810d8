"""Registry-wide output-schema invariant (VERDICT r05 item 2).

The driver's correctness harness canonicalizes each result frame with
``pandas.sort_values`` over every column; its lexsort factorizes key
columns and therefore dies on unhashable cell values (``TypeError:
unhashable type: 'list'``). That is exactly how ``inverted_index``
red-rowed in CORRECTNESS_r05 while the local stringify-then-sort
selfcheck stayed green. This module closes the CLASS, not just the
instance: every oracle-backed query's output schema must be scalar-only
(no Array/Map/Struct columns).

The full sweep builds all ~300 oracle-backed DataFrames at sf0.001
(~4 min — streaming replays and iterative kernels execute during
construction); it is the regression gate the per-round vanilla sweep
backs up (tools/selfcheck.py also fails COMPLEX-TYPE rows).
"""

from __future__ import annotations

import pandas as pd
import pytest

from cs744_big_data_system_spark import workloads
from tests.conftest import SF_SMALL


def test_driver_canon_rejects_list_cells():
    """Meta-test: selfcheck's --driver-canon mode must reproduce the
    driver's failure mode — pandas sort_values raising on list-valued
    cells — while the default stringify-then-sort canon masks it. If
    canon_driver ever stops raising here, the local gate is blind to
    the r05 inverted_index class again."""
    from tools.selfcheck import canon, canon_driver

    frame = pd.DataFrame({"token": ["a", "b"], "postings": [[1, 2], [3]]})
    canon(frame)  # permissive path: stringifies lists happily
    with pytest.raises(TypeError):
        canon_driver(frame)
    # scalar frames canonicalize identically-shaped output in both modes
    ok = pd.DataFrame({"k": [2, 1], "v": [0.5, -1.0]})
    dcols, drows = canon_driver(ok)
    scols, srows = canon(ok)
    assert dcols == scols and sorted(drows) == srows


def test_registry_rejects_duplicate_names(monkeypatch):
    """A name registered by two modules raises instead of letting the
    later module's query and oracle silently replace the earlier one."""
    from cs744_big_data_system_spark.workloads import curation10, llm

    name, entry = next(iter(llm.WORKLOADS.items()))
    monkeypatch.setattr(curation10, "WORKLOADS", {**curation10.WORKLOADS, name: entry})
    with pytest.raises(ValueError, match=name):
        workloads.all_workloads()


def test_oracle_outputs_scalar_only(spark):
    """Every oracle-backed registry entry must return a scalar-only
    schema (no Array/Map/Struct) — the driver's sort_values canon
    cannot sort complex cells. Builds every oracle-backed DataFrame at
    sf0.001 and inspects the analyzed schema."""
    reg = workloads.all_workloads()
    offenders, errors = [], []
    for name, (fn, sql) in reg.items():
        if sql is None:
            continue
        try:
            df = fn(spark, SF_SMALL)
        except Exception as exc:  # noqa: BLE001 — collected for one report
            errors.append((name, repr(exc)[:200]))
            continue
        for f in df.schema.fields:
            if f.dataType.typeName() in ("array", "map", "struct"):
                offenders.append((name, f.name, f.dataType.simpleString()))
    assert not errors, errors
    assert not offenders, offenders
