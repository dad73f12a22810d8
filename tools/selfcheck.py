"""Local simulation of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and, where an ``oracle_sql()``
entry exists, the oracle on DuckDB over the same parquet tables; then
compares row count, column-name set, and an order-insensitive value
comparison (columns sorted by name, rows sorted by stringified values).

The canonical form is deliberately AT LEAST as strict as the driver's:
floats are repr'd after a 9 dp round with NO signed-zero normalization
(the r04 driver hash distinguished -0.0 from 0.0 on graph_modularity;
a ``+ 0.0`` mask here hid that locally — never reintroduce it).

Usage: python tools/selfcheck.py [--vanilla] [--driver-canon] [sf_dir] [query ...]

--vanilla: run the Spark side on a BARE ``SparkSession.builder`` session
(no ENGINE_CONF: ANSI **on** — the Spark 4 default — no nanosAsLong /
NTZ / timezone pins), which is the environment the driver's harness
actually uses. The two r04 driver-red rows were both engine-vs-vanilla
session divergences that the default (engine-session) sweep could not
see; run the vanilla sweep before every round boundary.

--driver-canon: canonicalize through the driver's ACTUAL pandas path —
``DataFrame.sort_values`` over all columns (sorted by name) BEFORE any
stringification. The default canon stringifies rows first and sorts
strings, which is MORE permissive: it happily sorts list-valued cells
that make pandas' lexsort throw ``TypeError: unhashable type: 'list'``
(exactly how the driver red-rowed ``inverted_index`` in r05 while the
local sweep stayed green). Run at least one sweep per round with this
flag so a driver-canonicalizer incompatibility fails HERE first.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from cs744_big_data_system_spark.sources.readers import TABLES


def canon(df_pandas):
    """Canonical form: columns sorted by name, every value stringified
    (floats repr'd), rows sorted — order-insensitive like the driver.
    Signed zero is preserved (repr(-0.0) = '-0.0') so a -0.0/0.0
    divergence between engines fails HERE, not first at the driver."""
    import math

    import numpy as np

    cols = sorted(df_pandas.columns)
    rows = []
    for tup in df_pandas[cols].itertuples(index=False, name=None):
        vals = []
        for v in tup:
            # Array columns come back as np.ndarray under Arrow (engine
            # session, DuckDB .df()) but as Python lists under the
            # vanilla non-Arrow path — same values, different str().
            # Normalize to list form so only VALUE differences fail.
            if isinstance(v, np.ndarray):
                v = v.tolist()
            if v is None or (isinstance(v, float) and math.isnan(v)):
                vals.append("∅")
            elif isinstance(v, float):
                vals.append(repr(round(v, 9)))
            elif isinstance(v, bool):
                vals.append(str(bool(v)))
            else:
                vals.append(str(v))
        rows.append("\x1f".join(vals))
    rows.sort()
    return cols, rows


def canon_driver(df_pandas):
    """The driver's canonical form, reproduced exactly: columns sorted
    by name, then the FRAME sorted with ``pandas.sort_values`` over all
    columns (the driver's lexsort — it factorizes each key column, so
    unhashable cell values like lists/ndarrays raise ``TypeError`` here
    just as they do in the driver), then values stringified row-major.
    Any exception from sort_values is the finding — callers report it
    as DRIVER-CANON-ERROR rather than masking it."""
    import math

    cols = sorted(df_pandas.columns)
    frame = df_pandas[cols].sort_values(by=cols, kind="mergesort")
    rows = []
    for tup in frame.itertuples(index=False, name=None):
        vals = []
        for v in tup:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                vals.append("∅")
            elif isinstance(v, float):
                vals.append(repr(round(v, 9)))
            elif isinstance(v, bool):
                vals.append(str(bool(v)))
            else:
                vals.append(str(v))
        rows.append("\x1f".join(vals))
    return cols, rows


def _vanilla_spark():
    """A session SEMANTICALLY identical to what the driver builds: ANSI
    on (the Spark 4 default), no timezone / nanosAsLong / NTZ pins —
    queries must self-heal any conf they need (e.g. load_table sets
    nanosAsLong at runtime). Two perf-only overrides that cannot change
    values (comparison is order-insensitive and every float is pinned):
    shuffle partitions 200→32 (the vanilla default makes a 254-query
    sweep take hours at sf0.01) and the console progress bar off."""
    from pyspark.sql import SparkSession

    from cs744_big_data_system_spark.session import _default_cpus

    cpus = _default_cpus(os.environ)
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("selfcheck-vanilla")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.showConsoleProgress", "false")
        # UI status-store retention, third perf-only override: the
        # defaults keep up to 100k task + 1000 execution entries LIVE
        # in the app status store — in r11 a 316-query marathon in
        # this session's default 1 GiB heap OOMed at query ~245 on
        # retained UI state alone (solo re-run of the failing query on
        # a fresh vanilla session passes; System.gc() pacing did not
        # help because the references are live). Caps cannot change
        # any query's values.
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "100")
        .config("spark.ui.retainedTasks", "2000")
        .config("spark.sql.ui.retainedExecutions", "20")
        .getOrCreate()
    )


def main():
    argv = sys.argv[1:]
    vanilla = "--vanilla" in argv
    driver_canon = "--driver-canon" in argv
    argv = [a for a in argv if a not in ("--vanilla", "--driver-canon")]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entrymod

    if vanilla:
        spark = _vanilla_spark()
    else:
        from cs744_big_data_system_spark.session import get_spark

        spark = get_spark("selfcheck")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results = {}
    n_run = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # One driver-side GC every few queries: Spark's ContextCleaner
        # only releases finished shuffles / broadcast blocks when the
        # JVM garbage-collects, and a 316-query marathon in ONE session
        # accumulates them faster than a mostly-idle 1 GiB vanilla heap
        # GCs on its own — the r11 vanilla sweep OOMed at query ~245
        # (java.lang.OutOfMemoryError in a task, then every later query
        # failing in the poisoned session). Same fix bench.py has
        # carried since r06 (one System.gc() per query, measured 2 s vs
        # 14-20 s BFS spikes); here every 10 queries keeps the sweep
        # overhead negligible. Results are unaffected — this only paces
        # cleanup of already-finished state.
        if n_run % 10 == 0:
            spark.sparkContext._jvm.System.gc()
        n_run += 1
        t0 = time.time()
        try:
            frame = fn(spark, sf_dir)
            complex_cols = [
                f"{f.name}:{f.dataType.simpleString()}"
                for f in frame.schema.fields
                if f.dataType.typeName() in ("array", "map", "struct")
            ]
            sdf = frame.toPandas()
        except Exception:
            results[name] = ("SPARK-ERROR", traceback.format_exc(limit=6))
            print(f"[FAIL-spark] {name}\n{results[name][1]}")
            continue
        el = time.time() - t0
        if name not in oracles:
            results[name] = ("ROWS-ONLY", f"{len(sdf)} rows, {el:.1f}s")
            print(f"[rows-only] {name}: {len(sdf)} rows ({el:.1f}s)")
            continue
        # Oracle-backed outputs must be scalar-only: the driver's pandas
        # sort_values canon cannot sort Array/Map/Struct cells (the r05
        # inverted_index red row). Fail the row here regardless of mode.
        if complex_cols:
            results[name] = ("COMPLEX-TYPE", f"non-scalar output columns: {complex_cols}")
            print(f"[FAIL-complex-type] {name}: {results[name][1]}")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception:
            results[name] = ("ORACLE-ERROR", traceback.format_exc(limit=4))
            print(f"[FAIL-oracle] {name}\n{results[name][1]}")
            continue
        try:
            if driver_canon:
                scols, srows = canon_driver(sdf)
                ocols, orows = canon_driver(odf)
            else:
                scols, srows = canon(sdf)
                ocols, orows = canon(odf)
        except Exception:
            results[name] = ("DRIVER-CANON-ERROR", traceback.format_exc(limit=4))
            print(f"[FAIL-driver-canon] {name}\n{results[name][1]}")
            continue
        if scols != ocols:
            results[name] = ("SCHEMA-MISMATCH", f"spark={scols} oracle={ocols}")
        elif len(srows) != len(orows):
            results[name] = ("COUNT-MISMATCH", f"spark={len(srows)} oracle={len(orows)}")
        elif srows != orows:
            diffs = [(a, b) for a, b in zip(srows, orows) if a != b][:3]
            results[name] = ("VALUE-MISMATCH", f"{sum(a != b for a, b in zip(srows, orows))} rows differ; first: {diffs}")
        else:
            results[name] = ("OK", f"{len(srows)} rows, {el:.1f}s")
        tag = results[name][0]
        print(f"[{tag}] {name}: {results[name][1][:300]}")

    n_ok = sum(1 for s, _ in results.values() if s == "OK")
    n_ro = sum(1 for s, _ in results.values() if s == "ROWS-ONLY")
    n_bad = len(results) - n_ok - n_ro
    mode = "vanilla" if vanilla else "engine"
    print(f"\n=== [{mode} session] {n_ok} OK, {n_ro} rows-only, {n_bad} FAILING of {len(results)} ===")
    spark.stop()
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
