"""The repository's benchmark of record.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--smoke]

Run from the root of a checkout. One process is one closed-loop client
on ``local[nproc]``: it generates the workload's inputs from the seed,
builds the session, runs the workload's warm-up passes over the unit
types (the first pass's outputs are kept for the correctness check),
then times seed-shuffled passes — the workload's number of passes, and
more while less than ``--seconds`` of unit time has been measured — and
finally checks every kept output against the DuckDB oracle over the same
generated inputs.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run adds one
traced pass and reports the per-layer metrics (see tracing.py). The line
before it holds run details: versions, nproc, input sizes, pass and
sample counts, the percentile behind ``unit_tail_s``, and the codegen
compilations and host CPU steal of every timed pass.

``--smoke`` shrinks every input to a few hundred rows, the warm-up to
one pass and the window to one pass; test_smoke.py uses it.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "cs744_big_data_system_spark"

#: a unit still running after this long is cancelled and counts as failed
UNIT_TIMEOUT_S = 60.0
#: no new pass starts this long after process start (the run must end by 180 s)
PASS_DEADLINE_S = 120.0


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _descendants() -> dict[int, int]:
    """Resident memory in KiB of every process below this one, by pid."""
    me = os.getpid()
    parent, rss = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
            with open(f"/proc/{pid}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parent[int(pid)] = int(stat.rsplit(")", 1)[1].split()[1])
        rss[int(pid)] = pages * os.sysconf("SC_PAGE_SIZE") // 1024
    below = {}
    for pid in rss:
        p = parent.get(pid)
        while p and p != me:
            p = parent.get(p)
        if p == me and pid != me:
            below[pid] = rss[pid]
    return below


class RssSampler:
    """Peak resident memory of the driver JVM and the Python workers: the
    process tree under this process, this process excluded, sampled from
    /proc every 250 ms."""

    def __init__(self) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(0.25):
            self.peak_kb = max(self.peak_kb, sum(_descendants().values()))

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it and the Python
    workers it started have exited."""
    from pyspark import SparkContext

    pids = set(_descendants())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and gateway.proc is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)


class Bench:
    """One benchmark run: inputs, session, unit execution and checks."""

    def __init__(self, workload: str, seed: int, work: str, smoke: bool) -> None:
        import units

        self.spec = units.WORKLOADS[workload]
        self.seed = seed
        self.work = work
        self.scale = 0.05 if smoke else 1.0
        self.sf = 0.0005 if smoke else units.TPCH_SF
        self.rng = random.Random(seed)
        self.sizes: dict[str, dict] = {}  # input dir -> table -> {rows, bytes}
        self.gen_s = 0.0
        self.kept: list[tuple] = []  # (unit, input dir, pandas output or written path)
        self.failures: list[str] = []
        self.attempted = 0
        self.spark = None
        self.stream = None
        self.progress: list[dict] = []  # StreamingQueryProgress of every wave
        self.check_s: dict[str, float] = {}  # oracle-check time per unit type

    # ---- inputs -------------------------------------------------------
    def input_dir(self, pass_no: int) -> str:
        """Input directory of a pass, generated on first use (outside any
        timed window)."""
        import units

        if self.spec.inputs == "fixed":
            d = os.path.join(self.work, "data")
            if d not in self.sizes:
                t0 = time.perf_counter()
                self.sizes[d] = units.write_fixed_inputs(d, self.seed, self.sf, self.scale)
                self.gen_s += time.perf_counter() - t0
            return d
        d = os.path.join(self.work, f"shard-{pass_no:03d}")
        if d not in self.sizes:
            t0 = time.perf_counter()
            self.sizes[d] = units.write_shard(d, self.seed, pass_no, self.scale)
            self.gen_s += time.perf_counter() - t0
        return d

    def result_rows(self) -> int:
        """Output rows of one pass, from the warm-up outputs."""
        import pyarrow.parquet as pq

        rows = 0
        for _, data_dir, out in self.kept:
            if data_dir == self.input_dir(0):
                rows += pq.ParquetDataset(out).read().num_rows if isinstance(out, str) else len(out)
        return rows

    def rows_in(self, unit, data_dir: str) -> int:
        return sum(self.sizes[data_dir][t]["rows"] for t in unit.tables if t in self.sizes[data_dir])

    # ---- session ------------------------------------------------------
    def start_session(self) -> float:
        from cs744_big_data_system_spark import workloads
        from cs744_big_data_system_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.registry = workloads.all_workloads()
        missing = [u.name for u in self.spec.units if u.sink != "stream" and not self.registry.get(u.name, (0, None))[1]]
        if missing:
            raise SystemExit(f"units without a registry oracle: {missing}")
        return start_s

    # ---- units --------------------------------------------------------
    def run_unit(self, unit, data_dir: str, pass_no: int, keep: bool, tracer=None) -> float | None:
        """Run one unit; return its wall time, or None if it failed."""
        self.attempted += 1
        sc = self.spark.sparkContext
        timer = threading.Timer(UNIT_TIMEOUT_S, sc.cancelAllJobs)
        timer.start()
        try:
            t0 = time.perf_counter()
            if unit.sink == "stream":
                self.stream_step(data_dir, pass_no)
            else:
                out = self._execute(unit, data_dir, pass_no, keep, tracer)
            dt = time.perf_counter() - t0
        except Exception:
            self.failures.append(f"{unit.name} pass {pass_no}: {traceback.format_exc(limit=3)}")
            return None
        finally:
            timer.cancel()
            # each unit is an independent request: release what it left cached
            self.spark.catalog.clearCache()
        if unit.sink == "parquet" or (keep and unit.sink == "noop"):
            self.kept.append((unit, data_dir, out))
        return dt

    def _execute(self, unit, data_dir: str, pass_no: int, keep: bool, tracer):
        fn = self.registry[unit.name][0]
        if tracer is None:
            df = fn(self.spark, data_dir)
            return self._sink(unit, df, pass_no, keep)
        with tracer.span("build", "workloads"):
            df = fn(self.spark, data_dir)
        with tracer.span("plan", "workloads"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("exec", "workloads"):
            return self._sink(unit, df, pass_no, keep)

    def _sink(self, unit, df, pass_no: int, keep: bool):
        if unit.sink == "parquet":
            from cs744_big_data_system_spark.sources.writers import write_parquet

            path = os.path.join(self.work, "out", f"{unit.name}-{pass_no:03d}")
            write_parquet(df, path)
            return path
        if keep:
            return df.toPandas()
        df.write.format("noop").mode("overwrite").save()
        return None

    def stream_step(self, shard_dir: str, wave: int) -> None:
        """Drop one wave into the stream's source directory and run the
        ingest query until it has committed every available file."""
        from cs744_big_data_system_spark.sources.readers import normalize_event_ts
        from cs744_big_data_system_spark.sources.txlog import txlog_ingest_batch
        from cs744_big_data_system_spark.streaming.windows import stream_dedup, tumbling_window_counts

        s = self.stream
        if s is None:
            s = self.stream = {
                "src": os.path.join(self.work, "stream", "in"),
                "ckpt": os.path.join(self.work, "stream", "ckpt"),
                "table": os.path.join(self.work, "stream", "table"),
                "schema": self.spark.read.parquet(os.path.join(shard_dir, "wave.parquet")).schema,
            }
            os.makedirs(s["src"], exist_ok=True)
        staged = os.path.join(self.work, "stream", f".wave-{wave:05d}.parquet")
        shutil.copyfile(os.path.join(shard_dir, "wave.parquet"), staged)
        os.rename(staged, os.path.join(s["src"], f"wave-{wave:05d}.parquet"))

        def commit(batch, batch_id):
            txlog_ingest_batch(tumbling_window_counts(batch), s["table"], batch_id)

        events = normalize_event_ts(self.spark.readStream.schema(s["schema"]).parquet(s["src"]))
        query = (
            stream_dedup(events, ["event_id"])
            .writeStream.foreachBatch(commit)
            .option("checkpointLocation", s["ckpt"])
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        self.progress.extend(p for p in query.recentProgress if p.get("numInputRows", 0) > 0)

    # ---- checks -------------------------------------------------------
    def check(self) -> None:
        """Compare every kept output with its DuckDB oracle (the
        order-insensitive canonical form of tools/selfcheck.py)."""
        import duckdb

        from cs744_big_data_system_spark.sources.readers import TABLES
        from tools.selfcheck import canon

        con = duckdb.connect()
        for unit, data_dir, out in self.kept:
            t0 = time.perf_counter()
            try:
                for t in TABLES:
                    if os.path.exists(os.path.join(data_dir, f"{t}.parquet")):
                        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
                got = con.sql(f"SELECT * FROM '{out}/*.parquet'").df() if isinstance(out, str) else out
                want = con.sql(self.registry[unit.name][1]).df()
                if canon(got) != canon(want):
                    self.failures.append(f"{unit.name} on {data_dir}: output differs from the oracle")
            except Exception:
                self.failures.append(f"{unit.name} check on {data_dir}: {traceback.format_exc(limit=3)}")
            self.check_s[unit.name] = self.check_s.get(unit.name, 0.0) + time.perf_counter() - t0
        if self.stream is not None:
            t0 = time.perf_counter()
            self._check_stream(con)
            self.check_s["stream_wave"] = time.perf_counter() - t0

    def _check_stream(self, con) -> None:
        """The txlog table must hold, summed over micro-batches, the
        10-minute window counts of exactly the waves' kept events: no
        redelivery counted twice, no late event counted."""
        from cs744_big_data_system_spark.sources.txlog import latest_version, _live_files

        table = self.stream["table"]
        files = [os.path.join(table, f) for f in sorted(_live_files(table, latest_version(table)))]
        kept = sorted(
            os.path.join(d, "wave_kept.parquet") for d in self.sizes if os.path.exists(os.path.join(d, "wave_kept.parquet"))
        )
        got = con.sql(
            f"SELECT window_start, event_type, CAST(sum(n_events) AS BIGINT) AS n "
            f"FROM read_parquet({files!r}) GROUP BY ALL ORDER BY ALL"
        ).fetchall()
        want = con.sql(
            f"SELECT strftime(time_bucket(INTERVAL 10 MINUTE, ts), '%Y-%m-%d %H:%M:%S') AS window_start, "
            f"event_type, count(*) AS n FROM read_parquet({kept!r}) GROUP BY ALL ORDER BY ALL"
        ).fetchall()
        if got != want:
            self.failures.append(f"stream_wave: txlog window counts differ from the oracle ({len(got)} vs {len(want)} rows)")


def hd_quantile(xs: list[float], p: float) -> float:
    """Harrell-Davis estimate of quantile ``p``: the mean of the order
    statistics weighted by the Beta(p(n+1), (1-p)(n+1)) mass of each
    1/n slice. Unlike a single order statistic it does not jump between
    unit types whose times sit next to each other in a mixed pass."""
    import numpy as np

    x = np.sort(np.asarray(xs, dtype=float))
    n = len(x)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    t = (np.arange(n * 200) + 0.5) / (n * 200)  # 200 midpoints per slice
    w = np.exp((a - 1) * np.log(t) + (b - 1) * np.log1p(-t)).reshape(n, 200).sum(axis=1)
    return float(w @ x / w.sum())


def host_steal_s() -> float:
    """CPU time the hypervisor has withheld from this machine's CPUs while
    they had work (steal), summed over CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def codegen_compiles(spark) -> int:
    """Spark's whole-stage-codegen compilations so far: misses of its
    codegen cache."""
    return spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def throughput(samples: list[tuple[str, float, int]]) -> float:
    """Rows of one pass over the summed time of one pass, each unit type
    taken at its median over the passes: a unit type that was slow once
    moves it no more than one that was slow in a single pass."""
    import statistics

    by_type: dict[str, list[tuple[float, int]]] = {}
    for name, dt, rows in samples:
        by_type.setdefault(name, []).append((dt, rows))
    rows = sum(statistics.median(r for _, r in xs) for xs in by_type.values())
    return rows / sum(statistics.median(t for t, _ in xs) for xs in by_type.values())


def main(argv: list[str]) -> int:
    t_process = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found next to {os.path.basename(HERE)}/: run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)
    import units

    if args.workload not in units.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(units.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(_nproc()),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=f'--driver-java-options "-Djava.io.tmpdir={tmp}" pyspark-shell',
    )
    try:
        return run(args, units, work, t_process)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, units, work: str, t_process: float) -> int:
    bench = Bench(args.workload, args.seed, work, args.smoke)
    n_units = len(bench.spec.units)
    warmup_passes = 1 if args.smoke else bench.spec.warmup_passes
    timed_passes = 1 if args.smoke else bench.spec.passes
    for pass_no in range(warmup_passes + timed_passes + args.trace):
        bench.input_dir(pass_no)

    try:
        with RssSampler() as rss:
            # set-up: session start, one warm-up of every unit type whose
            # outputs are kept, then the workload's further warm-up passes
            t_setup = time.perf_counter()
            session_start_s = bench.start_session()
            warmup = {}
            for unit in bench.rng.sample(bench.spec.units, n_units):
                warmup[unit.name] = bench.run_unit(unit, bench.input_dir(0), 0, keep=True)
            for pass_no in range(1, warmup_passes):
                for unit in bench.rng.sample(bench.spec.units, n_units):
                    bench.run_unit(unit, bench.input_dir(pass_no), pass_no, keep=False)
            setup_s = time.perf_counter() - t_setup

            samples: list[tuple[str, float, int]] = []
            compiles = [codegen_compiles(bench.spark)]
            steal = [host_steal_s()]
            pass_no = warmup_passes - 1
            while pass_no < warmup_passes + timed_passes - 1 or (
                sum(s[1] for s in samples) < args.seconds
                and not args.smoke
                and time.perf_counter() - t_process < PASS_DEADLINE_S
            ):
                pass_no += 1
                data_dir = bench.input_dir(pass_no)
                for unit in bench.rng.sample(bench.spec.units, n_units):
                    dt = bench.run_unit(unit, data_dir, pass_no, keep=False)
                    if dt is not None:
                        samples.append((unit.name, dt, bench.rows_in(unit, data_dir)))
                compiles.append(codegen_compiles(bench.spark))
                steal.append(host_steal_s())

            if not samples:
                print("every timed unit failed:\n" + "\n".join(bench.failures), file=sys.stderr)
                return 1
            layer_metrics = None
            if args.trace:
                import tracing

                tracer = tracing.Tracer(bench.spark, PACKAGE)
                pass_no += 1
                data_dir = bench.input_dir(pass_no)
                with tracer.installed():
                    traced = []
                    for unit in bench.rng.sample(bench.spec.units, n_units):
                        with tracer.unit(unit.name):
                            dt = bench.run_unit(unit, data_dir, pass_no, keep=False, tracer=tracer)
                        if dt is not None:
                            traced.append(dt)
                layer_metrics = tracer.layer_metrics(
                    units=n_units,
                    session_start_s=session_start_s,
                    peak_rss_mb=rss.peak_kb / 1024.0,
                    overhead_s=hd_quantile(traced, 0.5) - hd_quantile([s[1] for s in samples], 0.5),
                    result_rows=bench.result_rows(),
                    streaming=bench.progress[-1:] if bench.stream else [],
                    stream_table=bench.stream["table"] if bench.stream else None,
                )
                tracer.dump(os.path.join(HERE, ".work", f"spans-{args.workload}-{args.seed}.json"))
        versions = {
            "spark": bench.spark.version,
            "java": bench.spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
        t_check = time.perf_counter()
        bench.check()
    finally:
        t_stop = time.perf_counter()
        if bench.spark is not None:
            stop_spark(bench.spark)
    phases = {"check_s": t_stop - t_check, "stop_s": time.perf_counter() - t_stop, "total_s": time.perf_counter() - t_process}

    times = [s[1] for s in samples]
    # the highest percentile with ten samples above it, from the fixed
    # passes (extra passes of a fast run add samples, not a new percentile)
    planned = timed_passes * n_units
    tail_p = max(planned - 10, 1) / planned
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": _nproc(),
        **versions,
        "samples": len(times),
        "warmup_passes": warmup_passes,
        "timed_passes": len(compiles) - 1,
        "codegen_compiles_per_pass": [b - a for a, b in zip(compiles, compiles[1:])],
        "host_steal_s_per_pass": [round(b - a, 2) for a, b in zip(steal, steal[1:])],
        "unit_tail_percentile": round(100 * tail_p, 1),
        "gen_s": round(bench.gen_s, 3),
        "session_start_s": round(session_start_s, 3),
        "warmup_s": warmup,
        "phases": phases,
        "check_s": bench.check_s,
        "inputs": {os.path.basename(d): s for d, s in bench.sizes.items()},
        "failures": bench.failures,
        "samples_s": [[n, round(t, 4)] for n, t, _ in samples],
    }
    print(json.dumps(detail))
    if args.trace:
        metrics = layer_metrics
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "unit_p50_s": (hd_quantile(times, 0.5), "s"),
            "unit_tail_s": (hd_quantile(times, tail_p), "s"),
            "throughput_rows_s": (throughput(samples), "rows/s"),
        }
    print(json.dumps({
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
