"""Solo per-query profiler for the optimization rounds.

Runs one registry query in a fresh session with the bench protocol
(noop sink, warm-up + N timed reps), then prints:

  * the timed-rep wall times,
  * .explain("formatted") (optionally written to a file),
  * per-stage metrics from the Spark UI REST API (duration, task count,
    shuffle read/write bytes, input bytes) for the timed reps only —
    the local-mode substitute for clicking through the Stages tab.

Usage:
  python tools/profile_query.py <query> [--sf DIR] [--reps N]
                                [--explain-out FILE]

Never run concurrently with bench.py — both want all the cores.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cs744_big_data_system_spark.session import get_spark
from cs744_big_data_system_spark.workloads import all_workloads


def _ui_json(spark, path: str):
    ui = spark.sparkContext.uiWebUrl
    if not ui:
        return None
    app_id = spark.sparkContext.applicationId
    url = f"{ui}/api/v1/applications/{app_id}/{path}"
    try:
        with urllib.request.urlopen(url, timeout=10) as r:
            return json.loads(r.read())
    except Exception as e:  # UI disabled / endpoint missing
        print(f"[profile] REST fetch failed: {e}", file=sys.stderr)
        return None


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("query")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--explain-out", default=None)
    ap.add_argument("--top", type=int, default=14, help="stages to print")
    args = ap.parse_args()

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    fn, _ = all_workloads()[args.query]

    # Warm-up rep (discarded, like bench.py)
    spark.sparkContext.setJobDescription(f"{args.query}: warmup")
    t0 = time.perf_counter()
    df = fn(spark, args.sf)
    df.write.format("noop").mode("overwrite").save()
    warm = time.perf_counter() - t0
    spark.sparkContext._jvm.System.gc()  # mirror bench.py's per-rep GC

    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    if args.explain_out:
        os.makedirs(os.path.dirname(args.explain_out), exist_ok=True)
        with open(args.explain_out, "w") as f:
            f.write(plan)

    before = _ui_json(spark, "stages") or []
    seen = {s["stageId"] for s in before}

    times = []
    for i in range(args.reps):
        spark.sparkContext.setJobDescription(f"{args.query}: rep{i}")
        t0 = time.perf_counter()
        df = fn(spark, args.sf)
        df.write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
        # Full GC between reps OUTSIDE the timed window, gated on the
        # warm-up time exactly like bench.py time_query (r12): heavy
        # reps otherwise degrade monotonically on collectable
        # codegen/class garbage; sub-second reps don't and skip it.
        if warm > 2.0:
            spark.sparkContext._jvm.System.gc()
    spark.sparkContext.setJobDescription(None)

    stages = _ui_json(spark, "stages") or []
    fresh = [
        s for s in stages
        if s["stageId"] not in seen and s["status"] in ("COMPLETE", "FAILED")
    ]
    import datetime

    def _ts(v):
        if not v:
            return None
        try:
            return datetime.datetime.strptime(v, "%Y-%m-%dT%H:%M:%S.%fGMT").timestamp()
        except ValueError:
            return None

    for s in fresh:
        t0, t1 = _ts(s.get("firstTaskLaunchedTime")), _ts(s.get("completionTime"))
        s["_wall"] = (t1 - t0) if (t0 and t1) else 0.0
    fresh.sort(key=lambda s: -s["_wall"])

    print(f"query={args.query} warm={warm:.3f}s reps={[round(t,3) for t in times]} "
          f"mean={sum(times)/len(times):.3f}s stages={len(fresh)}")
    hdr = (f"{'stage':>6} {'wall(s)':>8} {'runT(s)':>8} {'cpuT(s)':>8} {'tasks':>5} "
           f"{'input':>9} {'shR':>9} {'shW':>9}  name")
    print(hdr)
    for s in fresh[: args.top]:
        print(
            f"{s['stageId']:>6} {s['_wall']:>8.2f} {s.get('executorRunTime', 0)/1e3:>8.2f} "
            f"{s.get('executorCpuTime', 0)/1e9:>8.2f} "
            f"{s.get('numCompleteTasks', 0):>5} "
            f"{s.get('inputBytes', 0)/2**20:>8.1f}M "
            f"{s.get('shuffleReadBytes', 0)/2**20:>8.1f}M "
            f"{s.get('shuffleWriteBytes', 0)/2**20:>8.1f}M  "
            f"{(s.get('description') or s.get('name', ''))[:70]}"
        )
    tot_run = sum(s.get("executorRunTime", 0) for s in fresh) / 1e3
    tot_cpu = sum(s.get("executorCpuTime", 0) for s in fresh) / 1e9
    tot_wall = sum(s["_wall"] for s in fresh)
    print(f"total stageWall={tot_wall:.2f}s executorRunTime={tot_run:.2f}s "
          f"cpuTime={tot_cpu:.2f}s over {args.reps} reps")
    spark.stop()


if __name__ == "__main__":
    main()
