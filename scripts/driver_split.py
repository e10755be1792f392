#!/usr/bin/env python3
"""Driver-time split of perfbench's tiles workloads, run by run.

    python3 scripts/driver_split.py --workload tiles_city --seed 1 --runs 8
    python3 scripts/driver_split.py --root <other checkout> --workload tiles_coast

Makes the workload's inputs from the seed exactly as perfbench/run.py does
(its `workloads` module, imported read-only, from the measured checkout),
takes its untimed warm-up runs (the first one checked), then times each run of
spatial_join.tile_assignments(images, boundaries, res=9, strategy="native")
in five parts:

  read     the two spark.read.parquet calls (schema from the footers)
  stats    clear_cover_stats_cache() + auto_prefilter(boundaries)
  build    tile_assignments(...) and the (count, checksum) aggregate on it
  plan     the aggregate's executedPlan()
  execute  its collect

It prints one JSON line per run (seconds per part, py4j commands the
driver's thread sent during read, stats, build and plan, and whether the
run's (count, checksum) equals the workload's reference), then one line
of medians. --root measures another source checkout (for a parent/change
comparison, interleave the two over the same seeds). Runs on local[N],
N = the usable cores; everything it writes stays under the measured
checkout's .perfbench_work/ and is deleted at the end.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import types

PARTS = ("read", "stats", "build", "plan", "execute")


@contextlib.contextmanager
def count_py4j_calls():
    """Counts the py4j commands this thread sends inside the block (the
    finalizer thread's asynchronous object releases are not counted):
    yields a namespace whose `n` is the running count, and restores
    GatewayClient.send_command on the way out."""
    from py4j.java_gateway import GatewayClient

    me, send, calls = threading.get_ident(), GatewayClient.send_command, types.SimpleNamespace(n=0)

    def counted(client, *args, **kwargs):
        if threading.get_ident() == me:
            calls.n += 1
        return send(client, *args, **kwargs)

    GatewayClient.send_command = counted
    try:
        yield calls
    finally:
        GatewayClient.send_command = send


def one_run(spark, wl) -> dict:
    import workloads
    from pyspark.sql import functions as F

    from wikibrain_spark.operators import spatial_join

    t = [time.perf_counter()]
    with count_py4j_calls() as calls:
        images = spark.read.parquet(wl.images_path)
        boundaries = spark.read.parquet(wl.boundaries_path)
        t.append(time.perf_counter())
        spatial_join.clear_cover_stats_cache()
        spatial_join.auto_prefilter(boundaries)
        t.append(time.perf_counter())
        tiles = wl.tiles(images, boundaries)
        agg = tiles.agg(F.count("*").alias("n"),
                        F.sum(workloads.row_hash([F.col(c) for c in workloads.TILE_COLS])).alias("h"))
        t.append(time.perf_counter())
        agg._jdf.queryExecution().executedPlan()
        t.append(time.perf_counter())
    row = agg.collect()[0]
    t.append(time.perf_counter())
    out = {f"{p}_s": round(b - a, 4) for p, a, b in zip(PARTS, t, t[1:])}
    out["total_s"] = round(t[-1] - t[0], 4)
    out["py4j_calls"] = calls.n
    out["correct"] = wl.check((row["n"], row["h"]))
    return out


def main(argv=None) -> int:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("tiles_city", "tiles_coast"), default="tiles_city")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--runs", type=int, default=8)
    ap.add_argument("--root", default=here, help="source checkout to measure")
    args = ap.parse_args(argv)
    root = os.path.abspath(args.root)
    sys.path[:0] = [os.path.join(root, "perfbench"), root]
    import run  # perfbench/run.py: isolate() and stop_jvm()
    import workloads

    work = os.path.join(root, ".perfbench_work", f"split-{args.workload}-{args.seed}-{os.getpid()}")
    run.isolate(work)
    from wikibrain_spark.session import get_spark

    spark = get_spark("driver_split", master=f"local[{len(os.sched_getaffinity(0))}]")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        wl.prepare()
        warm, _ = wl.warm_up()  # tiles_coast takes its reference from this run
        for _ in range(wl.warm_runs - 1):
            warm = wl.check(wl.iterate()) and warm
        runs = []
        for i in range(args.runs):
            rec = one_run(spark, wl)
            runs.append(rec)
            print(json.dumps({"run": i, **rec}), flush=True)
        median = {k: round(statistics.median(r[k] for r in runs), 4)
                  for k in [f"{p}_s" for p in PARTS] + ["total_s", "py4j_calls"]}
        print(json.dumps({"workload": args.workload, "seed": args.seed, "root": root,
                          "warmup_correct": warm, "all_correct": all(r["correct"] for r in runs),
                          "median": median}))
    finally:
        spark.stop()
        run.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
