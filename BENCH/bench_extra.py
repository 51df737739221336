#!/usr/bin/env python3
"""Isolated steady-state re-measure of registry queries + plan capture.

NOT the driver bench (bench.py is frozen for measurement).  A suspected
per-query mover in a full bench run is settled by this tool: each named
query is timed through the noop sink in a session shaped like bench.py's
(local[cpus], shuffle partitions max(cpus, 32)) after the same warmup
(BENCH.bench_common.warm_session — measured queries are NOT excluded:
bench.py warm-runs the registry-head entries before timing them, so a
head entry's comparable reading is plan-warm) and after the dedup-family
memos are built untimed, as bench.py times them on their own lines.
Each rep is comparable to one bench.py reading.  `.explain("formatted")`
is optionally written to <plans>/<query>_<tag>.txt so plan claims are
checkable without running Spark.

Usage:
  python BENCH/bench_extra.py --sf /root/testdata/sf1.0 --reps 3 \
      [--plans plans/r12 --tag before] query1 query2 ...
  python BENCH/bench_extra.py --list
"""
import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0"))
    ap.add_argument("--cpus", type=int, default=int(
        os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans", default=None,
                    help="directory to write <query>_<tag>.txt explain files")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--list", action="store_true")
    args = ap.parse_args()

    from htmpark.queries import REGISTRY

    if args.list:
        for name in REGISTRY:
            print(name)
        return

    from BENCH.bench_common import noop_materialize, warm_session
    from htmpark.job import build_session
    from htmpark.queries import candidate_pairs, q_dedup_clusters

    spark = build_session(f"local[{args.cpus}]",
                          shuffle_partitions=max(args.cpus, 32),
                          app_name="htmpark-bench-extra")
    spark.sparkContext.setLogLevel("ERROR")
    warm_session(spark, args.sf)
    candidate_pairs(spark, args.sf)
    noop_materialize(q_dedup_clusters(spark, args.sf))

    out = {}
    for name in args.queries:
        fn = REGISTRY[name][0]
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(args.plans,
                                   f"{name}_{args.tag}.txt"), "w") as f:
                f.write(plan)
        reps = []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            t0 = time.time()
            noop_materialize(fn(spark, args.sf))
            reps.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        out[name] = reps
        print(json.dumps({name: reps}), flush=True)
    print(json.dumps({"sf": args.sf, "cpus": args.cpus, "timings": out}))
    spark.stop()


if __name__ == "__main__":
    main()
