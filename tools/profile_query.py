"""Per-stage profiling harness for the optimization round.

Usage:
    python tools/profile_query.py <query> [<query> ...] [--reps N] [--sf DIR]

Times each named registry query with the noop sink (min over reps,
per-rep walls printed), in ONE session, with job descriptions set so
the Spark UI (if enabled) attributes stages.  Prints the formatted
plan on request (--explain).  This is a measurement tool only; the
project's benchmark is perfbench/.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--explain", action="store_true")
    ap.add_argument("--cpus", type=int, default=None,
                    help="local[N] cores (default: get_session's)")
    args = ap.parse_args()

    from faconne_spark.session import get_session
    from faconne_spark.queries import all_queries
    from faconne_spark.operators.dedup import release_caches

    spark = get_session("faconne_profile", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    # warm-up (same as bench)
    qs["tpch_q6_forecast"](spark, args.sf).count()
    qs["text_token_count"](spark, args.sf).count()

    out = {}
    for name in args.queries:
        fn = qs[name]
        if args.explain:
            df = fn(spark, args.sf)
            print(f"===== {name} plan =====")
            df.explain("formatted")
            release_caches()
        walls = []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.perf_counter()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            walls.append(round(time.perf_counter() - t0, 3))
            release_caches()
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:
                pass
        out[name] = walls
        print(f"{name}: min={min(walls)} reps={walls}", flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
