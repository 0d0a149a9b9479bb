"""Measure wall seconds for a set of registry keys at one SF — the
docs/SCALING.md methodology (local[$SPARK_GRAFT_CPUS], by default the
CPUs this process may run on; one warm session, caches released
between queries, noop sink).

Round-7 fix (VERDICT r6 ask #6): TWO untimed warm-up queries run
before the loop (parquet footers, regexp/md5 codegen, shuffle paths),
so the first measured key no longer absorbs session warm-up and the
sf0.001 column stops lying about position-1 keys.

Usage: python tools/measure_scaling.py SF_DIR key [key ...]
Prints one JSON line {key: seconds}.
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1]
    keys = sys.argv[2:]
    import time

    from faconne_spark.operators.dedup import release_caches
    from faconne_spark.queries import all_queries
    from faconne_spark.session import get_session

    spark = get_session("faconne_scaling")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    # untimed warm-up (ask #6): session JIT + parquet footers + codegen
    queries["tpch_q6_forecast"](spark, sf_dir).count()
    queries["text_token_count"](spark, sf_dir).count()
    release_caches()

    times = {}
    for k in keys:
        t0 = time.perf_counter()
        queries[k](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        times[k] = round(time.perf_counter() - t0, 3)
        release_caches()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
    print(json.dumps(times))


if __name__ == "__main__":
    main()
