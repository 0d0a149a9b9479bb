"""SparkSession factory tuned for the engine.

Local testing runs ``local[N]``; the same conf block is what we would
ship on a real cluster (AQE handles skew + partition coalescing at
scale, so the static ``shuffle.partitions`` is only a ceiling).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_session(
    app: str = "faconne_spark",
    cpus: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    Cluster guidance (1000 executors / 100 TB):
      - AQE on: runtime partition coalescing + skew-join splitting mean
        the static shuffle.partitions is a ceiling, not a tuning knob.
      - autoBroadcastJoinThreshold stays default (10 MB); dimension
        tables (region/nation/supplier/part at TPC-H ratios) broadcast;
        we additionally hint broadcast() explicitly where the optimizer
        cannot see smallness (post-aggregation dims).
      - maxPartitionBytes 128 MB keeps scan tasks ~row-group sized.
    """
    if cpus is None:
        cpus = int(
            os.environ.get("SPARK_GRAFT_CPUS")
            or len(os.sched_getaffinity(0))
        )
    builder = (
        SparkSession.builder.appName(app)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Optimization r12 wave 4: let AQE coalesce partitions INSIDE
        # cached plans too (default false) — the persisted signature /
        # rollup relations sit behind a groupBy exchange, and without
        # this every downstream scan of the cache pays the full
        # shuffle-partition task count even when the relation is a few
        # MB (measured: dup_pairs_transitivity 3.9 → 5.7 s regression
        # from exactly this after the minhash groupBy rewrite; the
        # conf reverts it to 3.7 s).  Scale-adaptive by construction —
        # AQE sizes the cached partitions from bytes, so a 100 TB
        # signature relation keeps full parallelism.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        # Optimization r12 wave 8, tried and REVERTED (guide §1:
        # measure, then decide): spark.sql.adaptive.
        # maxShuffledHashJoinLocalMapThreshold=64m (AQE's runtime
        # SMJ→shuffled-hash rewrite, guide §3.1) measured a clean LOSS
        # on a 10-key join-heavy basket — Σ 24.0 → 26.3 s min-of-3
        # same-session A/B (dedup_clusters 3.69 → 4.68, triangles
        # 2.35 → 2.96, no key improved beyond noise).  The sorts the
        # rewrite removes run over small AQE-coalesced partitions and
        # are cheaper than the per-partition hash-table builds plus the
        # extra adaptive planning; details in OPTIMIZATION_r12.md.
        .config("spark.sql.shuffle.partitions", str(max(cpus * 2, 8)))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet carries TIMESTAMP(NANOS). On Spark <= 4.0 this
        # conf makes it read as bigint nanos; Spark 4.1+ ignores it and
        # reads TIMESTAMP(NANOS) as timestamp_ntz (µs). load_tables /
        # streaming.ensure_event_time normalize either shape to a plain
        # µs TIMESTAMP so watermarks and DuckDB oracles agree.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # default 100 truncates PushedFilters in explain(); plan-shape
        # tests assert on the full filter list
        .config("spark.sql.maxMetadataStringLength", "2000")
        .config("spark.ui.enabled", "false")
        # PySpark's per-call call-site capture adds ~5 Py4J round trips
        # to every Column/function call (hundreds per DSL compile). With
        # it off, error messages no longer name the Python call site;
        # extra_conf can turn it back on. PySpark reads the value once
        # per process, so it is set here, at creation.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # caller overrides (e.g. bench enables the UI for its REST metrics)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    if not SparkSession.getActiveSession():
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()


def load_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Load every parquet table in ``sf_dir`` and register temp views."""
    tables = {}
    names = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            if name == "events":
                df = _fix_nanos(df)
            df.createOrReplaceTempView(name)
            tables[name] = df
    return tables


def spread(df, min_parts: int | None = None):
    """Ensure enough input partitions for CPU-bound per-row work
    (hashing, shingling, vector math).

    At cluster scale a 100 TB parquet scan already yields thousands of
    splits (``maxPartitionBytes``-sized) and this is a no-op; locally the
    small single-file test tables arrive as ONE split, which would
    serialize an entire hash/shingle pipeline onto one core. The guard
    (rather than an unconditional ``repartition``) means no extra
    shuffle is ever introduced on a real cluster.
    """
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _fix_nanos(df):
    """events.ts is TIMESTAMP(NANOS) in parquet. Depending on runtime it
    arrives as bigint nanos (Spark ≤ 4.0 + nanosAsLong) or as
    timestamp_ntz (Spark 4.1+); normalize either to a plain µs
    TIMESTAMP (DuckDB's native resolution, so oracles agree, and
    ``withWatermark`` accepts it)."""
    from faconne_spark.streaming import ensure_event_time

    return ensure_event_time(df)


def plan_report(df) -> dict:
    """Structured audit of a DataFrame's physical plan — the checks this
    codebase's plan tests grep for, exposed as a programmatic surface
    so a pipeline can assert its own shape before a 100 TB run:
    exchange count and kinds, broadcast vs sort-merge joins, cartesian
    products, Python eval nodes (UDF leaks), scans with their pushed
    filters and read schemas.

    Driver-side string analysis of the plan ONLY — nothing is executed.
    """
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"Exchange (\w+)", plan)
    scans = []
    for m in re.finditer(r"FileScan (\w+) [^\n]*", plan):
        line = m.group(0)
        pushed = re.search(r"PushedFilters: \[([^\]]*)\]", line)
        schema = re.search(r"ReadSchema: (\S+)", line)
        scans.append(
            {
                "format": m.group(1),
                "pushed_filters": (
                    [f.strip() for f in pushed.group(1).split(",") if f.strip()]
                    if pushed
                    else []
                ),
                "read_schema": schema.group(1) if schema else None,
            }
        )
    return {
        "n_exchanges": len(exchanges),
        "exchange_kinds": sorted(set(exchanges)),
        "n_broadcast_joins": len(
            re.findall(r"BroadcastHashJoin|BroadcastNestedLoopJoin", plan)
        ),
        "n_sort_merge_joins": len(re.findall(r"SortMergeJoin", plan)),
        "has_cartesian": "CartesianProduct" in plan,
        "has_python_eval": bool(
            re.search(r"BatchEvalPython|ArrowEvalPython", plan)
        ),
        "scans": scans,
    }
