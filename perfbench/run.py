#!/usr/bin/env python3
"""The project's benchmark: one client, closed loop, one workload per run.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Each run starts a fresh single-process SparkSession at ``local[N]``
(N = the CPUs this process may use), resolves the workload's tables,
runs every op once cold, then once more untimed to warm the JIT,
checks every output, then runs seeded shuffled rounds of all ops until
``--seconds`` have passed and checks the outputs of the last round.  Set-up is then repeated in fresh child
processes and its median reported.

stdout carries a run-description line (cpus, sf, seed, versions) and,
as its last line, one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; a human-readable summary goes to stderr.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json.
``--trace 1`` enables Spark's UI for its REST status API, wraps each
layer's public functions in spans and reports the per-layer metrics;
it then runs the same seed untraced in a child process, and reports
the tracing overhead as the difference of the two ``op_p50_s``.

Inputs are the project's sf0.1 test tables, copied unchanged into
``perfbench/data/sf0.1``; Spark's scratch space lives under
``perfbench/.cache``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
SF = 0.1
DATA_DIR = os.path.join(HERE, "data", f"sf{SF}")
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")

SETUP_REPEATS = 2  # set-ups per run: this process + a fresh child
P90_TAIL_MIN = 10  # samples that must lie beyond a reported p90
# Figures the untraced summary prints beside the declared metrics:
# op_p90_s only where a run holds enough samples (never gated), and
# fail_frac, which is 0 on a correct tree and so cannot carry a bound.
REPORT_ONLY = {"op_p90_s": "s", "fail_frac": "ratio"}


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def percentile_report(samples: list) -> dict:
    """Median always; p90 only when at least P90_TAIL_MIN samples lie
    beyond it (n * 0.1 >= P90_TAIL_MIN), otherwise omitted."""
    out = {"op_p50_s": statistics.median(samples)}
    if len(samples) * 0.1 >= P90_TAIL_MIN:
        out["op_p90_s"] = statistics.quantiles(samples, n=10)[-1]
    return out


def declared_metrics(trace: bool) -> dict:
    """name -> unit of the metrics BENCHMARK.json declares for a mode."""
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


class Tally:
    """Ops attempted vs failed (raised, or returned a wrong result)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, what: str, ok: bool, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.fail_checked(what, why)

    def fail_checked(self, what: str, why: str) -> None:
        """Mark an op already counted as attempted as failed."""
        self.failed += 1
        self.errors.append(f"{what}: {why}"[:500])

    @property
    def fail_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


class Bench:
    """One workload in one fresh SparkSession."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, data_dir: str):
        from perfbench import tracing, workloads

        self.name = workload
        self.spec = workloads.WORKLOADS[workload]
        self.ops = list(self.spec["ops"])
        self.literal = workload == "dsl_literals"
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.data_dir = data_dir
        self.tally = Tally()
        self.rec = tracing.SpanRecorder()
        self.spark = None
        self.expected: dict = {}
        self.outputs: dict = {}  # registry op -> (job group, Arrow table)
        self.plan_counts: dict = {}  # op -> (exchanges, has python eval)
        self.lat: list[float] = []  # warm latencies
        self.traced_groups: set = set()
        self.rounds = 0

    # -------------------------------------------------------- set-up

    def setup(self) -> float:
        """Fresh process -> session up and tables resolved (seconds)."""
        t0 = time.perf_counter()
        import faconne_spark.queries as queries
        import faconne_spark.session as session

        from perfbench import tracing

        if not self.literal:
            queries.all_queries()  # imports every registry module
        if self.trace:
            tracing.install(self.rec)
            self.rec.active, self.rec.op_id = True, "setup"
        conf = {
            "spark.local.dir": os.path.join(CACHE, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tempfile.gettempdir()}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedTasks": "1000000",
            })
        self.spark = session.get_session(
            "perfbench", cpus=cpus(), extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        for t in self.spec["tables"]:
            queries.T(self.spark, self.data_dir, t)
        setup_s = time.perf_counter() - t0
        self.rec.active = False
        if self.trace:
            tracing.install_row_counter(self.rec, type(self.spark.range(1)))
        return setup_s

    def prepare(self) -> None:
        """Untimed: expected results (DuckDB oracles / Python literals)."""
        from perfbench import workloads

        if self.literal:
            self.cases = workloads.literal_cases(self.seed)
            self.expected = {k: v[3] for k, v in self.cases.items()}
        else:
            from faconne_spark.queries import all_queries

            self.registry = all_queries()
            self.expected = workloads.oracle_rowsets(self.ops, self.data_dir)

    # ------------------------------------------------------------ ops

    def _op(self, op: str):
        """One op, as timed: build the result and force it to the driver.

        Registry ops collect their result as Arrow, which keeps the
        output for the oracle check without running the query twice."""
        if self.literal:
            import faconne_spark.dsl.compiler as compiler
            import faconne_spark.dsl.pyobj as pyobj

            data, domain, range_, _ = self.cases[op]
            df = compiler.transform(data, domain, range_, spark=self.spark)
            return df, pyobj.collect_nested(df)
        with self.rec.span("queries.build"):
            df = self.registry[op](self.spark, self.data_dir)
        return df, df.toArrow()

    def run_op(self, op: str, group: str) -> float | None:
        """Time one op and keep its output; literal ops are checked on
        every run, registry ops by ``check_pass``."""
        from faconne_spark.operators.dedup import release_caches

        if self.trace:
            self.spark.sparkContext.setJobGroup(group, op)
        self.rec.op_id = group
        try:
            t0 = time.perf_counter()
            df, out = self._op(op)
            dt = time.perf_counter() - t0
        except Exception as e:  # an op that raises is a failed op
            self.tally.record(group, False, repr(e))
            return None
        finally:
            release_caches()  # drop relations the op persisted
        if self.literal:
            ok = out == self.expected[op]
            self.tally.record(group, ok, "" if ok else "result differs")
        else:
            self.tally.record(group, True)
            self.outputs[op] = (group, out)
        if self.rec.active and op not in self.plan_counts:
            from faconne_spark.session import plan_report

            rep = plan_report(df)
            self.plan_counts[op] = (rep["n_exchanges"],
                                    int(rep["has_python_eval"]))
        return dt

    # ------------------------------------------------------- phases

    def cold_pass(self) -> float:
        """First run of each distinct op in the fresh session."""
        times = [self.run_op(op, f"cold:{op}") for op in self.ops]
        return sum(t for t in times if t is not None)

    def warmup_pass(self) -> None:
        """Untimed second run of each op: the first warm runs of an op
        are still 10-25 % slower while the JVM compiles its code."""
        for op in self.ops:
            self.run_op(op, f"warmup:{op}")

    def check_pass(self) -> None:
        """Compare each registry op's latest output with its oracle."""
        from perfbench.workloads import rowset

        for op, (group, table) in self.outputs.items():
            got = rowset(table.column_names,
                         zip(*(c.to_pylist() for c in table.columns)))
            want = self.expected[op]
            if got != want:
                self.tally.fail_checked(group, (
                    f"{got[1].total()} rows, {want[1].total()} expected"
                    if got[0] == want[0] else f"columns {got[0]}"))
        self.outputs.clear()

    def warm_loop(self) -> float:
        """Seeded shuffled rounds of every op until ``seconds`` pass
        (whole rounds only, so every op is equally represented)."""
        rng = random.Random(self.seed)
        t0 = time.perf_counter()
        while True:
            order = list(self.ops)
            rng.shuffle(order)
            for op in order:
                group = f"warm{self.rounds}:{op}"
                self.rec.active = self.trace
                dt = self.run_op(op, group)
                self.rec.active = False
                if dt is None:
                    continue
                if self.trace:
                    self.traced_groups.add(group)
                self.lat.append(dt)
            self.rounds += 1
            if time.perf_counter() - t0 >= self.seconds:
                return time.perf_counter() - t0

    def engine_counters(self) -> dict:
        from perfbench.tracing import EngineProbe

        return EngineProbe(self.spark.sparkContext).per_op(self.traced_groups)

    def close(self) -> None:
        """Stop Spark and wait for its JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


# ------------------------------------------------------------ metrics


def end_to_end_metrics(setups, cold_s, lat, loop_s) -> dict:
    """The untraced report: declared metrics plus REPORT_ONLY ones."""
    return {
        "setup_s": statistics.median(setups),
        "cold_total_s": cold_s,
        **percentile_report(lat),
        "ops_per_s": len(lat) / loop_s,
    }


def per_layer_metrics(b: Bench, setup_s: float, engine: dict,
                      rss_mb: float, untraced_p50_s: float) -> dict:
    """The traced report, per traced warm op unless named otherwise.

    Time inside a layer is reported as its share of the traced ops'
    latency (of set-up for table resolution): a layer that a workload
    never calls then reads 0 as a ratio, not as a time that is the same
    on every run."""
    from perfbench.tracing import mean

    rec, groups = b.rec, b.traced_groups
    op_time = sum(b.lat)

    def share(name):
        return rec.totals(name, groups) / op_time

    traced_p50_s = statistics.median(b.lat)
    m = {
        "fail_frac": b.tally.fail_frac,
        "trace.op_p50_s": traced_p50_s,
        # against an untraced run of the same seed in a fresh process
        "trace.overhead_s": traced_p50_s - untraced_p50_s,
        "session.get_session_s": rec.totals("session.get_session", {"setup"}),
        # set-up resolves each table once: every T() span there is a first
        "queries.table_resolve_share":
            rec.totals("queries.T", {"setup"}) / setup_s,
        "queries.build_share": share("queries.build"),
        "dsl.compile_share": share("dsl.compile"),
        "dsl.bind_share": share("dsl.bind"),
        "dsl.range_share": share("dsl.range"),
        # per distinct op: mean exchanges, ops whose plan runs Python
        "dsl.plan_exchanges": mean(c[0] for c in b.plan_counts.values()),
        "dsl.python_eval_ops": sum(c[1] for c in b.plan_counts.values()),
        "pyobj.to_df_share": share("pyobj.to_df"),
        "pyobj.collect_nested_share": share("pyobj.collect_nested"),
        "pyobj.rows_collected": sum(
            v for (op, k), v in rec.counters.items()
            if k == "pyobj.rows_collected" and op in groups
        ) / len(groups),
        "operators.relational.asof_join_share":
            share("operators.relational.asof_join"),
        "operators.relational.top_k_per_group_share":
            share("operators.relational.top_k_per_group"),
        "streaming.window_counts_share": share("streaming.window_counts"),
        "streaming.sessionize_batch_share":
            share("streaming.sessionize_batch"),
    }
    per_op = list(engine.values())
    for key in ("jobs", "stages", "tasks", "exec_wall_s", "executor_run_s",
                "executor_cpu_s", "shuffle_write_mb", "shuffle_read_mb",
                "spill_mb", "input_records", "task_skew", "failed_tasks"):
        m[f"engine.{key}"] = mean(c[key] for c in per_op)
    wall = sum(c["exec_wall_s"] for c in per_op)
    run_s = sum(c["executor_run_s"] for c in per_op)
    m["engine.core_busy_frac"] = run_s / (wall * cpus()) if wall else 0.0
    m["engine.gc_frac"] = (
        sum(c["gc_s"] for c in per_op) / run_s if run_s else 0.0
    )
    m["engine.jvm_peak_rss_mb"] = rss_mb
    return m


def result_line(tally: Tally, metrics: dict, declared: dict) -> dict:
    """The result line; its metric names must be exactly the declared
    ones (REPORT_ONLY figures stay in the human summary)."""
    gated = {k: v for k, v in metrics.items() if k in declared}
    extra = set(metrics) - set(declared) - set(REPORT_ONLY)
    if metrics and (set(gated) != set(declared) or extra):
        raise ValueError(
            f"metrics {sorted(metrics)} do not match BENCHMARK.json "
            f"{sorted(declared)}"
        )
    return {
        "correct": tally.failed == 0 and bool(metrics),
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": gated[k], "unit": declared[k]}
                    for k in declared if k in gated},
    }


# ------------------------------------------------------------ runs


def child(args, seconds, flag: str, timeout: float) -> dict:
    """Last stdout line (JSON) of run.py in a fresh child process."""
    cmd = [sys.executable, os.path.abspath(__file__),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(seconds), "--trace", "0", flag]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=timeout)
    if p.returncode != 0:
        raise RuntimeError(f"child run exited {p.returncode}: "
                           f"{p.stderr[-400:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def child_setup(args) -> float:
    """Set-up time measured in a fresh child process."""
    return child(args, 0, "--setup-only", 120)["setup_s"]


def untraced_p50(args) -> float:
    """``op_p50_s`` of an untraced run with the same seed and length,
    without the repeated set-ups."""
    res = child(args, args.seconds, "--baseline", 150)
    if not res["correct"]:
        raise RuntimeError(f"untraced child run failed: {res}")
    return res["metrics"]["op_p50_s"]["value"]


def run(args, data_dir: str) -> tuple[dict, Bench, dict]:
    """One full run; returns (report metrics, bench, run info)."""
    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace),
              data_dir)
    phases: dict = {}

    def phase(name, fn):
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            phases[name] = round(time.perf_counter() - t0, 3)

    try:
        setups = [phase("setup", b.setup)]
        phase("prepare", b.prepare)
        cold_s = phase("cold", b.cold_pass)
        phase("check_cold", b.check_pass)
        phase("warmup", b.warmup_pass)
        phase("check_pre", b.check_pass)
        loop_s = phase("loop", b.warm_loop)
        phase("check_post", b.check_pass)
        engine = phase("engine", b.engine_counters) if b.trace else {}
    finally:
        phase("close", b.close)
    info = {"phases": phases, "rounds": b.rounds, "samples": len(b.lat)}
    if not b.lat:
        return {}, b, info
    if b.trace:
        import resource

        # the JVM is a reaped child now: its peak RSS is in RUSAGE_CHILDREN
        rss_mb = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024
        info["spans"] = os.path.join(
            CACHE, f"spans-{args.workload}-{args.seed}.jsonl")
        b.rec.dump(info["spans"])
        try:
            base = phase("untraced_run", lambda: untraced_p50(args))
        except (RuntimeError, subprocess.TimeoutExpired, ValueError,
                KeyError) as e:
            b.tally.record("untraced_run", False, repr(e))
            return {}, b, info
        return per_layer_metrics(b, setups[0], engine, rss_mb, base), b, info

    for _ in range(0 if args.baseline else SETUP_REPEATS - 1):
        try:
            setups.append(phase("child_setup", lambda: child_setup(args)))
        except (RuntimeError, subprocess.TimeoutExpired, ValueError,
                KeyError) as e:
            b.tally.record("setup", False, repr(e))
    info["setups"] = setups
    m = end_to_end_metrics(setups, cold_s, b.lat, loop_s)
    m["fail_frac"] = b.tally.fail_frac
    return m, b, info


def describe(args) -> dict:
    import platform

    import pyspark

    try:
        java = subprocess.run(["java", "-version"], capture_output=True,
                              text=True, timeout=30).stderr.splitlines()
    except (OSError, subprocess.TimeoutExpired):
        java = []
    return {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "cpus": cpus(), "master": f"local[{cpus()}]", "sf": SF,
        "spark": pyspark.__version__,
        "java": java[0] if java else "unknown",
        "python": platform.python_version(),
    }


def prepare_env() -> None:
    """Build step, untimed: point every scratch path at the cache and
    byte-compile the package (as an install would, so the first run in
    a fresh checkout does not time it)."""
    import compileall

    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # Python workers import faconne_spark too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for pkg in ("faconne_spark", "perfbench"):
        compileall.compile_dir(os.path.join(ROOT, pkg), quiet=1)


def parse_args(argv=None):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-only", action="store_true",
                    help=argparse.SUPPRESS)
    ap.add_argument("--baseline", action="store_true",
                    help=argparse.SUPPRESS)  # untraced, one set-up
    return ap.parse_args(argv)


def main(argv=None) -> int:
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "faconne_spark")):
        print(f"perfbench: no faconne_spark package in {ROOT}",
              file=sys.stderr)
        return 2
    prepare_env()
    data_dir = DATA_DIR

    if args.setup_only:
        b = Bench(args.workload, args.seed, 0, False, data_dir)
        try:
            setup_s = b.setup()
        finally:
            b.close()
        print(json.dumps({"setup_s": setup_s}))
        return 0

    metrics, b, info = run(args, data_dir)
    declared = declared_metrics(bool(args.trace))
    result = result_line(b.tally, metrics, declared)
    print(json.dumps({"run": describe(args), **info}), flush=True)
    units = {**REPORT_ONLY, **declared}
    for k, v in metrics.items():
        print(f"  {k:42s} {v:14.6f} {units[k]}", file=sys.stderr)
    for e in b.tally.errors[:20]:
        print(f"  FAILED {e}", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
