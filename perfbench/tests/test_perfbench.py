"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

All but the last run without Spark; ``test_untraced_run_end_to_end``
starts one (about 30 s).
"""

import json
import os
import subprocess
import sys

import pyarrow as pa
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run, tracing, workloads  # noqa: E402


def _bench(name="relational"):
    return run.Bench(name, seed=1, seconds=0, trace=False, data_dir="")


def test_untraced_report_names_are_declared():
    declared = run.declared_metrics(trace=False)
    report = run.end_to_end_metrics([1.0, 2.0, 3.0], 4.0, [0.1] * 200, 5.0)
    report["fail_frac"] = 0.0
    assert set(report) <= set(declared) | set(run.REPORT_ONLY)
    line = run.result_line(run.Tally(), report, declared)
    assert set(line["metrics"]) == set(declared)
    for name, m in line["metrics"].items():
        assert m["unit"] == declared[name]


def test_traced_report_names_are_declared():
    declared = run.declared_metrics(trace=True)
    b = _bench()
    rec = b.rec
    rec.active = True
    for group in ("setup", "warm0:a"):
        rec.op_id = group
        with rec.span("queries.build"):
            rec.count("pyobj.rows_collected", 3)
    b.traced_groups = {"warm0:a"}
    b.lat = [0.2]
    b.plan_counts = {"a": (2, 0)}
    counters = dict.fromkeys(
        ["jobs", "stages", "tasks", "exec_wall_s", "executor_run_s",
         "executor_cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
         "spill_mb", "input_records", "task_skew", "failed_tasks"], 1.0)
    report = run.per_layer_metrics(b, 5.0, {"warm0:a": counters}, 100.0,
                                   untraced_p50_s=0.15)
    assert set(report) == set(declared)
    assert report["trace.overhead_s"] == pytest.approx(0.05)
    line = run.result_line(b.tally, report, declared)
    assert set(line["metrics"]) == set(declared)


def test_result_line_rejects_undeclared_metric():
    declared = run.declared_metrics(trace=False)
    report = run.end_to_end_metrics([1.0], 4.0, [0.1] * 3, 5.0)
    report["made_up_metric"] = 1.0
    with pytest.raises(ValueError):
        run.result_line(run.Tally(), report, declared)


def test_p90_omitted_when_samples_too_few():
    assert "op_p90_s" not in run.percentile_report([0.1] * 99)
    full = run.percentile_report([float(i) for i in range(100)])
    assert full["op_p50_s"] == pytest.approx(49.5)
    assert 89 < full["op_p90_s"] < 91


def _checked_bench(corrupt: bool):
    b = _bench()
    cols = ["k", "v"]
    rows = [(1, 0.5), (2, 1.5), (3, 2.5)]
    want = [(1, 0.5), (2, 1.5), (3, 99.0)] if corrupt else rows
    b.expected = {"q": workloads.rowset(cols, want)}
    b.outputs = {"q": ("warm0:q", pa.table({"k": [r[0] for r in rows],
                                            "v": [r[1] for r in rows]}))}
    b.tally.record("warm0:q", True)
    b.check_pass()
    return b


def test_corrupted_expected_row_raises_fail_frac():
    assert _checked_bench(corrupt=False).tally.fail_frac == 0
    b = _checked_bench(corrupt=True)
    assert b.tally.fail_frac > 0
    assert b.tally.attempted == 1 and b.tally.failed == 1


def test_rowset_ignores_order_and_column_case():
    a = workloads.rowset(["B", "a"], [(1, "x"), (2, "y")])
    b = workloads.rowset(["a", "b"], [("y", 2), ("x", 1)])
    assert a == b
    assert a != workloads.rowset(["a", "b"], [("x", 1), ("x", 1)])


def test_self_time_subtracts_covered_child_time():
    rec = tracing.SpanRecorder()
    rec.spans = [
        {"name": "p", "start": 0.0, "end": 10.0, "parent": None, "op": 1},
        {"name": "c", "start": 1.0, "end": 4.0, "parent": 0, "op": 1},
        {"name": "c", "start": 3.0, "end": 5.0, "parent": 0, "op": 1},
        {"name": "d", "start": 8.0, "end": 12.0, "parent": 0, "op": 1},
    ]
    # children cover [1, 5] and [8, 10] of the parent: 6 of 10 seconds
    assert rec.self_times() == [4.0, 3.0, 2.0, 4.0]


def test_install_wraps_every_lookup():
    import faconne_spark
    import faconne_spark.dsl.compiler as compiler
    import faconne_spark.dsl.range_ as range_
    import faconne_spark.session as session

    rec = tracing.SpanRecorder()
    tracing.install(rec)
    for fn in (compiler.build_range, range_.build_range,
               session.get_session, faconne_spark.get_session,
               compiler.Transformer.__call__):
        assert getattr(fn, "__wrapped_by_perfbench__", False), fn


def test_literal_cases_are_seeded():
    a, b = workloads.literal_cases(7), workloads.literal_cases(7)
    assert [c[3] for c in a.values()] == [c[3] for c in b.values()]
    assert workloads.literal_cases(8)["swap_keys"][3] != a["swap_keys"][3]


def test_untraced_run_end_to_end():
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", "dsl_literals", "--seed", "3", "--seconds", "0",
         "--trace", "0"],
        capture_output=True, text=True, timeout=300, cwd=ROOT,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    desc, result = json.loads(lines[0]), json.loads(lines[-1])
    assert desc["run"]["cpus"] == len(os.sched_getaffinity(0))
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == set(run.declared_metrics(False))
