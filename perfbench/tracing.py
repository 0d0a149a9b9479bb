"""In-memory span recorder, layer wrappers and Spark engine counters.

Spans are recorded only from the benchmark's own files: ``install``
wraps the public functions of each ``faconne_spark`` layer at every
place callers look them up (the defining module, every module that
imported the name, and the class for methods).  Nothing under
``faconne_spark/`` is edited.

Engine counters come from Spark's REST status API (the UI is enabled in
traced runs only); every op runs under its own job group so the
counters sum per op.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import statistics
import sys
import time
import urllib.request

# (module, attribute, span name).  "Cls.method" wraps on the class.
LAYER_TARGETS = [
    ("faconne_spark.session", "get_session", "session.get_session"),
    ("faconne_spark.queries", "T", "queries.T"),
    ("faconne_spark.dsl.compiler", "Transformer.__call__", "dsl.compile"),
    ("faconne_spark.dsl.domain", "Binder.bind", "dsl.bind"),
    ("faconne_spark.dsl.range_", "build_range", "dsl.range"),
    ("faconne_spark.dsl.pyobj", "to_df", "pyobj.to_df"),
    ("faconne_spark.dsl.pyobj", "collect_nested", "pyobj.collect_nested"),
    ("faconne_spark.operators.relational", "asof_join",
     "operators.relational.asof_join"),
    ("faconne_spark.operators.relational", "top_k_per_group",
     "operators.relational.top_k_per_group"),
    ("faconne_spark.streaming", "window_counts", "streaming.window_counts"),
    ("faconne_spark.streaming", "sessionize_batch",
     "streaming.sessionize_batch"),
]


class SpanRecorder:
    """Spans kept in memory: (name, start, end, parent index, op id).

    Recording happens only while ``active`` is set, so a traced run can
    interleave traced and untraced ops with the wrappers installed."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.active = False
        self.op_id: str | None = None
        self.counters: dict[tuple, float] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "op": self.op_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def inside(self, name: str) -> bool:
        return any(self.spans[i]["name"] == name for i in self._stack)

    def count(self, name: str, value: float) -> None:
        if self.active:
            key = (self.op_id, name)
            self.counters[key] = self.counters.get(key, 0) + value

    def self_times(self) -> list[float]:
        """Per span: its duration minus the part its children cover."""
        children: dict[int, list] = {}
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(i)
        out = []
        for i, s in enumerate(self.spans):
            covered, cur_lo, cur_hi = 0.0, None, None
            ivs = sorted(
                (max(self.spans[c]["start"], s["start"]),
                 min(self.spans[c]["end"], s["end"]))
                for c in children.get(i, [])
            )
            for lo, hi in ivs:
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out.append(max(0.0, (s["end"] - s["start"]) - covered))
        return out

    def totals(self, name: str, ops: set) -> float:
        """Summed duration (s) of spans named ``name`` inside ``ops``."""
        return sum(
            s["end"] - s["start"] for s in self.spans
            if s["name"] == name and s["op"] in ops
        )

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s, st in zip(self.spans, selfs):
                f.write(json.dumps({**s, "self": st}) + "\n")


def _wrap(fn, name: str, rec: SpanRecorder):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with rec.span(name):
            return fn(*args, **kwargs)

    wrapper.__wrapped_by_perfbench__ = True
    return wrapper


def install(rec: SpanRecorder) -> None:
    """Wrap every LAYER_TARGETS function where callers look it up."""
    for mod_name, attr, span_name in LAYER_TARGETS:
        mod = importlib.import_module(mod_name)
        if "." in attr:
            cls_name, meth = attr.split(".")
            cls = getattr(mod, cls_name)
            setattr(cls, meth, _wrap(getattr(cls, meth), span_name, rec))
            continue
        orig = getattr(mod, attr)
        wrapped = _wrap(orig, span_name, rec)
        for other in list(sys.modules.values()):
            if getattr(other, "__name__", "").startswith("faconne_spark") \
                    and getattr(other, attr, None) is orig:
                setattr(other, attr, wrapped)


def install_row_counter(rec: SpanRecorder, df_cls) -> None:
    """Count rows that ``DataFrame.collect`` returns inside
    ``pyobj.collect_nested`` spans (the ``pyobj.rows_collected`` count)."""
    orig = df_cls.collect

    @functools.wraps(orig)
    def collect(self):
        rows = orig(self)
        if rec.active and rec.inside("pyobj.collect_nested"):
            rec.count("pyobj.rows_collected", len(rows))
        return rows

    df_cls.collect = collect


# ------------------------------------------------------------ engine


class EngineProbe:
    """Per-job-group Spark counters read from the REST status API."""

    def __init__(self, sc):
        self.sc = sc
        self.base = (
            f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        )
        # localhost only: never route through an environment proxy
        self._open = urllib.request.build_opener(
            urllib.request.ProxyHandler({})
        ).open

    def _get(self, path: str):
        with self._open(self.base + path, timeout=30) as r:
            return json.load(r)

    def _settled_jobs(self, groups: set, timeout_s: float = 30.0) -> list:
        """Jobs of ``groups`` once the status store has every one of them
        finished (the listener bus updates it asynchronously)."""
        tracker = self.sc.statusTracker()
        want = set()
        for g in groups:
            want.update(tracker.getJobIdsForGroup(g))
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") in groups]
            done = {j["jobId"] for j in jobs
                    if j["status"] in ("SUCCEEDED", "FAILED")}
            if want <= done or time.monotonic() > deadline:
                return jobs
            time.sleep(0.2)

    def per_op(self, groups: set) -> dict:
        """group -> counters summed over the group's jobs and stages."""
        jobs = self._settled_jobs(groups)
        # failed attempts ran tasks too; skipped and pending stages did not
        stages = {
            (s["stageId"], s["attemptId"]): s
            for s in self._get("/stages")
            if s["status"] in ("COMPLETE", "FAILED")
        }
        by_stage: dict[int, list] = {}
        for key, s in stages.items():
            by_stage.setdefault(key[0], []).append(s)
        out = {}
        for g in groups:
            gj = [j for j in jobs if j.get("jobGroup") == g]
            st = [s for j in gj for sid in j["stageIds"]
                  for s in by_stage.get(sid, [])]
            c = {
                "jobs": len(gj),
                "stages": len(st),
                "tasks": sum(s["numCompleteTasks"] for s in st),
                "failed_tasks": sum(s["numFailedTasks"] for s in st),
                "exec_wall_s": sum(_job_wall(j) for j in gj),
                "executor_run_s": sum(s["executorRunTime"] for s in st) / 1e3,
                "executor_cpu_s": sum(s["executorCpuTime"] for s in st) / 1e9,
                "gc_s": sum(s["jvmGcTime"] for s in st) / 1e3,
                "shuffle_write_mb":
                    sum(s["shuffleWriteBytes"] for s in st) / 1e6,
                "shuffle_read_mb":
                    sum(s["shuffleReadBytes"] for s in st) / 1e6,
                "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                                for s in st) / 1e6,
                "input_records": sum(s["inputRecords"] for s in st),
                "task_skew": 1.0,
            }
            if st:
                longest = max(st, key=lambda s: s["executorRunTime"])
                c["task_skew"] = self._skew(longest)
            out[g] = c
        return out

    def _skew(self, stage) -> float:
        """max ÷ median task run time within one stage attempt."""
        q = self._get(
            f"/stages/{stage['stageId']}/{stage['attemptId']}"
            "/taskSummary?quantiles=0.5,1.0"
        )
        med, mx = q["executorRunTime"]
        return mx / med if med > 0 else 1.0


def _job_wall(job) -> float:
    from datetime import datetime

    def ts(s):
        return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").timestamp()

    if not job.get("completionTime") or not job.get("submissionTime"):
        return 0.0
    return ts(job["completionTime"]) - ts(job["submissionTime"])


def mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0
