#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/steadiness.py --runs 10 --first-seed 100 --out a.json
    python3 perfbench/steadiness.py --runs 10 --first-seed 200 \
        --out b.json --compare a.json

Runs ``run.py`` ``--runs`` times per workload, each with another seed,
and reports for every end-to-end metric its median and its spread: the
distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median.  A
metric is steady when its spread is below a third of the bound
BENCHMARK.json fixes for it.  With ``--compare``, each median must also
be no worse than the other set's median by more than the bound.  Also
projects how long a full set of runs takes ((4 + 22 x workloads) runs
at the mean measured wall time per run).  The summary is written as
JSON to ``--out``; the exit code is 0 only when every check holds.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list) -> tuple[float, float]:
    """(median, (q3 - q1) / median)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--workloads", nargs="*",
                    default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--out", required=True)
    ap.add_argument("--compare", help="an earlier --out file")
    args = ap.parse_args(argv)

    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    lower = {m["name"]: m["better"] == "lower" for m in spec["end_to_end"]}
    earlier = {}
    if args.compare:
        with open(args.compare) as f:
            earlier = json.load(f)["workloads"]
    report = {"seconds": args.seconds, "runs": args.runs, "workloads": {}}
    walls = []
    steady = True
    for w in args.workloads:
        values: dict = {m: [] for m in bounds}
        for i in range(args.runs):
            seed = args.first_seed + i
            t0 = time.perf_counter()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"),
                 "--workload", w, "--seed", str(seed),
                 "--seconds", str(args.seconds), "--trace", "0"],
                capture_output=True, text=True, cwd=ROOT, timeout=180,
            )
            walls.append(time.perf_counter() - t0)
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if p.returncode != 0 or not res["correct"]:
                print(f"{w} seed {seed}: rc={p.returncode} {res}",
                      file=sys.stderr)
                return 1
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
            print(f"{w} seed {seed}: {walls[-1]:.1f}s", file=sys.stderr)
        rows = {}
        for m, vs in values.items():
            med, sp = spread(vs)
            ok = sp < bounds[m] / 3
            rows[m] = {"median": med, "spread": sp, "bound": bounds[m],
                       "steady": ok, "values": vs}
            note = "" if ok else "  NOT STEADY"
            if m in earlier.get(w, {}):
                old = earlier[w][m]["median"]
                worse = (med - old if lower[m] else old - med) / old
                rows[m]["worse_than_compared"] = worse
                if worse > bounds[m]:
                    ok, note = False, f"{note}  WORSE BY {worse:.3f}"
            steady &= ok
            print(f"  {w:14s} {m:14s} median {med:10.4f} spread "
                  f"{sp:6.3f} bound {bounds[m]:.2f}{note}", file=sys.stderr)
        report["workloads"][w] = rows
    n_runs = 4 + 22 * len(spec["workloads"])
    report["mean_run_wall_s"] = statistics.fmean(walls)
    report["projected_full_set_s"] = n_runs * report["mean_run_wall_s"]
    report["steady"] = steady
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    print(f"projected {n_runs} runs: {report['projected_full_set_s']:.0f}s; "
          f"steady: {steady}", file=sys.stderr)
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
