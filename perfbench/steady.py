#!/usr/bin/env python3
"""Steadiness mode: run every workload repeatedly and compare each
end-to-end metric's run-to-run spread with its bound.

    python3 perfbench/steady.py --runs 10
    python3 perfbench/steady.py --runs 10 --against .perfbench_run/steady-A.json

Each run is a fresh ``run.py`` process with its own ``--seed`` (seeds
1 … ``--runs``), run one after another.
The spread of a metric is the distance between the first and third
quartile of its per-run values (``statistics.quantiles(values, n=4)``)
as a share of their median. The bounds and run length come from
``BENCHMARK.json`` at the checkout root. ``--against`` also compares
each median with the same metric's median in an earlier summary and
reports the change as a share of that median (positive = worse).
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


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "0"]
    t = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {p.returncode})")
    res = json.loads(lines[-1])
    res["wall_s"] = time.monotonic() - t
    for line in lines[:-1]:
        if line.startswith('{"detail"'):
            res.update(json.loads(line))
    return res


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (q3 - q1) / median)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, (q3 - q1) / q2


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--workloads", nargs="*",
                   default=[w["name"] for w in bench["workloads"]])
    p.add_argument("--against", help="summary file of an earlier run")
    args = p.parse_args(argv)
    if args.runs < 2:
        p.error("--runs must be at least 2 to have quartiles")
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    earlier = {}
    if args.against:
        with open(args.against) as f:
            earlier = json.load(f)["medians"]

    raw: dict[str, list[dict]] = {}
    medians: dict[str, dict[str, float]] = {}
    steady = True
    for w in args.workloads:
        runs = raw[w] = []
        for i in range(args.runs):
            runs.append(one_run(w, i + 1, bench["run_seconds"]))
            r = runs[-1]
            print(f"{w} seed {i + 1}: correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} "
                  f"wall={r['wall_s']:.1f}s", flush=True)
        medians[w] = {}
        for name, m in metrics.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            med, sp = spread(vals)
            medians[w][name] = med
            flag = "ok"
            if sp > m["bound"]:
                flag, steady = "OVER BOUND", False
            elif sp > m["bound"] / 3:
                flag = "over a third of bound"
            line = (f"  {w:17s} {name:14s} median {med:14.4f} {m['unit']:9s}"
                    f" spread {sp:7.2%} bound {m['bound']:.0%}  {flag}")
            old = earlier.get(w, {}).get(name)
            if old:
                worse = (old - med if m["better"] == "higher"
                         else med - old) / old
                ok = worse <= m["bound"]
                steady &= ok
                line += (f"  vs earlier {worse:+7.2%} "
                         f"{'ok' if ok else 'WORSE THAN BOUND'}")
            print(line, flush=True)
        if not all(r["correct"] and r["failed"] == 0 for r in runs):
            steady = False
            print(f"  {w}: some runs failed their correctness checks")

    out = os.path.join(ROOT, ".perfbench_run",
                       f"steady-{time.strftime('%Y%m%d-%H%M%S')}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump({"medians": medians, "runs": raw}, f, indent=1)
    print(f"summary: {os.path.relpath(out, ROOT)}; "
          f"{'steady' if steady else 'NOT steady'}")
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
