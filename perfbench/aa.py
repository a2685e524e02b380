#!/usr/bin/env python3
"""A/A check: two sets of benchmark runs of the same commit.

    python3 perfbench/aa.py [--runs 10] [--seconds S] [--workloads w1,w2]

Runs `run.py` untraced `--runs` times per set and workload, alternating set A
and set B, each run with its own seed. Prints, per workload and end-to-end
metric, each set's median and quartiles, the quartile spread as a share of
the median, and whether the sets agree within the bound BENCHMARK.json gives
the metric: each set's spread within the bound and each median not worse
than the other's by more than the bound. Exit code 0 when
every pair agrees. Raw values go to .bench_state/aa-<time>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402  (metric names and units)


def load_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    spec = json.load(open(path)) if os.path.exists(path) else {}
    bounds = {m["name"]: (m["bound"], m["better"]) for m in spec.get("end_to_end", [])}
    return spec.get("run_seconds", 6), bounds


def one_run(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed} failed with exit code {p.returncode}")
    res = json.loads(lines[-1])
    return {k: v["value"] for k, v in res["metrics"].items()}


def stats(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def worse_by(a, b, better):
    """How much worse median b is than median a, as a share of a."""
    if a == 0:
        return 0.0
    return (b - a) / a if better == "lower" else (a - b) / a


def main():
    default_seconds, bounds = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=default_seconds)
    ap.add_argument("--workloads", default=",".join(run.WORKLOADS))
    ap.add_argument("--base-seed", type=int, default=1000)
    a = ap.parse_args()
    raw = {}
    ok = True
    for w in a.workloads.split(","):
        sets = {"A": [], "B": []}
        for i in range(a.runs):
            for s, off in (("A", 0), ("B", 5000)):
                sets[s].append(one_run(w, a.base_seed + off + i, a.seconds))
        raw[w] = sets
        print(f"== {w} ({a.runs} runs per set)")
        for name, unit in run.E2E:
            bound, better = bounds.get(name, (0.25, "lower"))
            sa = stats([r[name] for r in sets["A"]])
            sb = stats([r[name] for r in sets["B"]])
            spread_ok = sa["spread"] <= bound and sb["spread"] <= bound
            drift = max(worse_by(sa["median"], sb["median"], better),
                        worse_by(sb["median"], sa["median"], better))
            agree = spread_ok and drift <= bound
            ok &= agree
            print(f"  {name:<18} {unit:<5} A {sa['median']:.5g} [{sa['q1']:.5g}, {sa['q3']:.5g}]"
                  f" spread {sa['spread']:.3f} | B {sb['median']:.5g} [{sb['q1']:.5g}, "
                  f"{sb['q3']:.5g}] spread {sb['spread']:.3f} | drift {drift:.3f} "
                  f"bound {bound} -> {'agree' if agree else 'DISAGREE'}")
    os.makedirs(os.path.join(ROOT, ".bench_state"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_state", f"aa-{int(time.time())}.json"), "w") as f:
        json.dump(raw, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
