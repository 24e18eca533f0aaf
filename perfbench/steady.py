#!/usr/bin/env python3
"""Steadiness check: run each workload once per seed and print, for every
end-to-end metric, its spread (interquartile distance over the median, as
statistics.quantiles(n=4) gives the quartiles) against its bound from
BENCHMARK.json.

  python3 perfbench/steady.py [--workloads analyst_sql,daily_cycle]
                              [--seeds 1-10] [--compare .bench_build/steady-A.json]

Each set is saved as .bench_build/steady-<time>.json; --compare checks the
new medians against a saved set: no metric may be worse by more than its
bound. setup_s is reported but, like the acceptance rule, only held to the
median comparison.
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


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--compare")
    a = ap.parse_args()
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    seconds = str(bench["run_seconds"])
    values = {}
    for w in a.workloads.split(","):
        for seed in seeds_of(a.seeds):
            t0 = time.time()
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", seconds, "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True)
            line = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "{}"
            res = json.loads(line) if line.startswith("{") else {}
            print(f"{w} seed {seed}: exit {r.returncode}, {time.time() - t0:.1f} s, "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res.get("metrics", {}).items()),
                  flush=True)
            if r.returncode != 0 or not res.get("correct"):
                sys.stderr.write(r.stdout[-3000:] + r.stderr[-3000:])
                sys.exit(f"{w} seed {seed} failed")
            for k, v in res["metrics"].items():
                values.setdefault(w, {}).setdefault(k, []).append(v["value"])
    out = os.path.join(ROOT, ".bench_build", f"steady-{time.strftime('%Y%m%d-%H%M%S')}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(values, f, indent=1)
    prev = json.load(open(a.compare)) if a.compare else None
    ok = True
    print(f"\n{'workload':12s} {'metric':12s} {'median':>10s} {'spread':>7s} {'bound':>6s}"
          + ("  vs-prev" if prev else ""))
    for w, ms in values.items():
        for k, xs in ms.items():
            med = statistics.median(xs)
            q1, _, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            bound = metrics[k]["bound"]
            flag = "" if k == "setup_s" or spread <= bound else " OVER"
            if k != "setup_s" and spread > bound / 3:
                flag = flag or " (>1/3 bound)"
            line = f"{w:12s} {k:12s} {med:10.4g} {spread:7.3f} {bound:6.2f}{flag}"
            if prev and k in prev.get(w, {}):
                pm = statistics.median(prev[w][k])
                worse = (med / pm - 1) if metrics[k]["better"] == "lower" else (pm / med - 1)
                line += f"  {worse:+.3f}" + (" WORSE" if worse > bound else "")
                ok &= worse <= bound
            ok &= k == "setup_s" or spread <= bound
            print(line)
    print(f"\nsaved {out}; {'all within bounds' if ok else 'SOME METRIC OUT OF BOUND'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
