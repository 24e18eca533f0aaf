#!/usr/bin/env python3
"""Self time per layer from a traced run, and the tracing overhead.

  python3 perfbench/trace_summary.py --workload W --seed N

Runs the workload twice with the same seed, untraced and traced, then
prints each layer's self time (a span's duration minus the part of it its
child spans cover) from the traced run's spans, and the gap between the
two runs' end-to-end metrics: that gap is the tracing overhead.

  python3 perfbench/trace_summary.py --spans FILE

only summarizes an existing span file (run.py keeps the last traced run's
spans under .bench_build/traces/).
"""
import argparse
import json
import os
import re
import subprocess
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAYERS = ("sources.catalog", "streaming.ingest", "ops.relational", "ops.incr", "ops.dedup",
          "ops.text", "functions", "harness")


def layer_of(name, parent_layer):
    for l in LAYERS:
        if name == l or name.startswith(l + "."):
            return l
    return parent_layer or "other"  # sub-spans (plan, exec) belong to their op's layer


def self_times(spans):
    by_id = {s["id"]: s for s in spans}
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    layer = {}
    for s in sorted(spans, key=lambda s: s["id"]):  # parents are opened before children
        p = by_id.get(s["parent"])
        layer[s["id"]] = layer_of(s["name"], layer.get(p["id"]) if p else None)
    total = defaultdict(float)
    for s in spans:
        # union of the children's intervals inside this span
        covered, end = 0.0, s["start_ms"]
        for c in sorted(kids[s["id"]], key=lambda c: c["start_ms"]):
            a, b = max(c["start_ms"], end), min(c["end_ms"], s["end_ms"])
            if b > a:
                covered += b - a
                end = b
        total[layer[s["id"]]] += (s["end_ms"] - s["start_ms"] - covered) / 1e3
    return dict(total)


def print_self(spans):
    st = self_times(spans)
    whole = sum(st.values())
    print(f"{'layer':20s} {'self s':>9s} {'share':>7s}")
    for l, v in sorted(st.items(), key=lambda kv: -kv[1]):
        print(f"{l:20s} {v:9.3f} {v / whole:7.1%}")


def run(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout + r.stderr)
        sys.exit(f"run failed: {workload} seed {seed} trace {trace}")
    return r.stdout


def e2e_lines(out, prefix=""):
    pat = re.compile(rf"^{re.escape(prefix)}(\S+) = (\S+) (\S+)$")
    return {m.group(1): float(m.group(2)) for m in map(pat.match, out.splitlines()) if m}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--spans")
    a = ap.parse_args()
    if a.spans:
        with open(a.spans) as f:
            print_self([json.loads(x) for x in f if x.strip()])
        return
    seconds = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["run_seconds"]
    plain = e2e_lines(run(a.workload, a.seed, seconds, 0))
    traced_out = run(a.workload, a.seed, seconds, 1)
    traced = e2e_lines(traced_out, "(traced) ")
    with open(os.path.join(ROOT, ".bench_build", "traces",
                           f"{a.workload}-s{a.seed}.spans.jsonl")) as f:
        print_self([json.loads(x) for x in f if x.strip()])
    print(f"\ntracing overhead ({a.workload}, seed {a.seed}): traced vs untraced run")
    for k in plain:
        if k in traced and k != "failed_frac" and plain[k]:
            print(f"  {k:14s} {plain[k]:10.4g} -> {traced[k]:10.4g}  ({traced[k] / plain[k] - 1:+.1%})")
    fence = e2e_lines(traced_out).get("trace.fence_frac")
    if fence is not None:
        print(f"  listener-bus fences took {fence:.1%} of the traced window")


if __name__ == "__main__":
    main()
