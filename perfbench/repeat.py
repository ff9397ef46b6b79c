#!/usr/bin/env python3
"""Run workloads over several seeds and report each metric's spread.

    python3 perfbench/repeat.py --workloads relational,sql_session \
        --seeds 1-10 --trace 0 --out runs.jsonl
    python3 perfbench/repeat.py --report runs.jsonl traced.jsonl

Each result line gets `workload`, `seed`, `trace` and `wall_s` keys and is
appended to --out. The table printed at the end gives, per workload and
metric, the median and the interquartile range as a share of the median,
computed like `statistics.quantiles(values, n=4)`. --report prints the
same table for recorded files, and for traced lines the share of operation
wall each layer takes and the tracing overhead.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def spread(rows):
    """{workload: {metric: (median, iqr share, n)}} over result lines."""
    by = {}
    for r in rows:
        for k, v in r["metrics"].items():
            by.setdefault(r["workload"], {}).setdefault(k, []).append(v["value"])
    table = {}
    for w, ms in by.items():
        for k, vs in ms.items():
            med = statistics.median(vs)
            iqr = 0.0
            if len(vs) >= 2 and med:
                q = statistics.quantiles(vs, n=4)
                iqr = (q[2] - q[0]) / med
            table.setdefault(w, {})[k] = (med, iqr, len(vs))
    return table


LAYERS = [
    ("front-end self", ["frontend.self_ms"]),
    ("Q.fn build self", ["operators.build_ms"]),
    ("catalyst phases", ["catalyst.parse_ms", "catalyst.analyze_ms",
                         "catalyst.optimize_ms", "catalyst.plan_ms"]),
    ("codegen compile", ["codegen.compile_ms"]),
    ("jobs (exec.ms)", ["exec.ms"]),
    ("no span", ["trace.untraced_ms"]),
]


def report(paths):
    rows = [json.loads(l) for p in paths for l in open(p) if l.strip()]
    plain = [r for r in rows if not r.get("trace")]
    traced = [r for r in rows if r.get("trace")]
    print_spread(plain)
    base = spread(plain)
    for w, ms in spread(traced).items():
        op = ms["trace.op_ms"][0]
        print(f"== {w}: traced layer shares of {op:.1f} ms per operation")
        rest = op
        for label, keys in LAYERS:
            v = sum(ms[k][0] for k in keys)
            rest -= v
            print(f"  {label:18s} {v:9.1f} ms  {v / op:6.1%}")
        print(f"  {'other':18s} {rest:9.1f} ms  {rest / op:6.1%}")
        if w in base:
            print(f"  tracing overhead on suite_s: "
                  f"{ms['trace.suite_s'][0] / base[w]['suite_s'][0] - 1:+.1%}")


def print_spread(rows):
    for w, ms in spread(rows).items():
        print(f"== {w}")
        for k, (med, iqr, n) in ms.items():
            print(f"  {k:36s} median {med:12.4f}  iqr/median {iqr:6.3f}  (n={n})")


def main():
    if sys.argv[1:2] == ["--report"]:
        return report(sys.argv[2:])
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = a.seconds or json.load(f)["run_seconds"]
    rows = []
    for w in a.workloads.split(","):
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(seconds), "--trace", str(a.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {s}: exit {p.returncode}", file=sys.stderr)
                continue
            r = json.loads(lines[-1])
            r.update(workload=w, seed=s, trace=a.trace, wall_s=round(time.time() - t0, 1))
            rows.append(r)
            with open(a.out, "a") as f:
                f.write(json.dumps(r) + "\n")
            print(f"{w} seed {s}: correct={r['correct']} failed={r['failed']} "
                  f"wall {r['wall_s']} s", file=sys.stderr)
    print_spread(rows)


if __name__ == "__main__":
    main()
