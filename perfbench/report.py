#!/usr/bin/env python3
"""Repeat benchmark runs and summarise them.

    python3 perfbench/report.py spread --workload collection --seeds 1-10
        Runs the workload once per seed (tracing off) and prints, for each
        end-to-end metric, the median and the quartile spread
        (Q3 - Q1) / median, with statistics.quantiles(n=4).

    python3 perfbench/report.py overhead --workload analytics --seeds 1-3
        Runs each seed untraced, then traced twice, and prints the
        traced-minus-untraced difference of each end-to-end median (the
        tracing overhead) and which per-span counters repeat exactly
        between the two traced runs of a seed.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"
BENCHMARK = json.loads((RUN.parent.parent / "BENCHMARK.json").read_text())


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run(workload, seed, trace):
    """One benchmark run: (detail line, result line)."""
    t0 = time.time()
    p = subprocess.run([sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
                        "--seconds", str(BENCHMARK["run_seconds"]), "--trace", str(trace)],
                       stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(f"run {workload} seed {seed} trace {trace} exited {p.returncode}")
    print(f"  ({workload} seed {seed} trace {trace}: {time.time() - t0:.1f} s wall)", flush=True)
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def cmd_spread(a):
    rows = []
    for s in seeds(a.seeds):
        detail, result = run(a.workload, s, 0)
        rows.append(result)
        print(f"seed {s}: correct={result['correct']} failed={result['failed']}/"
              f"{result['attempted']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()) +
              f" floor_ms={detail['noise']['floor_ms_after']:.1f}"
              f" load1={detail['noise']['load1_after']:.2f}", flush=True)
    print(f"\n{a.workload}: {len(rows)} runs, all correct: {all(r['correct'] for r in rows)}")
    for m in BENCHMARK["end_to_end"]:
        med, sp = spread([r["metrics"][m["name"]]["value"] for r in rows])
        flag = "ok" if sp < m["bound"] / 3 else ("within bound" if sp <= m["bound"] else "OVER")
        print(f"  {m['name']:<14} median {med:10.4g} {m['unit']:<5} spread {sp:6.3f} "
              f"bound {m['bound']:.2f}  {flag}")


def cmd_overhead(a):
    plain, traced = [], []
    repeat, differ = set(), set()
    for s in seeds(a.seeds):
        plain.append(run(a.workload, s, 0)[0])
        t1, t2 = run(a.workload, s, 1)[0], run(a.workload, s, 1)[0]
        traced.append(t1)
        for span, c1 in t1["calls"].items():
            c2 = t2["calls"].get(span, {})
            for field in ("jobs_all", "plan_ms", "task_ms", "shuffle_mb"):
                (repeat if c1.get(field) == c2.get(field) else differ).add(f"{span}.{field}")
    print(f"{a.workload}: tracing overhead, median over {len(plain)} seeds")
    for m in BENCHMARK["end_to_end"]:
        u = statistics.median(d["end_to_end"][m["name"]]["value"] for d in plain)
        t = statistics.median(d["end_to_end"][m["name"]]["value"] for d in traced)
        print(f"  {m['name']:<14} untraced {u:10.4g}  traced {t:10.4g}  "
              f"difference {t - u:+10.4g} {m['unit']} ({(t - u) / u:+.1%})")
    print("counters repeating exactly across two traced runs of a seed:")
    print("  " + (", ".join(sorted(repeat - differ)) or "none"))
    print("counters that differ between them:")
    print("  " + (", ".join(sorted(differ)) or "none"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    for name in ("spread", "overhead"):
        p = sub.add_parser(name)
        p.add_argument("--workload", required=True)
        p.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,4,7")
    a = ap.parse_args()
    {"spread": cmd_spread, "overhead": cmd_overhead}[a.cmd](a)


if __name__ == "__main__":
    main()
