#!/usr/bin/env python3
"""Interleaved A/B of perfbench between a base revision and this checkout.

Checks the base revision out into a git worktree under .bench_build/,
runs perfbench/run.py of each tree on the same seeds, alternating which
side runs first, and writes one JSON: every run's end-to-end metrics,
`jobs` counters and noise gauges, each side's median and quartiles per
metric, and the paired verdict of the choosing-metrics rule (section 8):
a gain is claimed only when the change wins at least nine tenths of the
pairs (ties count for neither side) and the medians differ by more than
the base's interquartile range.

    python3 tools/ab.py --base HEAD~1 --workload analytics --seeds 1-10 \\
        --out ab_analytics.json

Each side builds its own program in its own tree. The worktree is removed
at the end unless --keep is given. Run nothing else while it runs.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def git(*args, cwd=ROOT):
    return subprocess.run(["git", *args], cwd=cwd, check=True, text=True,
                          stdout=subprocess.PIPE).stdout.strip()


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def run_once(tree, workload, seed, seconds):
    """One perfbench run of `tree`; returns (result, detail) or None."""
    cmd = [sys.executable, str(tree / "perfbench" / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    r = subprocess.run(cmd, cwd=tree, text=True, stdout=subprocess.PIPE, stderr=subprocess.PIPE)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        sys.stderr.write(r.stderr[-2000:])
        return None
    result, detail = json.loads(lines[-1]), json.loads(lines[-2])
    detail["wall_s"] = round(time.time() - t0, 1)
    return result, detail


def verdict(pairs, better, runs):
    """pairs: [(base, change)] of one metric; better: 'lower' or 'higher';
    runs: the number of pairs run, so a pair with a failed side is no win."""
    sign = 1 if better == "lower" else -1
    wins = sum(1 for b, c in pairs if sign * (b - c) > 0)
    losses = sum(1 for b, c in pairs if sign * (b - c) < 0)
    base = [b for b, _ in pairs]
    change = [c for _, c in pairs]
    bq1, bmed, bq3 = quartiles(base)
    cq1, cmed, cq3 = quartiles(change)
    gap = sign * (bmed - cmed)
    return {
        "base": {"median": bmed, "q1": bq1, "q3": bq3, "runs": base},
        "change": {"median": cmed, "q1": cq1, "q3": cq3, "runs": change},
        "pairs": len(pairs), "pairs_run": runs, "change_wins": wins, "change_losses": losses,
        "median_gap": gap, "base_iqr": bq3 - bq1,
        "change_vs_base": (cmed - bmed) / bmed if bmed else None,
        "gain_claimable": wins * 10 >= 9 * runs and gap > bq3 - bq1,
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True, help="base revision (any git rev)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 1,3,5")
    ap.add_argument("--seconds", type=float,
                    default=json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"])
    ap.add_argument("--out", required=True)
    ap.add_argument("--keep", action="store_true", help="keep the base worktree")
    a = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    base_rev = git("rev-parse", a.base)
    tree = ROOT / ".bench_build" / f"ab-{base_rev[:12]}"
    if not tree.exists():
        git("worktree", "add", "--detach", str(tree), base_rev)
    sides = {"base": tree, "change": ROOT}
    runs = []
    try:
        for i, seed in enumerate(seeds(a.seeds)):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                got = run_once(sides[side], a.workload, seed, a.seconds)
                rec = {"seed": seed, "side": side, "first": side == order[0], "ok": got is not None}
                if got:
                    result, detail = got
                    rec["correct"] = result["correct"]
                    rec["failed"] = result["failed"]
                    rec["metrics"] = {k: v["value"] for k, v in result["metrics"].items()}
                    rec["detail"] = detail  # noise gauges, jobs counters, per-call lists
                runs.append(rec)
                print(json.dumps({k: rec[k] for k in ("seed", "side", "ok")} |
                                 {m["name"]: rec.get("metrics", {}).get(m["name"])
                                  for m in bench["end_to_end"]}), file=sys.stderr, flush=True)
    finally:
        if not a.keep:
            git("worktree", "remove", "--force", str(tree))

    summary = {}
    for m in bench["end_to_end"]:
        pairs = []
        for seed in seeds(a.seeds):
            b = [r for r in runs if r["seed"] == seed and r["side"] == "base" and r["ok"]]
            c = [r for r in runs if r["seed"] == seed and r["side"] == "change" and r["ok"]]
            if b and c and m["name"] in b[0]["metrics"] and m["name"] in c[0]["metrics"]:
                pairs.append((b[0]["metrics"][m["name"]], c[0]["metrics"][m["name"]]))
        if pairs:
            summary[m["name"]] = verdict(pairs, m["better"], len(seeds(a.seeds))) | \
                {"bound": m.get("bound")}
    out = {"workload": a.workload, "base": base_rev, "change": git("rev-parse", "HEAD"),
           "change_tree_dirty": bool(git("status", "--porcelain", "--untracked-files=no")),
           "seconds": a.seconds, "seeds": seeds(a.seeds), "summary": summary, "runs": runs}
    Path(a.out).write_text(json.dumps(out, indent=1) + "\n")
    for name, s in summary.items():
        print(f"{a.workload} {name}: base {s['base']['median']:.4g} "
              f"[{s['base']['q1']:.4g}, {s['base']['q3']:.4g}] -> change "
              f"{s['change']['median']:.4g} [{s['change']['q1']:.4g}, {s['change']['q3']:.4g}]; "
              f"change won {s['change_wins']}/{s['pairs_run']}, gap {s['median_gap']:.4g} vs base IQR "
              f"{s['base_iqr']:.4g}; gain claimable: {s['gain_claimable']}")


if __name__ == "__main__":
    main()
