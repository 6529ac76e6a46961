#!/usr/bin/env python3
"""Alternating A/B of the benchmark: a parent commit against the working tree.

    python3 tools/ab.py --pairs 10 [--parent HEAD] [--workload semantic_layer]
                        [--workload corpus] [--seed0 9001] [--seconds 20]
                        [--trace 0] [--dir /tmp/graft-ab] [--out ab.json]
    python3 tools/ab.py --report ab.json

Run from the repository root. The default parent, HEAD, fits uncommitted
work; for a committed change pass --parent HEAD~1. The parent's files are exported
(`git archive`) into <dir>/parent-<sha>, and reused while that directory
exists. Pair i runs `python3 perfbench/run.py` once on each side with seed
seed0 + i, the parent first in even pairs and the working tree first in odd
ones. Only perfbench/run.py is invoked; the benchmark's files are not
touched. The first run on each side also builds that side (sbt, offline).

For each workload and metric it prints each side's median, quartiles
[q1, q3] and spread ((q3 - q1) / median), the change's delta of medians, and
how many pairs the change won in the metric's better direction (ties count
for neither), with a verdict:

- gain: the change won at least nine tenths of the pairs and its median is better
  than the parent's by more than the parent's own quartile distance;
- worse: the change's median is worse than the parent's by more than the
  metric's bound in BENCHMARK.json (end-to-end metrics only);
- unresolved: a side's spread exceeds that bound, so the bound cannot be told;
- same: none of these.

Every run's raw result line is kept in --out (default <dir>/ab.json).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def export(ref, base):
    """The committed files of `ref` in a directory of their own."""
    sha = subprocess.check_output(["git", "rev-parse", ref], cwd=ROOT, text=True).strip()
    d = os.path.join(base, "parent-" + sha[:12])
    if not os.path.isdir(d):
        os.makedirs(d + ".tmp", exist_ok=True)
        arch = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.check_call(["tar", "-x", "-C", d + ".tmp"], stdin=arch.stdout)
        if arch.wait() != 0:
            raise SystemExit(f"git archive {ref} failed")
        os.rename(d + ".tmp", d)
    return sha, d


def run_once(root, workload, seed, seconds, trace):
    """One benchmark run; returns its result line plus the diagnostic line."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    res = {"exit": p.returncode, "wall_s": round(time.time() - t0, 1)}
    try:
        res["result"] = json.loads(lines[-1])
        res["diagnostic"] = json.loads(lines[-2]) if len(lines) > 1 else {}
    except (IndexError, ValueError):
        res["error"] = (p.stdout + p.stderr)[-2000:]
    return res


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def report(runs, bench):
    """Per workload and metric: both sides' figures, wins and verdict."""
    better = {m["name"]: m.get("better", "lower")
              for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}
    bound = {m["name"]: m["bound"] for m in bench.get("end_to_end", []) if "bound" in m}
    out = []
    for w in sorted({r["workload"] for r in runs}):
        pairs = {}
        for r in runs:
            if r["workload"] == w and "result" in r:
                pairs.setdefault(r["pair"], {})[r["side"]] = r["result"]
        full = [p for p in pairs.values() if len(p) == 2]
        bad = [f"pair {i} {s}: correct={res.get('correct')} failed={res.get('failed')}"
               for i, p in sorted(pairs.items()) for s, res in sorted(p.items())
               if not res.get("correct") or res.get("failed")]
        bad += [f"pair {r['pair']} {r['side']}: no result (exit {r['exit']})"
                for r in runs if r["workload"] == w and "result" not in r]
        print(f"\n== {w}: {len(full)} complete pairs" + (f"; {len(bad)} runs not clean" if bad else ""))
        for b in bad:
            print("   " + b)
        names = sorted({m for p in full for res in p.values() for m in res.get("metrics", {})})
        print(f"{'metric':26} {'parent median [q1, q3] spread':36} "
              f"{'change median [q1, q3] spread':36} {'delta':>8} {'wins':>6}  verdict")
        for m in names:
            vals = [(p["parent"]["metrics"][m]["value"], p["change"]["metrics"][m]["value"])
                    for p in full if m in p["parent"]["metrics"] and m in p["change"]["metrics"]]
            if not vals:
                continue
            sign = -1 if better.get(m, "lower") == "lower" else 1
            a = quartiles([v[0] for v in vals])
            b = quartiles([v[1] for v in vals])
            wins = sum(1 for pv, cv in vals if sign * (cv - pv) > 0)
            spread = [(q[2] - q[0]) / q[1] if q[1] else 0.0 for q in (a, b)]
            delta = (b[1] - a[1]) / a[1] if a[1] else 0.0
            verdict = "same"
            if wins >= 0.9 * len(vals) and sign * (b[1] - a[1]) > a[2] - a[0]:
                verdict = "gain"
            elif m in bound and -sign * delta > bound[m]:
                verdict = "worse"
            elif m in bound and max(spread) > bound[m]:
                verdict = "unresolved"
            fmt = lambda q, s: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}] {s:.2f}"
            print(f"{m:26} {fmt(a, spread[0]):36} {fmt(b, spread[1]):36} "
                  f"{delta:+8.1%} {wins:>2}/{len(vals):<3}  {verdict}")
            out.append({"workload": w, "metric": m, "parent": a, "change": b, "delta": delta,
                        "wins": wins, "pairs": len(vals), "verdict": verdict})
        defects = sorted({f"{r['side']}: {d}" for r in runs if r["workload"] == w
                          for d in r.get("diagnostic", {}).get("known_defects", [])})
        print("known_defects: " + ("; ".join(defects) if defects else "none"))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", default="HEAD", help="git ref to compare against")
    ap.add_argument("--workload", action="append", help="repeatable; default semantic_layer")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=9001)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--dir", default="/tmp/graft-ab", help="where the parent is exported")
    ap.add_argument("--out", help="raw results (default <dir>/ab.json)")
    ap.add_argument("--report", metavar="AB_JSON", help="only print the report of a saved run")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.report:
        with open(a.report) as f:
            report(json.load(f)["runs"], bench)
        return
    workloads = a.workload or ["semantic_layer"]
    sha, parent = export(a.parent, a.dir)
    sides = {"parent": parent, "change": ROOT}
    out = a.out or os.path.join(a.dir, "ab.json")
    log(f"[ab] parent {a.parent} = {sha[:12]} in {parent}; change = working tree {ROOT}")
    runs = []
    for i in range(a.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for w in workloads:
            for side in order:
                r = run_once(sides[side], w, a.seed0 + i, a.seconds, a.trace)
                r.update(pair=i, side=side, workload=w, seed=a.seed0 + i)
                runs.append(r)
                got = r.get("result", {}).get("metrics", {})
                log(f"[ab] pair {i} {w} {side}: exit {r['exit']}, {r['wall_s']} s, " +
                    ", ".join(f"{k}={v['value']:.4g}" for k, v in sorted(got.items())
                              if k in ("op_p50_s", "aux_p50_s", "tail_s")))
                with open(out, "w") as f:
                    json.dump({"parent": sha, "args": vars(a), "runs": runs}, f, indent=1)
    summary = report(runs, bench)
    with open(out, "w") as f:
        json.dump({"parent": sha, "args": vars(a), "runs": runs, "summary": summary}, f, indent=1)
    log(f"[ab] raw results in {out}")


if __name__ == "__main__":
    main()
