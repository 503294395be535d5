#!/usr/bin/env python3
"""Compare two sets of benchmark runs (parent vs change), one row per workload.

    python3 perfbench/compare.py PARENT CHANGE [--claim op_p50_ms:rpc_ingest ...]

PARENT and CHANGE are directories (searched recursively) or files of the
result JSON that run.py saves per run under .bench_build/perfbench/results/.
Untraced runs only. Runs of the two sides are paired by seed.

- A claimed (metric, workload) holds when the change wins at least 9/10
  of the pairs (ties count for neither) and the medians differ by more
  than the parent's interquartile spread.
- Every other (metric, workload) must not be worse than the parent's
  median by more than the metric's bound in BENCHMARK.json. Where the
  run-to-run spread exceeds the bound it is "unresolved", unless every
  change run reads better than every parent run.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(paths):
    runs = {}
    for p in paths:
        files = (glob.glob(os.path.join(p, "**", "*.json"), recursive=True)
                 if os.path.isdir(p) else [p])
        for f in files:
            try:
                with open(f) as fh:
                    r = json.load(fh)
            except (OSError, ValueError):
                continue
            if isinstance(r, dict) and "e2e" in r and not r.get("trace"):
                runs.setdefault(r["workload"], []).append(r)
    return runs


def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]


def better(a, b, direction):
    """True when value a is better than b."""
    return a < b if direction == "lower" else a > b


def judge(metric, spec, par, chg, claimed):
    direction, bound = spec["better"], spec.get("bound")
    pv = [r["e2e"][metric]["value"] for r in par if metric in r["e2e"]]
    cv = [r["e2e"][metric]["value"] for r in chg if metric in r["e2e"]]
    if not pv or not cv:
        return "missing", ""
    pm, cm = statistics.median(pv), statistics.median(cv)
    delta = (cm - pm) / pm if pm else 0.0
    info = f"{pm:.4g}->{cm:.4g} ({delta:+.1%})"
    if claimed:
        pb = {r["seed"]: r["e2e"][metric]["value"] for r in par}
        pairs = [(pb[r["seed"]], r["e2e"][metric]["value"]) for r in chg if r["seed"] in pb]
        if not pairs:
            pairs = list(zip(pv, cv))
        wins = sum(better(c, p, direction) for p, c in pairs)
        ok = wins >= 0.9 * len(pairs) and abs(cm - pm) > iqr(pv) and better(cm, pm, direction)
        return ("CLAIM MET" if ok else "claim not met"), f"{info} wins {wins}/{len(pairs)}"
    worse = -delta if direction == "higher" else delta
    spread = max(iqr(pv) / pm if pm else 0.0, iqr(cv) / cm if cm else 0.0)
    if bound is not None and spread > bound:
        if all(better(c, p, direction) for c in cv for p in pv):
            return "better", info
        return "unresolved", f"{info} spread {spread:.1%} > bound {bound:.0%}"
    if bound is not None and worse > bound:
        return "REGRESSED", f"{info} bound {bound:.0%}"
    return "ok", info


def main():
    ap = argparse.ArgumentParser(description="compare two sets of benchmark runs")
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--claim", action="append", default=[],
                    help="metric:workload the change claims to improve")
    ap.add_argument("--benchmark", default=os.path.join(HERE, "..", "BENCHMARK.json"))
    a = ap.parse_args()
    with open(a.benchmark) as f:
        specs = {m["name"]: m for m in json.load(f)["end_to_end"]}
    claims = {tuple(c.split(":", 1)) for c in a.claim}
    par, chg = load([a.parent]), load([a.change])
    bad = False
    for w in sorted(set(par) | set(chg)):
        cells = []
        for metric, spec in specs.items():
            verdict, info = judge(metric, spec, par.get(w, []), chg.get(w, []),
                                  (metric, w) in claims)
            bad |= verdict in ("REGRESSED", "claim not met")
            cells.append(f"{metric}: {verdict} {info}")
        print(f"{w} [{len(par.get(w, []))} vs {len(chg.get(w, []))} runs] | "
              + " | ".join(cells))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
