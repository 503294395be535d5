#!/usr/bin/env python3
"""Per-operation-kind Spark jobs and driver time of two traced benchmark runs.

    python3 tools/span_jobs.py PARENT.spans.jsonl CHANGE.spans.jsonl

Each argument is the spans file a traced run (`perfbench/run.py --trace 1`)
saves beside its result. Operation spans are the lines with `"parent": null`;
their `name` is the operation kind (append, merge, delete_mor, purge_dv,
compact, vacuum, read_pruned, read_point, row_count, calcavg, ...). For each
kind and side the table gives the operation count, the median and 75th
percentile wall time (`end_ms - start_ms`), the mean Spark jobs per operation
with their range, and the median time the driver spent outside any job
(`offjob_ms`), and the kind's share of the run: its summed wall time as a
percentage of the summed wall time of all operations. The last two columns are
the change's mean jobs minus the parent's (Δjobs) and the change's median
`offjob_ms` minus the parent's (Δoffjob). The last two lines name every kind
whose mean jobs rose and every kind whose median off-job time rose (or `none`).
Run the two sides on the same workload and seed so the operation sequences
match.
"""
import json
import statistics
import sys


def op_spans(path):
    """Operation spans of one spans file, grouped by kind."""
    kinds = {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            s = json.loads(line)
            if s.get("parent") is None:
                kinds.setdefault(s["name"], []).append(s)
    return kinds


def wall(span):
    return span["end_ms"] - span["start_ms"]


def total_wall(kinds):
    return sum(wall(s) for spans in kinds.values() for s in spans)


def summary(spans, total_ms):
    if not spans:
        return "-"
    jobs = [s.get("jobs", 0) for s in spans]
    walls = [wall(s) for s in spans]
    ms = statistics.median(walls)
    # one sample is its own upper quartile; quantiles() needs two
    p75 = statistics.quantiles(walls, n=4)[2] if len(walls) > 1 else walls[0]
    off = statistics.median(s.get("offjob_ms", 0) for s in spans)
    share = 100.0 * sum(walls) / total_ms if total_ms else 0.0
    span = f"{min(jobs)}" if min(jobs) == max(jobs) else f"{min(jobs)}-{max(jobs)}"
    return (f"{len(spans):>4} {ms:>9.1f} {p75:>9.1f} {statistics.mean(jobs):>6.2f} "
            f"{'(' + span + ')':>8} {off:>9.1f} {share:>6.1f}")


def mean_jobs(spans):
    return statistics.mean(s.get("jobs", 0) for s in spans) if spans else None


def median_offjob(spans):
    return statistics.median(s.get("offjob_ms", 0) for s in spans) if spans else None


def main(argv):
    if len(argv) != 3:
        sys.exit("usage: " + __doc__.strip().splitlines()[2].strip())
    parent, change = op_spans(argv[1]), op_spans(argv[2])
    totals = total_wall(parent), total_wall(change)
    cols = (f"{'n':>4} {'ms p50':>9} {'ms p75':>9} {'jobs':>6} {'range':>8} "
            f"{'offjob':>9} {'share%':>6}")
    print(f"{'kind':<14} | {'parent':^57} | {'change':^57} | {'Δjobs':>6} {'Δoffjob':>8}")
    print(f"{'':<14} | {cols} | {cols} |")
    rose, off_rose = [], []
    for kind in sorted(set(parent) | set(change)):
        ps, cs = parent.get(kind, []), change.get(kind, [])
        p, c = mean_jobs(ps), mean_jobs(cs)
        delta = "-" if p is None or c is None else f"{c - p:+.2f}"
        if p is not None and c is not None and c > p:
            rose.append(kind)
        po, co = median_offjob(ps), median_offjob(cs)
        doff = "-" if po is None or co is None else f"{co - po:+.1f}"
        if po is not None and co is not None and co > po:
            off_rose.append(kind)
        print(f"{kind:<14} | {summary(ps, totals[0]):>57} | "
              f"{summary(cs, totals[1]):>57} | {delta:>6} {doff:>8}")
    print("mean jobs rose: " + (", ".join(rose) if rose else "none"))
    print("median offjob rose: " + (", ".join(off_rose) if off_rose else "none"))


if __name__ == "__main__":
    main(sys.argv)
