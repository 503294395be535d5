#!/usr/bin/env python3
"""Two-workload benchmark of the graft engine, with a per-layer breakdown.

Run from the repository root:

    python3 perfbench/run.py --workload rpc_ingest --seed 1 --seconds 40 --trace 0
    python3 perfbench/run.py --workload all --seed 1            # every workload

The first run compiles the engine (src/main/scala) and the harness
(perfbench/src) with the Scala compiler that ships beside the Spark jars
named in build.sbt, into .bench_build/perfbench. Each run generates its
inputs from the seed, runs the harness JVM, checks every operation's
output, and prints one JSON line last: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen     # noqa: E402
import check   # noqa: E402
import layers  # noqa: E402

WORKLOADS = ["rpc_ingest", "batch_curation"]
RUN_LIMIT_S = 170      # every run, set-up and checks included, ends within 180 s
BUILD_LIMIT_S = 800
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def spark_jars(root):
    """The jar directory the project build compiles against: build.sbt's
    `unmanagedBase`, else $SPARK_HOME/jars."""
    cands = []
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            cands.append(m.group(1))
    except OSError:
        pass
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise BenchError("no Spark jar directory with a Scala compiler "
                     "(build.sbt unmanagedBase or $SPARK_HOME/jars)")


def sources(root):
    eng = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                           recursive=True))
    har = sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    if not eng or not har:
        raise BenchError("engine sources (src/main/scala) or harness "
                         "sources (perfbench/src) not found")
    return eng, har


def scalac(jars, classpath, out, files):
    os.makedirs(out, exist_ok=True)
    tool = ":".join(glob.glob(os.path.join(jars, f"scala-{n}-*.jar"))[0]
                    for n in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", tool, "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp:false", "-classpath", classpath, "-d", out] + files
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=BUILD_LIMIT_S)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + (r.stdout + r.stderr)[-4000:])


def build(root, bdir):
    """Compile engine and harness once per source state; returns the
    runtime classpath."""
    jars = spark_jars(root)
    eng, har = sources(root)
    h = hashlib.sha256()
    for f in eng + har:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cls = os.path.join(bdir, "classes")
    jarcp = ":".join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    runtime = f"{cls}/harness:{cls}/engine:{jars}/*"
    try:
        with open(os.path.join(cls, "STAMP")) as f:
            if f.read() == stamp:
                return runtime
    except OSError:
        pass
    tmp = os.path.join(bdir, f"classes.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    scalac(jars, jarcp, os.path.join(tmp, "engine"), eng)
    scalac(jars, f"{tmp}/engine:{jarcp}", os.path.join(tmp, "harness"), har)
    with open(os.path.join(tmp, "STAMP"), "w") as f:
        f.write(stamp)
    shutil.rmtree(cls, ignore_errors=True)
    os.rename(tmp, cls)
    return runtime


def set_up_inputs(data_dir, workload, seed):
    """Generate the run's inputs SETUP_REPS times (the set-up metric takes
    the median); every repetition writes identical files."""
    times = []
    for _ in range(gen.SETUP_REPS):
        t = time.perf_counter()
        shutil.rmtree(data_dir, ignore_errors=True)
        plan = gen.make_inputs(data_dir, workload, seed)
        times.append(time.perf_counter() - t)
    return plan, times


def run_jvm(runtime, workload, data_dir, plan_path, out_dir, seconds, trace,
            deadline):
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [a for p in JDK_OPENS
                       for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xmx3g", f"-Djava.io.tmpdir={tmp}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", runtime, "perfbench.PerfHarness", workload, data_dir,
              plan_path, out_dir, str(seconds), "1" if trace else "0"])
    log = os.path.join(out_dir, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(5, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError("harness JVM exceeded the run time limit")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"harness JVM exited with {rc}:\n{tail}")


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def one_run(root, runtime, bdir, workload, seed, seconds, trace, started):
    run_dir = os.path.join(bdir, "runs", f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    out_dir = os.path.join(run_dir, "out")
    os.makedirs(out_dir)
    try:
        t0 = time.monotonic()
        plan, gen_times = set_up_inputs(data_dir, workload, seed)
        t1 = time.monotonic()
        plan_path = os.path.join(run_dir, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        run_jvm(runtime, workload, data_dir, plan_path, out_dir, seconds, trace,
                started + RUN_LIMIT_S - 15)
        t2 = time.monotonic()
        with open(os.path.join(out_dir, "run.json")) as f:
            run = json.load(f)
        run["gen_s"] = gen_times
        ops = read_jsonl(os.path.join(out_dir, "ops.jsonl"))
        if not ops:
            raise BenchError("the harness recorded no operations")
        verdict = check.check(workload, plan, ops, run, data_dir, out_dir, bdir)
        e2e = layers.end_to_end(workload, plan, ops, run, data_dir)
        phases = {"inputs": t1 - t0, "jvm": t2 - t1, "check": time.monotonic() - t2}
        phases.update({k: run[k] for k in ("session_start_s", "window_s")})
        phases["set_ups"] = sum(run["setup_rep_s"])
        result = {"workload": workload, "seed": seed, "seconds": seconds,
                  "trace": int(trace), "correct": verdict["correct"],
                  "attempted": verdict["attempted"], "failed": verdict["failed"],
                  "failures": verdict["failures"][:20], "notes": verdict["notes"],
                  "e2e": e2e, "rss_peak_mb": run["rss_peak_mb"],
                  "mem_after_gc_peak_mb": run["mem_after_gc_peak_mb"], "phase_s": phases,
                  "probes": {"before": run["probe_before"], "after": run["probe_after"]},
                  "ops": [[o.get("query", o["kind"]), round(o["ms"], 3), o["ok"]]
                          for o in ops]}
        if trace:
            spans = read_jsonl(os.path.join(out_dir, "spans.jsonl"))
            result["per_layer"] = layers.per_layer(workload, plan, ops, run, spans)
            result["per_pass"] = layers.per_pass(workload, ops)
        save_result(bdir, result, os.path.join(out_dir, "spans.jsonl") if trace else None)
        return result
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def save_result(bdir, result, spans):
    """Keep the run's results (and its spans file beside them) for the
    compare tool and the tracing-overhead report."""
    d = os.path.join(bdir, "results", result["workload"])
    os.makedirs(d, exist_ok=True)
    stem = os.path.join(d, f"s{result['seed']}-t{result['trace']}-{int(time.time() * 1000)}")
    with open(stem + ".json", "w") as f:
        json.dump(result, f, indent=1)
    if spans and os.path.exists(spans):
        shutil.copy(spans, stem + ".spans.jsonl")


def last_untraced(bdir, workload, seed):
    files = sorted(glob.glob(os.path.join(bdir, "results", workload, f"s{seed}-t0-*.json")))
    if not files:
        return None
    with open(files[-1]) as f:
        return json.load(f)


def report(result, bdir):
    """Human-readable lines (stdout, before the final JSON line)."""
    w = result["workload"]
    print(f"== {w} seed={result['seed']} trace={result['trace']} "
          f"correct={result['correct']} attempted={result['attempted']} "
          f"failed={result['failed']} failed_frac={result['failed'] / result['attempted']:.4f}")
    for n in result["notes"]:
        print(f"   note: {n}")
    for f in result["failures"][:5]:
        print(f"   FAIL: {f}")
    for k, v in result["e2e"].items():
        extra = f"  ({v['detail']})" if v.get("detail") else ""
        print(f"   {k:<14} {v['value']:>14.6g} {v['unit']}{extra}")
    p = result["probes"]
    print(f"   probes: cpu {p['before']['cpu_s']:.3f}s -> {p['after']['cpu_s']:.3f}s, "
          f"io {p['before']['io_s']:.3f}s -> {p['after']['io_s']:.3f}s; "
          f"JVM peak RSS {result['rss_peak_mb']:.0f} MB, "
          f"peak in use after a collection {result['mem_after_gc_peak_mb']:.0f} MB")
    print("   run phases: " + ", ".join(f"{k} {v:.1f}s" for k, v in result["phase_s"].items()))
    if result["trace"]:
        print(f"   per-layer ({w}):")
        for k, v in result["per_layer"].items():
            print(f"     {k:<32} {v['value']:>14.6g} {v['unit']}")
        for line in result.get("per_pass", []):
            print(f"     {line}")
        base = last_untraced(bdir, w, result["seed"])
        if base:
            print("   tracing overhead (traced - untraced, same seed):")
            for k, v in result["e2e"].items():
                b = base["e2e"].get(k, {}).get("value")
                if b:
                    print(f"     {k:<14} {v['value'] - b:>+14.6g} {v['unit']} "
                          f"({(v['value'] - b) / b:+.1%})")
        else:
            print("   tracing overhead: run the same seed with --trace 0 first")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=40)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops its harness JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    started = time.monotonic()
    root = os.getcwd()
    bdir = os.path.join(root, ".bench_build", "perfbench")
    try:
        runtime = build(root, bdir)
        started = time.monotonic()  # the build has its own limit
        names = WORKLOADS if a.workload == "all" else [a.workload]
        results = []
        for w in names:
            r = one_run(root, runtime, bdir, w, a.seed, a.seconds, bool(a.trace),
                        started if len(names) == 1 else time.monotonic())
            report(r, bdir)
            results.append(r)
    except (BenchError, subprocess.TimeoutExpired, OSError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    key = "per_layer" if a.trace else "e2e"
    if len(results) == 1:
        metrics = {k: {"value": v["value"], "unit": v["unit"]}
                   for k, v in results[0][key].items()}
    else:
        metrics = {f"{r['workload']}.{k}": {"value": v["value"], "unit": v["unit"]}
                   for r in results for k, v in r[key].items()}
    print(json.dumps({"correct": all(r["correct"] for r in results),
                      "attempted": sum(r["attempted"] for r in results),
                      "failed": sum(r["failed"] for r in results),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
