#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload etl_ingest --seed 1 --seconds 10 --trace 0

It builds the engine together with the harness in perfbench/ (once per
source state; outputs go to .bench_build/), runs one workload in a fresh
JVM and prints every metric as a `# name value unit` line, then one JSON
result line last.

Extra modes:
    --steady N [--workloads a,b]   run each workload N times (seeds 1..N)
                                   and report each end-to-end metric's
                                   quartile spread against its bound
    --overhead                     run --workload/--seed untraced and
                                   traced; print traced minus untraced
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
ENGINE_SRC = os.path.join(ROOT, "src", "main")
OUT = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
CLASSES = os.path.join(OUT, "scala-2.13", "classes")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [ENGINE_SRC, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compiles engine + harness unless the sources are unchanged."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"no engine sources under {ENGINE_SRC}; run from a checkout root")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(OUT, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                return
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SPARK_HOME"] = spark_home()
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        # resolve only from the local caches the toolchain ships with
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dperfbench.target={OUT}", "compile"]
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as fh:
        try:
            r = subprocess.run(cmd, cwd=BENCH, env=env, stdout=fh,
                               stderr=subprocess.STDOUT,
                               timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    if r.returncode != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed; see {log}")
    with open(stamp, "w") as fh:
        fh.write(digest)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        sub = shutil.which("spark-submit")
        if sub:
            home = os.path.dirname(os.path.dirname(os.path.realpath(sub)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("cannot find Spark jars (set SPARK_HOME)")
    return home


JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def heap():
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal"))
        return f"{max(2, min(4, kb // (4 * 1024 * 1024)))}g"
    except (OSError, StopIteration, ValueError):
        return "3g"


def run_once(workload, seed, seconds, trace, trace_out=None):
    """Runs one workload in a fresh JVM; returns (json, '#' lines)."""
    build()
    work = os.path.join(OUT, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{heap()}", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([CLASSES,
                                    os.path.join(spark_home(), "jars", "*")]),
            "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--work", work]
    spec = bench_spec()["per_layer" if trace else "end_to_end"]
    cmd += ["--publish", ",".join(f"{m['name']}:{m['unit']}" for m in spec)]
    if trace_out:
        cmd += ["--trace-out", trace_out]
    log = os.path.join(OUT, "logs", f"{workload}-{seed}-{int(trace)}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    try:
        with open(log, "w") as err:
            p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                 stderr=err, text=True,
                                 start_new_session=True)
            try:
                out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, 9)
                p.wait()
                fail(f"{workload} timed out; see {log}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if p.returncode != 0 or not lines:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"{workload} exited with {p.returncode}; see {log}")
    result = json.loads(lines[-1])
    return result, [l for l in lines[:-1] if l.startswith("#")]


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def steal():
    """(steal, total) CPU jiffies so far, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 1


def steady(n, workloads, seconds):
    """Each workload n times; quartile spread of every end-to-end metric
    as a share of its median, against a third of the metric's bound."""
    spec = bench_spec()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {}
    for w in workloads:
        vals = {}
        for seed in range(1, n + 1):
            t0, (s0, c0) = time.time(), steal()
            res, lines = run_once(w, seed, seconds, False)
            s1, c1 = steal()
            print(f"{w} seed={seed} {time.time() - t0:.0f}s "
                  f"steal={(s1 - s0) / max(1, c1 - c0):.3f} "
                  f"correct={res['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}"
                             for k, v in res["metrics"].items()),
                  file=sys.stderr)
            for k, v in res["metrics"].items():
                vals.setdefault(k, []).append(v["value"])
            for line in lines:  # the workload's own named metrics
                parts = line[1:].split()
                if len(parts) == 3 and parts[0] not in res["metrics"]:
                    try:
                        vals.setdefault("# " + parts[0], []).append(
                            float(parts[1]))
                    except ValueError:
                        pass
        rows = {}
        for k, vs in vals.items():
            q = statistics.quantiles(vs, n=4)
            med = statistics.median(vs)
            spread = (q[2] - q[0]) / med if med else float("inf")
            rows[k] = {"median": med, "spread": spread,
                       "bound": bounds.get(k),
                       "ok": k == "setup_s" or k not in bounds or
                       spread <= bounds[k] / 3}
        report[w] = rows
        for k, r in rows.items():
            print(f"{w:13s} {k:40s} median={r['median']:.5g} "
                  f"spread={r['spread']:.4f} bound={r['bound']} "
                  f"{'ok' if r['ok'] else 'WIDE'}")
    print(json.dumps(report))


def overhead(workload, seed, seconds):
    """Traced end-to-end numbers minus untraced ones, same seed."""
    plain, _ = run_once(workload, seed, seconds, False)
    path = os.path.join(OUT, f"trace-{workload}-{seed}.json")
    run_once(workload, seed, seconds, True, trace_out=path)
    with open(path) as fh:
        traced = json.load(fh)["end_to_end"]
    diff = {}
    for k, v in plain["metrics"].items():
        t = traced[k]["value"]
        diff[k] = {"untraced": v["value"], "traced": t,
                   "overhead": t - v["value"], "unit": v["unit"]}
        print(f"{k:18s} untraced={v['value']:.5g} traced={t:.5g} "
              f"overhead={t - v['value']:+.5g} {v['unit']}")
    print(json.dumps({"workload": workload, "seed": seed,
                      "tracing_overhead": diff}))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--steady", type=int, default=0)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"no engine sources under {ENGINE_SRC}; run from a checkout root")
    seconds = a.seconds or bench_spec()["run_seconds"]
    if a.steady:
        names = a.workloads.split(",") if a.workloads else \
            [w["name"] for w in bench_spec()["workloads"]]
        steady(a.steady, names, seconds)
    elif a.overhead:
        overhead(a.workload, a.seed, seconds)
    else:
        if not a.workload:
            fail("--workload is required")
        trace_out = os.path.join(
            OUT, f"trace-{a.workload}-{a.seed}.json") if a.trace else None
        res, lines = run_once(a.workload, a.seed, seconds, bool(a.trace),
                              trace_out)
        for l in lines:
            print(l)
        if trace_out:
            print(f"# trace written to {os.path.relpath(trace_out, ROOT)}")
        print(json.dumps(res))


if __name__ == "__main__":
    main()
