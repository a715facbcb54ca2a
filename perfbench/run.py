#!/usr/bin/env python3
"""The engine benchmark: one command builds the engine from source, runs one
workload for one seed, checks its outputs and prints every metric.

    python3 perfbench/run.py --workload retail_elt --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Run it from the root of a checkout. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. The line before it
records the host, the sizing and the run's counts. The exit code is 0 only
when every output was correct. See perfbench/README.md.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_work")
RESULTS = os.path.join(ROOT, ".bench_results")
WORKLOADS = ("retail_elt", "cdc_stream")
RUN_LIMIT_S = 175  # every run ends within 180 s, build excluded

sys.dont_write_bytecode = True
sys.path.insert(0, BENCH)
import build  # noqa: E402  (the benchmark's build file, next to this one)

# what SparkSession needs outside spark-submit on JDK 17
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cores():
    """nproc: the CPUs this process may run on."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap():
    """Driver heap by the Tier-1 rule: half of MemTotal, clamped to 2-8 GB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def commit(key):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "source-" + key[:16]


def wipe(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def oracle_check(tables, results):
    """Compare every query result of the untimed pass with its DuckDB twin,
    by the rules of tools/check_oracle.py."""
    script = os.path.join(ROOT, "tools", "check_oracle.py")
    p = subprocess.run([sys.executable, script, tables, results], capture_output=True, text=True,
                       timeout=120)
    bad = [l for l in p.stdout.splitlines() if l.startswith("FAIL")]
    if p.returncode != 0 and not bad:
        bad = [f"oracle check failed: {p.stderr.strip()[-500:]}"]
    return bad


def tracing_overhead(workload):
    """Median end-to-end figures of the traced runs of `workload` kept in
    .bench_results, minus those of its untraced runs, over every seed run so
    far. One pair of runs differs by run-to-run noise alone, so the figure
    means something only over several seeds; `runs` says how many."""
    def medians(trace):
        runs = []
        for f in glob.glob(os.path.join(RESULTS, f"{workload}-seed*-trace{trace}.json")):
            with open(f) as fh:
                runs.append(json.load(fh)["end_to_end"])
        keys = set().union(*runs) if runs else set()
        return len(runs), {k: statistics.median(r[k] for r in runs if r.get(k) is not None)
                           for k in keys if any(r.get(k) is not None for r in runs)}
    (n0, plain), (n1, traced) = medians(0), medians(1)
    return {"runs": {"untraced": n0, "traced": n1},
            "median_difference": {k: v - plain[k] for k, v in traced.items() if k in plain}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    classes, key = build.build()
    launched_ms = int(time.time() * 1000)
    wipe(WORK)
    os.makedirs(RESULTS, exist_ok=True)
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    out = os.path.join(WORK, "result.json")
    n, mem = cores(), heap()
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src/main/resources"),
                          os.path.join(build.spark_jars(), "*")])
    jvm = ["java", f"-Xmx{mem}", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Duser.timezone=UTC"] + ADD_OPENS + ["-cp", cp]
    cmd = jvm + ["perfbench.Main", "--workload", a.workload or "", "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", WORK,
                 "--out", out, "--cores", str(n),
                 "--spec", os.path.join(BENCH, "pipeline.yaml"),
                 "--launched-ms", str(launched_ms),
                 "--self-test", "1" if a.self_test else "0"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    log = os.path.join(WORK, "jvm.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=WORK, env=env,
                                timeout=RUN_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            sys.stderr.write(f"benchmark JVM exceeded {RUN_LIMIT_S} s; see {log}\n")
            return 3
    if rc != 0 or not os.path.exists(out):
        with open(log, errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        sys.stderr.write(f"benchmark JVM failed ({rc})\n")
        return 3
    with open(out) as fh:
        r = json.load(fh)
    errors = list(r.get("errors", []))

    if a.self_test:
        with open(log, errors="replace") as fh:
            sys.stdout.write("".join(l for l in fh if l.startswith("self-test:")))
    elif r.get("oracle"):
        errors += oracle_check(r["oracle"]["tables"], r["oracle"]["results"])
    correct = bool(r["correct"]) and not errors

    info = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "nproc": n, "heap": mem, "commit": commit(key), **r.get("env", {}),
            "counts": r.get("counts"), "timed_s": r.get("timed_s"),
            "end_to_end": r.get("end_to_end"), "errors": errors}
    if not a.self_test:
        e2e = r.get("end_to_end", {})
        saved = os.path.join(RESULTS, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        with open(saved, "w") as fh:
            json.dump({"end_to_end": e2e, "info": info}, fh)
        if a.trace:
            shutil.copy(out + ".trace.json",
                        os.path.join(RESULTS, f"{a.workload}-seed{a.seed}-spans.json"))
            info["tracing_overhead"] = tracing_overhead(a.workload)
    print(json.dumps({"run": info}))
    print(json.dumps({"correct": correct, "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": r["metrics"]}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
