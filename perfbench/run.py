#!/usr/bin/env python3
"""graft benchmark: timed query-mix workloads, checked against the oracle.

Usage (from the repository root):

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 12 --trace 0

Builds the harness (perfbench/build.sbt, compiled against the library in
src/main/scala) on first use, runs the workload in a fresh JVM, checks
each key's full output against its DuckDB oracle (tools/check.py), and
prints one JSON object as the last line of stdout: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. Workload, metric and
layer definitions are in perfbench/NOTES.md and BENCHMARK.json.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    DECLARED = json.load(f)
RUN_LIMIT_S = 170
CHECK_S = 20  # of RUN_LIMIT_S, kept for the oracle check
# Spark 4 on JDK 17 needs these outside spark-submit (see the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_newer_than(path):
    """True if any build input is newer than `path` (or it is missing)."""
    if not os.path.exists(path):
        return True
    built = os.path.getmtime(path)
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, _, files in os.walk(r) if os.path.isdir(r) else [("", [], [r])]:
            if any(os.path.getmtime(os.path.join(d, f)) > built for f in files):
                return True
    return False


def build():
    if not sources_newer_than(CLASSPATH):
        return
    log("building the harness with sbt")
    subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false", "writeClasspath"],
        cwd=HERE, check=True, stdout=sys.stderr, timeout=850)


def harness(args, work, deadline):
    """Runs the harness JVM once and returns its result.json."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    # Everything the JVM writes stays in the checkout: without
    # -XX:-UsePerfData HotSpot writes a perf-data file to the system temp
    # directory, and java.io.tmpdir is where GraftTmp puts its scratch.
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness", "--data", DATA, "--work", work]
           + args)
    with open(os.path.join(work, "harness.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=logf)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"harness exceeded the run limit; see {logf.name}")
    if proc.returncode != 0:
        with open(os.path.join(work, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"harness exited with {proc.returncode}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def check_outputs(result, out_dir, deadline):
    """Runs the repository's oracle comparison, tools/check.py, over the
    outputs the output pass wrote (each beside its oracle SQL in `out_dir`).
    Returns {key: its PASS or FAIL line} for the keys checked."""
    if not result["outputs"]:
        return {}
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check.py"), DATA, out_dir]
        + result["outputs"], capture_output=True, text=True,
        timeout=max(5.0, deadline - time.monotonic()))
    verdicts = {}
    for line in proc.stdout.splitlines():
        word, _, rest = line.partition(" ")
        if word in ("PASS", "FAIL"):
            verdicts[rest.split()[0].rstrip(":")] = line
    return verdicts


def timed(result):
    """The timed passes' query records; a query that threw has no latency."""
    return [q for q in result["queries"]
            if q["pass"] > result["warm_passes"] and not q["err"]]


def end_to_end(result):
    untraced = [p for p in result["passes"] if not p["traced"]]
    per_key = {}
    for q in timed(result):
        per_key.setdefault(q["key"], []).append(q["total_s"])
    medians = [statistics.median(v) for v in per_key.values()]
    return {
        "setup_s": result["setup_s"],
        "pass_s": statistics.median(p["pass_s"] for p in untraced),
        "query_geomean_s": math.exp(statistics.fmean(math.log(m) for m in medians)),
        "cpu_core_s": statistics.median(p["cpu_s"] for p in untraced),
        "live_heap_mb": statistics.median(p["heap_mb"] for p in untraced),
    }


def per_layer(result, fail_ratio, mismatches):
    layers = result["layers"]
    out = {k: statistics.median(l[k] for l in layers) for k in layers[0]}
    # Passes still speed up as the JIT warms, so each traced pass is
    # compared with the mean of the untraced passes on either side of it.
    ps = result["passes"]
    out["trace.overhead_s"] = statistics.median(
        ps[i]["pass_s"] - (ps[i - 1]["pass_s"] + ps[i + 1]["pass_s"]) / 2
        for i in range(1, len(ps) - 1) if ps[i]["traced"])
    out["sink.scratch_growth_mb"] = (result["passes"][-1]["scratch_mb"]
                                     - result["passes"][0]["scratch_mb"])
    out["jvm.jit_cpu_s"] = statistics.median(p["jit_cpu_s"] for p in ps)
    out["jvm.gc_cpu_s"] = statistics.median(p["gc_cpu_s"] for p in ps)
    out["scan.tables_s"] = result["tables_s"]
    lat = [q["total_s"] for q in timed(result)]
    out["query_p90_s"] = statistics.quantiles(lat, n=10)[8]
    out["query_latency_samples"] = len(lat)
    out["fail_ratio"] = fail_ratio
    out["oracle.mismatches"] = mismatches
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in DECLARED["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    for need in (("src", "main", "scala", "graft", "SparkEntry.scala"),
                 ("tools", "check.py")):
        if not os.path.isfile(os.path.join(ROOT, *need)):
            sys.exit(f"perfbench: run from a graft checkout "
                     f"({os.path.join(*need)} is missing)")
    build()
    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(WORK, a.workload)
    result = harness(["--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", str(a.trace)],
                     work, deadline - CHECK_S)
    log(f"harness done at {RUN_LIMIT_S - (deadline - time.monotonic()):.1f} s")
    verdicts = check_outputs(result, os.path.join(work, "out"), deadline)
    log(f"oracle check done at {RUN_LIMIT_S - (deadline - time.monotonic()):.1f} s")

    # Every query that threw, in any pass, has failed; so has every output
    # the oracle check did not pass. A key that threw in the output pass
    # wrote no output, and counts once.
    errors = {}
    for q in result["queries"]:
        if q["err"]:
            errors.setdefault(q["key"], []).append(q["err"])
    mismatched = {k for k, v in verdicts.items() if not v.startswith("PASS")}
    unchecked = set(result["keys"]) - set(verdicts)
    attempted = len(result["queries"])
    failed = (sum(len(v) for v in errors.values()) + len(mismatched)
              + len(unchecked & set(result["outputs"])))
    for key in sorted(set(errors) | mismatched | unchecked):
        runs = sum(1 for q in result["queries"] if q["key"] == key)
        threw = errors.get(key, [])
        print(f"failures {key}: threw in {len(threw)} of {runs} runs"
              f"{': ' + threw[0] if threw else ''}; oracle: "
              f"{verdicts.get(key, 'no output checked')}")
    print(f"oracle: {len(verdicts) - len(mismatched)} of "
          f"{len(result['keys'])} keys passed")
    correct = not errors and not mismatched and not unchecked

    if a.trace:
        metrics = per_layer(result, failed / attempted, len(mismatched))
    else:
        metrics = end_to_end(result)
    declared = DECLARED["per_layer" if a.trace else "end_to_end"]
    if set(metrics) != {m["name"] for m in declared}:
        sys.exit(f"perfbench: measured metrics {sorted(metrics)} differ from "
                 f"BENCHMARK.json")
    report = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
              for m in declared}
    for k, v in report.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": report}))


if __name__ == "__main__":
    main()
