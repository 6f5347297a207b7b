#!/usr/bin/env python3
"""Benchmark of the graft extraction engine.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine from source (perfbench/build.py),
generates the workload's input from the seed, runs the workload through the
production entry points in one driver JVM at local[4], checks every output and
prints two JSON lines: a compact record (medians, high percentiles and sample
counts, cpus, seed) and, last, the result line with every end-to-end metric
(--trace 0) or every per-layer metric (--trace 1). An output check that fails
exits non-zero and prints no result. Per-run values and per-layer metrics also
go to .bench_build/results/. NOTES.md explains the workloads and metrics.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["extract_mix", "extract_web", "curate_dedup"]
CORES = 4
RUN_LIMIT_S = 170
INPUT_CACHE = 20
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spec():
    with open("BENCHMARK.json") as f:
        return json.load(f)


def jvm(classes, work, args, heap, deadline):
    """Runs one benchmark JVM to completion (killed at the deadline) and
    returns its result object."""
    result = os.path.join(work, f"result-{args['mode']}.json")
    # a fixed heap size keeps GC sizing from drifting across repetitions;
    # GC and compiler thread counts follow the cores the JVM measures on
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData", "-XX:+UseG1GC",
           f"-XX:ActiveProcessorCount={args['cores']}",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", os.pathsep.join([classes] + build.jars()), "graftbench.Main"]
    cmd += [f"{k}={v}" for k, v in args.items()] + [f"work={work}", f"result={result}"]
    left = deadline - time.time()
    if left <= 5:
        fail("no time left for the next JVM")
    try:
        # the JVM's stdout goes to stderr: stdout carries only the two JSON lines
        r = subprocess.run(cmd, stdout=sys.stderr, timeout=left)
    except subprocess.TimeoutExpired:
        fail(f"{args['mode']} JVM did not finish within the run limit")
    if r.returncode != 0 or not os.path.isfile(result):
        fail(f"{args['mode']} JVM exited with code {r.returncode}")
    with open(result) as f:
        return json.load(f)


def high_pct(values):
    """Highest of the usual percentiles with at least ten samples beyond it."""
    s = sorted(values)
    for p in (99.9, 99, 95, 90, 75, 50):
        if len(s) * (1 - p / 100) >= 10:
            return p, s[min(len(s) - 1, max(0, -(-int(p * len(s)) // 100) - 1))]
    return None, None


def summary(values, unit, better):
    p, v = high_pct(values if better == "lower" else [-x for x in values])
    return {"unit": unit, "median": statistics.median(values), "n": len(values),
            "p": p, "p_value": None if v is None else (v if better == "lower" else -v)}


def end_to_end(main):
    """End-to-end samples of a run: per-repetition throughput, the set-ups
    and the per-repetition live heap."""
    reps = main["reps"]
    docs = main["input_docs"]
    pages = reps[0]["check"].get("pages", main["input_pages"])
    return {
        "docs_per_s": [docs / r["sec"] for r in reps],
        "pages_per_s": [pages / r["sec"] for r in reps],
        "setup_s": main["setup_s"],
        "peak_heap_mb": [max(r["heap_mb"] for r in reps)],
    }


def failed_docs(main):
    """Rows whose error came from the exception catch in processDoc, plus
    every doc of a repetition with a failed task."""
    n = 0
    for r in main["reps"]:
        reasons = r["check"].get("reasons", {})
        n += main["input_docs"] if r["failed_tasks"] else reasons.get("exception", 0)
    return n


def expected_check(workload, seed, main):
    """The run's output digest, its short fingerprint, and a problem when
    an expected digest is committed for this seed and differs."""
    got = {"check": main["reps"][0]["check"], "deep": main["deep_check"]}
    fingerprint = hashlib.sha256(json.dumps(got, sort_keys=True).encode()).hexdigest()[:16]
    path = os.path.join(HERE, "expected", f"{workload}.json")
    want = {}
    if os.path.isfile(path):
        with open(path) as f:
            want = json.load(f)
    if str(seed) in want and want[str(seed)] != got:
        return got, fingerprint, f"output digest differs from the expected one for seed {seed}"
    return got, fingerprint, None


def layer_metrics(main):
    m = dict(main["layers"]["metrics"])
    m.update(main["reps"][-1]["spark"])
    m["matching.corpus_install_s"] = main["corpus_install_s"]
    m["setup.warmup_s"] = main["warmup_s"]
    m["trace.overhead"] = main["layers"]["trace"].get(
        "overhead", main["layers"]["trace"].get("traced_s", 0) /
        statistics.median(r["sec"] for r in main["reps"]) - 1)
    return m


def results_dir():
    path = os.path.join(build.build_dir(), "results")
    os.makedirs(path, exist_ok=True)
    return path


def inputs_dir(stamp, workload, seed):
    """Seeded inputs are kept per build stamp, so a seed run again reads
    them instead of generating them again; the oldest are pruned."""
    root = os.path.join(build.build_dir(), "inputs")
    os.makedirs(root, exist_ok=True)
    for old in sorted(os.scandir(root), key=lambda e: e.stat().st_mtime)[:-INPUT_CACHE]:
        shutil.rmtree(old.path, ignore_errors=True)
    path = os.path.join(root, f"{stamp}-{workload}-s{seed}")
    if os.path.isdir(path):
        os.utime(path)
    return path


def run_one(classes, stamp, workload, seed, seconds, trace, deadline):
    work = os.path.join(build.build_dir(), "work", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        base = {"workload": workload, "seed": seed, "cores": CORES,
                "inputs": inputs_dir(stamp, workload, seed)}
        spans = os.path.join(results_dir(), f"{workload}-s{seed}-spans.jsonl")
        main = jvm(classes, work, dict(base, mode="trace" if trace else "run", spans=spans,
                                       seconds=seconds / 2 if trace else seconds), "2g", deadline)
        return main, main["problems"]
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(workload, seed, seconds, trace, classes, stamp, deadline):
    bench = spec()
    main, problems = run_one(classes, stamp, workload, seed, seconds, trace, deadline)
    problems = list(problems)
    digest, fingerprint, mismatch = expected_check(workload, seed, main)
    if mismatch:
        problems.append(mismatch)
    with open(os.path.join(results_dir(), f"{workload}-s{seed}-t{trace}.json"), "w") as f:
        json.dump({"main": main, "problems": problems}, f)
    if problems:
        for p in problems:
            print(f"perfbench: {workload}: {p}", file=sys.stderr)
        print(json.dumps({"workload": workload, "seed": seed, "digest": digest}), file=sys.stderr)
        return False
    attempted = main["input_docs"] * len(main["reps"])
    failed = failed_docs(main)
    if trace:
        m = layer_metrics(main)
        metrics = {x["name"]: {"value": float(m.get(x["name"], 0.0)), "unit": x["unit"]}
                   for x in bench["per_layer"]}
        record = {"workload": workload, "seed": seed, "cpus": CORES, "trace": 1, "digest": fingerprint,
                  "docs_per_s": statistics.median(main["input_docs"] / r["sec"] for r in main["reps"]),
                  "coverage": main["layers"]["trace"].get("coverage"),
                  "stage_means_ms": main["layers"].get("stage_means_ms")}
    else:
        samples = end_to_end(main)
        units = {x["name"]: (x["unit"], x["better"]) for x in bench["end_to_end"]}
        stats = {k: summary(v, *units[k]) for k, v in samples.items()}
        metrics = {k: {"value": stats[k]["median"] if k != "peak_heap_mb" else samples[k][0],
                       "unit": units[k][0]} for k in units}
        record = {"workload": workload, "seed": seed, "cpus": CORES, "trace": 0, "digest": fingerprint,
                  "error_rate": failed / attempted,
                  "metrics": {k: {kk: vv for kk, vv in s.items() if vv is not None}
                              for k, s in stats.items()}}
    print(json.dumps({"workload": workload, "seed": seed, "digest": digest}), file=sys.stderr)
    print(json.dumps(record, separators=(",", ":")))
    print(json.dumps({"correct": True, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return True


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    for d in (os.path.join("src", "main", "scala"), os.path.join(HERE, "src")):
        if not os.path.isdir(d):
            fail(f"run from the repository root: {d} is missing", 2)
    if not os.path.isfile("BENCHMARK.json"):
        fail("run from the repository root: BENCHMARK.json is missing", 2)
    classes, stamp = build.build()
    names = WORKLOADS if a.workload == "all" else [a.workload]
    ok = True
    for w in names:
        # the build may take long once; every workload run then has its own limit
        deadline = time.time() + RUN_LIMIT_S
        ok = report(w, a.seed, a.seconds, a.trace, classes, stamp, deadline) and ok
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
