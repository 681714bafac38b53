#!/usr/bin/env python3
"""Benchmark runner: build, generate inputs, run one workload, print metrics.

    python3 perfbench/run.py --workload cascade_catchup --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke          # every workload on tiny inputs

Run from the repository root. The first run builds the benchmark and the
repository's main sources with sbt (perfbench/build.sbt); later runs reuse
the build while the sources are unchanged. Inputs are generated from the
seed (perfbench/gen.py); query_mix reads the repository's fixed fixture,
copied into perfbench/testdata. The workload runs in one JVM with one
`graft.Sessions.local(nproc)` session, and the last line of stdout is the
result JSON: every end_to_end metric of BENCHMARK.json with --trace 0, every
per_layer metric with --trace 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORK = os.path.join(HERE, ".work")
# BENCHMARK.json lists cascade_catchup and query_mix; stream_5min runs on
# request and in --smoke (the one-hour budget for 4 + 22 runs per workload
# holds two).
WORKLOADS = ("cascade_catchup", "query_mix", "stream_5min")

# Input sizes. query_mix reads a fixed fixture (the repository's sf0.01 and
# sf0.001 test tables), so every run is checked against the per-query hashes
# recorded in perfbench/expected.
SIZES = {
    "full": {"days": 1, "rows_per_day": 5000, "stream_rows": 1000,
             "stream_interval_s": 0.4, "query_data": "sf0.01"},
    "smoke": {"days": 1, "rows_per_day": 2000, "stream_rows": 200,
              "stream_interval_s": 0.5, "query_data": "sf0.001"},
}
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: the repository sources (src/main/scala) are missing")
    stamp = source_stamp()
    cp_file, stamp_file = os.path.join(BUILD, "classpath"), os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("building (sbt compile)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspathAsJars"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit("perfbench: build failed")
    cp = lines[-1].strip()
    # a class-data archive of the session start-up halves every run's JVM boot
    work = os.path.join(WORK, "archive")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    run_jvm(cp, "archive", 0, 0, False, work, query_data("full"),
            extra=[f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def query_data(size):
    """(fixture directory, expected-results file) of query_mix."""
    name = SIZES[size]["query_data"]
    return os.path.join(HERE, "testdata", name), os.path.join(HERE, "expected", f"{name}.txt")


def generate(workload, seed, seconds, size, work):
    sys.path.insert(0, HERE)
    import gen
    z = SIZES[size]
    if workload == "cascade_catchup":
        gen.gen_cascade(os.path.join(work, "cascade"), seed, z["days"], z["rows_per_day"])
    elif workload == "stream_5min":
        files = max(int(round(seconds / z["stream_interval_s"])), 3) + 1  # +1 warm-up
        gen.gen_stream(os.path.join(work, "stream"), seed, files, z["stream_rows"])


def run_jvm(cp, workload, seed, seconds, trace, work, data, record=False, extra=None):
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    # a fixed young generation keeps the resident-set high-water mark steady
    cmd = ["java", "-Xmx3g", "-Xmn512m", "-XX:+UseG1GC", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    cmd += extra if extra is not None else (
        [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else [])
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, "perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", "1" if trace else "0", "--work", work, "--out", out,
        "--cores", str(cores), "--record", "1" if record else "0",
        "--data", data[0], "--expected", data[1],
    ]
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = -1
    if rc != 0 or not os.path.exists(out):
        with open(jvm_log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.exit(f"perfbench: {workload} JVM exited with {rc}")
    with open(out) as f:
        return json.load(f)


def one(args, cp, size):
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    generate(args.workload, args.seed, args.seconds, size, work)
    log(f"{args.workload}: inputs generated in {time.time() - t0:.1f} s")
    t0 = time.time()
    res = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace, work,
                  query_data(size), args.record)
    log(f"{args.workload}: JVM ran {time.time() - t0:.1f} s")
    return res


def metrics_line(res, trace, spec):
    kind, src = ("per_layer", res["layers"]) if trace else ("end_to_end", res["e2e"])
    metrics = {m["name"]: {"value": float(src.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in spec[kind]}
    return {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload on tiny inputs and check outputs")
    ap.add_argument("--record", action="store_true",
                    help="record query_mix result hashes in perfbench/expected")
    args = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        sys.exit("perfbench: BENCHMARK.json is missing")
    with open(spec_path) as f:
        spec = json.load(f)
    cp = build()

    if args.smoke or (args.record and not args.workload):
        ok = True
        for w in WORKLOADS:
            if args.record and w != "query_mix":
                continue
            a = argparse.Namespace(workload=w, seed=args.seed, seconds=3, trace=1,
                                   record=args.record)
            res = one(a, cp, "smoke")
            print(json.dumps({"workload": w, "correct": res["correct"],
                              "failures": res["failures"], "report": res["report"]}))
            ok &= bool(res["correct"])
        print(json.dumps({"smoke": "pass" if ok else "fail"}))
        sys.exit(0 if ok else 1)

    if not args.workload:
        ap.error("--workload is required")
    res = one(args, cp, "full")
    print(json.dumps({"workload": args.workload, "report": res["report"],
                      "e2e": res["e2e"], "tail": res["tail"],
                      "ops_failed_ratio": res["ops_failed_ratio"],
                      "failures": res["failures"]}))
    print(json.dumps(metrics_line(res, args.trace, spec)))


if __name__ == "__main__":
    main()
