#!/usr/bin/env python3
"""graft benchmark: one command per (workload, seed) run.

  python3 perfbench/run.py --workload interactive --seed 1 --seconds 8 --trace 0

Run from the repository root. It builds the program and the benchmark's
JVM program from source with sbt (once per source state; output under
perfbench/target and target/), generates the run's plan from the seed,
runs it in one JVM on local[4], checks every operation's output, and
prints the metrics. With --trace 0 the last stdout line carries the
end-to-end metrics, with --trace 1 the per-layer metrics. Each run's record
(metrics, output checks, failures, environment) is written to
.bench_build/results/<workload>/seed<seed>-c<cpus>-t<trace>.json.
Workloads and their documentation are in perfbench/workloads.json.
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
sys.path.insert(0, HERE)

from benchlib import check, plan, report  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: the program's and the benchmark's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """sbt build of the program and the benchmark, skipped when the sources are unchanged
    since the last build in this checkout. Returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"program source not found: {need} (run from the repository root)")
    if not shutil.which("sbt") or not shutil.which("java"):
        fail("sbt and java are required")
    digest = source_hash()
    stamp = os.path.join(BUILD_DIR, "build.stamp")
    cp_file = os.path.join(HERE, "target", "runtime-classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip(), digest
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(BUILD_DIR, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    # scratch files inside the checkout; no JVM perf-data file in /tmp
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Xmx2g"
                       f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData").strip()
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=800)
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail(f"sbt build failed; see {os.path.join(BUILD_DIR, 'build.log')}")
    with open(stamp, "w") as f:
        f.write(digest)
    with open(cp_file) as g:
        return g.read().strip(), digest


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def cpu_jiffies():
    """(steal, total) CPU time of the host's CPUs from /proc/stat, or None
    where there is no /proc/stat."""
    try:
        with open("/proc/stat") as f:
            xs = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return (xs[7] if len(xs) > 7 else 0), sum(xs)


def run_jvm(classpath, plan_path, log_path, heap):
    scratch = os.path.join(BUILD_DIR, "scratch")
    for sub in ("spark-local", "checkpoints", "warehouse"):
        shutil.rmtree(os.path.join(scratch, sub), ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           # a fixed-size heap and the throughput collector: G1's heap
           # resizing and concurrent threads on 4 cores made identical runs
           # differ far more from one another
           [f"-Xmx{heap}", f"-Xms{heap}", "-XX:+UseParallelGC",
            "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
            "-Dspark.ui.enabled=false", "-cp", classpath, "graftbench.Main", plan_path])
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"JVM run exceeded {JVM_TIMEOUT_S}s; see {log_path}")
    if code != 0:
        fail(f"JVM run failed (exit {code}); see {log_path}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)
    if args.workload not in cfg["workloads"]:
        fail(f"unknown workload {args.workload}; have {sorted(cfg['workloads'])}")
    w = cfg["workloads"][args.workload]
    cpus = cfg["cpus"]
    data_dir = os.path.join(HERE, cfg["datasets"][w["dataset"]]["dir"])
    warm_dir = os.path.join(HERE, cfg["datasets"][w.get("warmup_dataset", w["dataset"])]["dir"])
    if not os.path.isdir(data_dir):
        fail(f"benchmark data missing: {data_dir}")

    classpath, digest = build()

    key = f"seed{args.seed}-c{cpus}-t{args.trace}"
    out_dir = os.path.join(BUILD_DIR, "runs", args.workload, key)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    p = plan.make_plan(cfg, args.workload, args.seed, args.seconds, args.trace, cpus,
                       data_dir, warm_dir, out_dir, os.path.join(BUILD_DIR, "scratch"))
    plan_path = os.path.join(out_dir, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(p, f, indent=1)

    t0, j0 = time.time(), cpu_jiffies()
    run_jvm(classpath, plan_path, os.path.join(out_dir, "jvm.log"), cfg["heap"])
    jvm_s, j1 = time.time() - t0, cpu_jiffies()
    # CPU time the hypervisor gave to other guests while the JVM ran: on a
    # shared host it explains runs that are slow as a whole
    steal_pct = (100.0 * (j1[0] - j0[0]) / (j1[1] - j0[1])
                 if j0 and j1 and j1[1] > j0[1] else None)
    with open(os.path.join(out_dir, "run.json")) as f:
        run = json.load(f)
    spans = []
    if args.trace:
        with open(os.path.join(out_dir, "spans.json")) as f:
            spans = json.load(f)

    # output check: every op whose result was dumped in an untimed pass
    con = check.connect(data_dir, list(cfg["datasets"][w["dataset"]]["rows"]))
    dumped = [r for r in run["warmup"] + run["check"] if r["dumped"]]
    got = {r["id"]: (None if r["error"] else
                     check.dump_fingerprint(con, os.path.join(out_dir, "dump", r["id"])))
           for r in dumped}
    with open(os.path.join(HERE, "expected", "fingerprints.json")) as f:
        stored = json.load(f).get(w["dataset"], {})
    oracle = check.OracleCache(os.path.join(BUILD_DIR, "oracle-cache.json"), con, w["dataset"])
    # ops whose DuckDB oracle takes many minutes at this scale compare with
    # fingerprints stored when the benchmark was added instead
    slow = set(w.get("stored_checks", []))
    oracles = {oid: sql for oid, sql in run["oracles"].items() if oid not in slow}
    checks = check.check_outputs([r["id"] for r in dumped], p["ops"], got, oracles,
                                 p["expect"], stored, oracle.get)
    oracle.save()
    shutil.rmtree(os.path.join(out_dir, "dump"), ignore_errors=True)

    attempted, failed, bad, errors = check.account(run, checks)
    correct = not bad and not errors

    summary = report.workload_summary(run, args.workload, bad | set(errors),
                                      attempted, failed)
    if args.trace:
        metrics = report.metric_block(
            report.per_layer(run, spans, cpus, bad | set(errors)), report.PER_LAYER)
    else:
        metrics = report.metric_block(
            report.end_to_end(run, bad | set(errors)), report.END_TO_END)

    record = {
        "workload": args.workload, "seed": args.seed, "cpus": cpus, "trace": args.trace,
        "seconds": args.seconds,
        "env": dict(run["env"], host_nproc_python=os.cpu_count(),
                    git_commit=git_commit(), source_hash=digest,
                    host_steal_pct=steal_pct),
        "metrics": metrics,
        "summary": {k: {"value": v, "unit": u} for k, (v, u) in summary.items()},
        "attempted": attempted, "failed": failed,
        "failures": errors, "checks": checks,
        "timed_ops": run["regions"][0]["ops"],
        "setups": run["setups"], "jvm_wall_s": jvm_s,
    }
    if args.trace:
        record["child_coverage_pct_by_op"] = report.child_coverage(spans)[2]
    rec_dir = os.path.join(BUILD_DIR, "results", args.workload)
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{key}.json"), "w") as f:
        json.dump(record, f, indent=1)

    for name, (value, unit) in summary.items():
        print(f"{args.workload:16s} {name:28s} {value:14.4f} {unit}")
    for oid in sorted(bad):
        print(f"output check FAILED: {oid} ({checks[oid]['source']})", file=sys.stderr)
    for oid, err in sorted(errors.items()):
        print(f"operation FAILED: {oid}: {err}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
