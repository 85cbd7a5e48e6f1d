#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per invocation.

    python3 perfbench/run.py --workload mr_corpus --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The script builds the engine and the
harness from source when they changed (sbt, through ``perfbench/build.sbt``),
generates the workload's inputs from the seed, runs the workload in one JVM
with ``local[nproc]``, checks every output, and prints a record line followed
by the result as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (no listeners registered);
``--trace 1`` registers Spark's listeners on alternate passes and reports
the per-layer metrics. All files go under ``perfbench/.work``.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import gen
import metrics
import oracle

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")

WORKLOADS = ("mr_corpus", "dedup_heavy")
# Query tables are generated from a fixed seed: every entry's oracle has been
# checked on this table set, while the run seed still orders the queries.
TABLE_SEED = 42
CORPUS_BYTES = 2 << 20
CORPUS_FILES = 16
JVM_TIMEOUT_S = 150
# The heap starts at 2 GiB instead of 1/64 of the host's memory. Left to
# grow on its own, the heap reached its working size at a different pass in
# each run, and runs that grew it late spent 3-5x more time in GC.
# Compiler threads stay alive for the whole run, so that their CPU time can
# be read and left out of `pass_cpu_s` (a JIT thread that exits takes its CPU
# time into the process total, where it can no longer be told apart).
JVM_OPTIONS = ["-Xms2g", "-XX:-UseDynamicNumberOfCompilerThreads"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in sorted(os.walk(top)):
            paths.extend(os.path.join(d, f) for f in sorted(files))
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def driver_heap():
    """Half the host's memory in GiB, clamped to 2..8 (the engine's test
    harness uses the same rule)."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def classpath_present(path):
    """Whether the last build's classpath still exists (an `sbt clean`
    removes the compiled classes without touching the sources)."""
    if not os.path.exists(path):
        return False
    with open(path) as f:
        return all(os.path.exists(p) for p in f.read().strip().split(os.pathsep))


def build():
    """Compile engine + harness if the sources changed; return the launch
    classpath and JVM options."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from a checkout of the engine: build.sbt and src/main/scala/graft are missing")
    launch = os.path.join(BENCH, "target", "launch")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    have = open(stamp_file).read() if os.path.exists(stamp_file) else None
    if have != stamp or not classpath_present(os.path.join(launch, "classpath.txt")):
        env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=driver_heap())
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
        done = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                              cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              text=True, timeout=840)
        if done.returncode != 0:
            sys.stderr.write(done.stdout[-4000:])
            fail("build failed")
        os.makedirs(WORK, exist_ok=True)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    with open(os.path.join(launch, "classpath.txt")) as f:
        classpath = f.read().strip()
    with open(os.path.join(launch, "java_options.txt")) as f:
        options = [line.strip() for line in f if line.strip()]
    return classpath, options


def tables_dir():
    """The query tables, generated once per table seed and reused."""
    path = os.path.join(WORK, f"tables-{TABLE_SEED}")
    marker = path + ".done"
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        gen.write_tables(path, TABLE_SEED)
        open(marker, "w").close()
    return path


def cpu_times():
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def run_jvm(classpath, options, args, tables, corpus, out):
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    cmd = (["java"] + options + JVM_OPTIONS +
           [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--tables", tables, "--corpus", corpus, "--out", out])
    with open(os.path.join(WORK, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=tmp, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        fail(f"the JVM exited with {code}; see {os.path.join(WORK, 'jvm.log')}")
    shutil.rmtree(tmp, ignore_errors=True)


def main():
    # A terminated run still stops its JVM (run_jvm's finally).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath, options = build()

    t0 = time.perf_counter()
    tables = tables_dir()
    corpus = os.path.join(WORK, "corpus")
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    if args.workload == "mr_corpus":
        shutil.rmtree(corpus, ignore_errors=True)
        record["input_digest"] = gen.write_corpus(corpus, args.seed, CORPUS_BYTES, CORPUS_FILES)
    else:
        record["input_digest"] = gen.digest(tables)
    record["gen_s"] = time.perf_counter() - t0

    out = os.path.join(WORK, "out")
    shutil.rmtree(out, ignore_errors=True)
    steal0, total0 = cpu_times()
    run_jvm(classpath, options, args, tables, corpus, out)
    steal1, total1 = cpu_times()
    # Share of CPU time the hypervisor gave to other guests while the JVM
    # ran: a slow run with a high share was slowed by the host.
    record["host_steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    with open(os.path.join(out, "result.json")) as f:
        result = json.load(f)

    checks = [(c["name"], c["ok"], c["detail"]) for c in result["checks"]]
    if args.workload != "mr_corpus":
        written = [name for name, ok, _ in checks if ok]
        checks = [c for c in checks if not c[1]] + oracle.check_entries(tables, out, written)
    executions = [o for p in result["passes"] for o in p["ops"]]
    attempted = len(executions) + len(checks)
    failed = sum(not o["ok"] for o in executions) + sum(not ok for _, ok, _ in checks)

    lat = metrics.op_latencies(result)
    record.update({
        "passes": len(result["passes"]),
        "op_latency_s": metrics.reportable_percentiles(lat) | {"n": len(lat)},
        "per_op_median_s": {name: statistics.median(
            o["s"] for p in metrics.measured(result) for o in p["ops"] if o["name"] == name)
            for name in sorted({o["name"] for o in executions})},
        "pass_walls_s": {p["phase"]: [q["wall_s"] for q in result["passes"] if q["phase"] == p["phase"]]
                         for p in result["passes"]},
        "setups_s": [s["setup_s"] for s in result["setups"]],
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks],
        "errors": result["failures"],
    })
    if args.trace:
        with open(os.path.join(out, "spans.json")) as f:
            values = metrics.per_layer(result, json.load(f))
        units = metrics.LAYER_UNITS
    else:
        values = metrics.end_to_end(result)
        units = metrics.E2E_UNITS
    # Reported, not gated: a single sample per run, or too host-dependent
    # to hold a bound.
    also = {"pass_s": (metrics.pass_wall(result), "s"),
            "cold_pass_s": (result["passes"][0]["wall_s"], "s"),
            "rss_peak_mb": (result["rss_peak_mb"], "MiB"),
            "failed_frac": (failed / attempted, "frac")}
    if "corpus_bytes" in result:
        also["mb_per_s"] = (result["corpus_bytes"] / metrics.MIB / metrics.pass_wall(result), "MiB/s")
    record["also"] = {k: {"value": v, "unit": u} for k, (v, u) in also.items()}
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit in units.items()},
    }))


if __name__ == "__main__":
    main()
