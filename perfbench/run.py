#!/usr/bin/env python3
"""Benchmark driver: builds the program, runs one workload in a fresh JVM,
checks its outputs and prints one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness with sbt (offline) and caches the classpath under
perfbench/.cache; later runs of the same sources reuse it. Each run works
in its own directory under perfbench/.work (java.io.tmpdir,
SPARK_LOCAL_DIRS, warehouse, workspace) and removes it at the end. A
record of every run, with the per-layer figures of traced runs, is kept
under perfbench/records.

Exit code 0 when every output check passed, 1 when one failed, 2 when the
program could not be built or run.
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

import checks            # noqa: E402
import compendium_gen    # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.01")
CACHE = os.path.join(HERE, ".cache")
WORK = os.path.join(HERE, ".work")
RECORDS = os.path.join(HERE, "records")

WORKLOADS = ("manager_cycle", "stream_gates")
# Nominal seconds of one timed round (a cycle or a pass) on a 4-core
# machine. A run does max(1, seconds // ROUND_SECONDS) whole rounds, a
# count fixed by --seconds alone, so every run of a workload does the same
# work.
ROUND_SECONDS = 30

# stream_gates: the two stream-stream join gates of c12-c29, whose state
# store floor an open ROADMAP item targets. The list is written out so that
# a gate added to the registry later does not change the workload.
STREAM_GATES = ["c21_stream_stream_join", "c28_stream_outer_join"]

# The end-to-end metrics printed with --trace 0. wall_s and cpu_s are
# measured and kept in the run record but not scored: on a shared VM their
# level follows the host's load (README, "Steadiness").
END_TO_END = [("setup_s", "s"), ("write_mb", "MB"), ("read_mb", "MB")]
RECORDED = END_TO_END + [("wall_s", "s"), ("cpu_s", "s")]

# Spark on JDK 17 outside spark-submit needs these; the program's build.sbt
# passes the same list to its forked runs.
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

RUN_TIMEOUT_S = 170


T0 = time.time()


def log(msg):
    print(f"[perfbench {time.time() - T0:6.1f}s] {msg}", file=sys.stderr,
          flush=True)


def source_digest():
    """Digest of everything the build reads, so a cached build is reused
    only for the very same sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise RuntimeError(f"no program sources: {need} is missing")
    digest = source_digest()
    stamp = os.path.join(CACHE, "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if (os.path.exists(stamp) and os.path.exists(cp_file)
            and open(stamp).read() == digest):
        return open(cp_file).read().strip()
    os.makedirs(CACHE, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the program and the harness (sbt, offline)")
    with open(os.path.join(CACHE, "build.log"), "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=850).returncode
    if rc != 0 or not os.path.exists(cp_file):
        raise RuntimeError(f"build failed (see {CACHE}/build.log)")
    with open(stamp, "w") as f:
        f.write(digest)
    return open(cp_file).read().strip()


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from the first line of
    /proc/stat: the share of stolen time during a run says how much the
    host took from this machine."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return (v[7] if len(v) > 7 else 0), sum(v[:8])


def steal_share(before, after):
    total = after[1] - before[1]
    return round((after[0] - before[0]) / total, 4) if total > 0 else 0.0


def run_jvm(classpath, workload, rounds, work, trace, extra):
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ,
               SPARK_LOCAL_DIRS=local,
               GRAFT_FIXTURES_DIR=os.path.join(ROOT, "fixtures"),
               GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
               GRAFT_PROJECTS=os.path.join(work, "projects"))
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}"]
           + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", workload, "--rounds", str(rounds),
              "--work", work, "--trace", str(trace)])
    for k, v in extra.items():
        cmd += [f"--{k}", v]
    cmd += ["--spawn-ms", str(int(time.time() * 1000))]
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"the run did not end within {RUN_TIMEOUT_S} s")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"the JVM exited with code {rc}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def per_layer(res, truth):
    """Every per-layer metric, 0 where the workload has no such layer."""
    layers = res.get("layers", {})
    rounds = res["rounds"]
    spark = res.get("spark", {})
    cat = res.get("catalyst", {})
    st = res.get("streaming", {})
    m = {}

    def put(name, value, unit):
        m[name] = {"value": round(float(value), 6), "unit": unit}

    for k in ("xml", "tags", "runs", "reports", "asvs", "autoforward",
              "workspace"):
        put(f"compendium.{k}_s", layers.get(f"compendium.{k}", 0.0), "s")
    out = res.get("outputs", {})
    put("compendium.autoforward_rounds", out.get("autoforward_rounds", 0),
        "count")
    wh = checks.tree_stats(out["warehouse"]) if out else (0, 0)
    put("compendium.warehouse_files", wh[0], "count")
    put("compendium.warehouse_mb", wh[1] / 1e6, "MB")
    asvs_s = layers.get("compendium.asvs", 0.0)
    cells = truth["align_cells"] * rounds if truth else 0
    put("compendium.align_mcells_per_s",
        cells / 1e6 / asvs_s if asvs_s > 0 else 0.0, "Mcells/s")
    for k, unit in (("jobs", "count"), ("job_span_s", "s"),
                    ("driver_gap_s", "s"), ("stages", "count"),
                    ("tasks", "count"), ("executor_run_s", "s"),
                    ("executor_cpu_s", "s"), ("executor_gc_s", "s"),
                    ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"),
                    ("spill_mb", "MB"), ("input_mb", "MB"),
                    ("output_mb", "MB")):
        put(f"spark.{k}", spark.get(k, 0), unit)
    for k, unit in (("actions", "count"), ("analysis_s", "s"),
                    ("optimization_s", "s"), ("planning_s", "s")):
        put(f"catalyst.{k}", cat.get(k, 0), unit)
    put("io.write_calls", res["io_write_calls"], "count")
    put("io.read_calls", res["io_read_calls"], "count")
    for k, unit in (("batches", "count"), ("trigger_s", "s"),
                    ("add_batch_s", "s"), ("wal_commit_s", "s"),
                    ("state_commit_s", "s"), ("state_rows", "count"),
                    ("state_mb", "MB")):
        put(f"streaming.{k}", st.get(k, 0), unit)
    for g in STREAM_GATES:
        put(f"gate.{g}_s", layers.get(f"gate.{g}", 0.0), "s")
    put("jvm.gc_s", res["gc_ms"] / 1e3, "s")
    put("jvm.jit_s", res["jit_ms"] / 1e3, "s")
    put("jvm.heap_peak_mb", res["heap_peak_mb"], "MB")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classpath = build()
    except Exception as e:           # no program here, or it does not build
        log(f"cannot build: {e}")
        return 2

    rounds = max(1, a.seconds // ROUND_SECONDS)
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load_before = loadavg()
    ticks_before = cpu_ticks()
    truth = None
    try:
        if a.workload == "manager_cycle":
            inp = os.path.join(work, "input")
            truth = compendium_gen.generate(a.seed, inp)
            extra = {"input": inp}
        else:
            extra = {"data": DATA, "queries": ",".join(STREAM_GATES)}
        log(f"running {a.workload}: {rounds} round(s), trace {a.trace}")
        try:
            res = run_jvm(classpath, a.workload, rounds, work, a.trace, extra)
        except Exception as e:
            log(f"run failed: {e}")
            return 2
        log("checking outputs")
        if a.workload == "manager_cycle":
            failures = checks.check_manager(res, truth)
        else:
            failures = checks.check_gates(res, DATA, work)
        for f in failures:
            log(f"CHECK FAILED: {f}")
        log(f"checks done, {len(failures)} failed")
        log("timed calls: " + ", ".join(
            f"{n} {res[n]:.3f} {u}" for n, u in RECORDED))
        if a.trace:
            metrics = per_layer(res, truth)
        else:
            metrics = {n: {"value": round(float(res[n]), 6), "unit": u}
                       for n, u in END_TO_END}
        record = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "rounds": rounds, "nproc": res["nproc"],
            "loadavg_before": load_before, "loadavg_after": loadavg(),
            "steal_share": steal_share(ticks_before, cpu_ticks()),
            "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "end_to_end": {n: res[n] for n, _ in RECORDED},
            "round_wall_s": res["round_wall_s"],
            "layers": res.get("layers", {}),
            "metrics": metrics, "failures": failures,
        }
        os.makedirs(RECORDS, exist_ok=True)
        with open(os.path.join(
                RECORDS, f"{a.workload}-seed{a.seed}-trace{a.trace}-"
                f"{int(time.time())}-{os.getpid()}.json"), "w") as f:
            json.dump(record, f, indent=1)
        print(json.dumps({"correct": not failures,
                          "attempted": res["attempted"],
                          "failed": res["failed"],
                          "metrics": metrics}))
        return 0 if not failures else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
