#!/usr/bin/env python3
"""Run one benchmark workload of parquetmergerspark and print its metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload merge_many_files --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest        # the benchmark's own checks
    python3 perfbench/run.py --record-hashes   # re-freeze the registry hashes

The first run builds the program and the benchmark from source with sbt
(perfbench/build.sbt depends on the root build) and caches the classpath
under perfbench/.work; later runs reuse it while no source changes.

A run starts one JVM on local[<cores>], cores = min(2, available), with
a heap sized from MemTotal.
With --trace 0 it first starts one short JVM that only brings up a
SparkSession, so that setup_s is the median of two set-ups. The last
line of standard output is one JSON object: correct, attempted, failed
and metrics (the end-to-end metrics of BENCHMARK.json with --trace 0,
the per-layer ones with --trace 1).
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DEADLINE_S = 170.0
KEEP_FIXTURES = 12
# Spark task slots and the JVM's view of the machine (GC and JIT threads).
# On a few shared cores, a JVM that may use all of them times the host's
# scheduler more than the program; two keep each run steadier.
MAX_CORES = 2

WORKLOADS = ("merge_many_files", "registry_headline")
# per-layer metric prefixes whose layer a workload never calls
NOT_CALLED = {
    "merge_many_files": ("registry.",),
    "registry_headline": ("discovery.", "mergejobs.", "merge."),
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_fingerprint():
    """Hash of every input of the build: both build definitions and sources."""
    h = hashlib.sha256()
    inputs = ["build.sbt", "project/build.properties", "src/main",
              "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]
    for rel in inputs:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Builds on first use (or after a source change) and returns the classpath."""
    cp_file = os.path.join(WORK, "classpath.txt")
    fp_file = os.path.join(WORK, "fingerprint.txt")
    fp = source_fingerprint()
    if os.path.isfile(cp_file) and os.path.isfile(fp_file):
        with open(fp_file) as f:
            if f.read().strip() == fp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building program and benchmark with sbt")
    os.makedirs(WORK, exist_ok=True)
    t0 = time.time()
    # the build resolves offline, from the local caches only
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx4g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.isfile(repos) else "")
    with open(os.path.join(WORK, "build.log"), "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, stdin=subprocess.DEVNULL,
            text=True, timeout=850)
        out.write(proc.stdout)
    if proc.returncode != 0:
        fail(f"build failed (exit {proc.returncode}); see {os.path.join(WORK, 'build.log')}")
    lines = [l for l in proc.stdout.splitlines() if not l.startswith("[") and ".jar" in l]
    if not lines:
        fail("build printed no classpath")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(fp_file, "w") as f:
        f.write(fp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def heap_size():
    """Half of MemTotal in GiB, between 2 and 8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(MAX_CORES, n))


def jvm(cp, args, deadline):
    """Runs perfbench.Main; returns its stdout lines. Stderr passes through."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f"-Xmx{heap_size()}", f"-XX:ActiveProcessorCount={cores()}",
           "-XX:ReservedCodeCacheSize=1g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--work", WORK, "--bench-dir", HERE,
            "--cores", str(cores()), "--t0-ms", f"{time.time() * 1000.0:.3f}"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("benchmark process ran out of time")
    if proc.returncode != 0:
        fail(f"benchmark process exited with {proc.returncode}")
    return out.splitlines()


def tagged(lines, tag):
    found = [l[len(tag) + 1:] for l in lines if l.startswith(tag + " ")]
    if not found:
        fail(f"benchmark process printed no {tag} line")
    return found[-1]


def prune_fixtures(workload, seed):
    """Keeps the fixtures of the most recently used seeds only."""
    base = os.path.join(WORK, "fixtures", workload)
    if not os.path.isdir(base):
        return
    dirs = [os.path.join(base, d) for d in os.listdir(base) if d != f"seed-{seed}"]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_FIXTURES - 1:]:
        shutil.rmtree(d, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-hashes", action="store_true")
    a = ap.parse_args()
    deadline = time.time() + DEADLINE_S

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no program sources next to the benchmark (build.sbt, src/main/scala/graft)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cp = classpath()
    deadline = max(deadline, time.time() + 150.0)  # a fresh build does not eat the run's time
    if a.selftest or a.record_hashes:
        for line in jvm(cp, ["--selftest" if a.selftest else "--record-hashes"], deadline + 600):
            print(line)
        return 0
    if not a.workload:
        fail("--workload is required")

    prune_fixtures(a.workload, a.seed)
    run_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)]
    # one extra JVM that only sets up, so that setup_s is a median of two
    setups = [float(tagged(jvm(cp, ["--setup-probe"], deadline), "PERFBENCH_SETUP"))] if a.trace == 0 else []
    res = json.loads(tagged(jvm(cp, run_args, deadline), "PERFBENCH_RESULT"))
    setups.append(res["setup_s"])
    fixture = os.path.join(WORK, "fixtures", a.workload, f"seed-{a.seed}")
    if os.path.isdir(fixture):
        os.utime(fixture)

    got = dict(res["metrics"])
    if a.trace == 0:
        got["setup_s"] = {"value": statistics.median(setups), "unit": "s"}
    wanted = spec["end_to_end"] if a.trace == 0 else spec["per_layer"]
    names = {m["name"] for m in wanted}
    unknown = sorted(set(got) - names)
    if unknown:
        fail(f"benchmark process reported metrics not in BENCHMARK.json: {unknown}")
    metrics = {}
    for m in wanted:
        if m["name"] in got:
            metrics[m["name"]] = {"value": got[m["name"]]["value"], "unit": m["unit"]}
        elif m["name"].startswith(NOT_CALLED[a.workload]):
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            fail(f"metric {m['name']} missing from the {a.workload} run")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
