#!/usr/bin/env python3
"""Benchmark of the `extract` job: one workload, one seed, one run.

Usage (from the repository root):

    python3 perfbench/run.py --workload extract_full --seed 1 --seconds 25 --trace 0

Builds the program and the benchmark from source with sbt (once per source
state; the classpath is cached under .bench_build/), runs one benchmark JVM,
checks the program's outputs against the generator's goldens, and prints as
its last line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# JDK 17 needs these to run Spark 4 outside spark-submit
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


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def host_facts():
    """Cores from nproc, and heap from /proc/meminfo: half of RAM, clamped
    to 2g..8g, the rule the repository's tier-1 test command uses."""
    env = {k: v for k, v in os.environ.items() if k != "OMP_NUM_THREADS"}
    cores = int(subprocess.run(["nproc"], capture_output=True, text=True,
                               env=env, check=True).stdout.strip())
    heap_g = 2
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    heap_g = min(8, max(2, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return {"cores": cores, "heap": f"{heap_g}g"}


def source_stamp():
    """Hash of everything the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes() if p.exists() else b"-")
    return h.hexdigest()[:16]


def build():
    """Compile program + benchmark; return the runtime classpath."""
    for need in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala"):
        if not need.exists():
            fail(f"no program to build: {need.relative_to(ROOT)} is missing")
    stamp = source_stamp()
    cp_file = BUILD / f"classpath-{stamp}.txt"
    if cp_file.exists():
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log(f"building program and benchmark (source stamp {stamp})")
    t0 = time.time()
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, capture_output=True, text=True,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cps = [l for l in p.stdout.splitlines() if ".jar" in l and ":" in l
           and not l.startswith("[")]
    if not cps:
        fail("build printed no classpath")
    cp_file.write_text(cps[-1])
    log(f"built in {time.time() - t0:.1f} s")
    return cps[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.exists():
        fail("BENCHMARK.json is missing")
    spec = json.loads(spec_file.read_text())
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    cp = build()
    host = host_facts()
    run_dir = BUILD / "work" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    result_file = BUILD / "results" / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    result_file.parent.mkdir(parents=True, exist_ok=True)
    result_file.unlink(missing_ok=True)

    java = (os.path.join(os.environ["JAVA_HOME"], "bin", "java")
            if "JAVA_HOME" in os.environ else "java")
    cmd = [java, f"-Xmx{host['heap']}", "-Xms1g",
           # the program's G1 settings (see the root build.sbt): large
           # regions keep page planes from being humongous allocations
           "-XX:+UnlockExperimentalVMOptions", "-XX:G1NewSizePercent=30",
           "-XX:G1HeapRegionSize=32m",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dlog4j.configurationFile={BENCH / 'log4j2.properties'}"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(host["cores"]), "--work", str(run_dir),
            "--result", str(result_file)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "spark-local"))
    env.pop("SPARK_EXECUTOR_DIRS", None)
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail("benchmark JVM timed out")
    shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0 or not result_file.exists():
        fail(f"benchmark JVM exited with {rc}")
    res = json.loads(result_file.read_text())

    metrics = {}
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None:
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    info = dict(res["info"], **host)
    print(json.dumps(info))
    print(f"{a.workload} seed={a.seed} trace={a.trace} cores={host['cores']} "
          f"heap={host['heap']} spark={info['spark_version']} "
          f"failed_share={res['failed']}/{res['attempted']}"
          f"={info['failed_share']:.4f}")
    for k, v in metrics.items():
        print(f"  {k:36s} {v['value']:>14.6g} {v['unit']}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
