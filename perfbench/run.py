#!/usr/bin/env python3
"""Run one workload of the repository benchmark.

    python3 perfbench/run.py --workload knn_serve --seed 1 --seconds 10 --trace 0

Run it from the repository root. The first call builds the engine and the
benchmark driver from source with sbt (perfbench/build.sbt) and caches the
classpath under .bench_build/perfbench; later calls reuse it while the
sources are unchanged. The JVM runs with one client thread, local[nproc]
and nproc shuffle partitions; its heap follows the Tier-1 test formula
(half of physical memory, clamped to 2..8 GiB). The last line of standard
output is the JSON result: with --trace 0 the end-to-end metrics, with
--trace 1 the per-layer metrics of a traced run.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("knn_serve", "ingest_mixed", "batch_sf0.01")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def run(cmd, cwd, env, timeout, log):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it, so no process outlives this script."""
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                                stderr=err, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"{cmd[0]} timed out after {timeout}s; see {log}")
    return proc.returncode, out


def source_stamp():
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources under {ROOT}; run from a repository checkout")
    stamp = source_stamp()
    cp_file, stamp_file = OUT / "classpath.txt", OUT / "stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:  # resolve from the local caches only
        opts = ["-Dsbt.offline=true"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    rc, out = run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                   "export perfbench/Runtime/fullClasspath"],
                  HERE, env, BUILD_TIMEOUT_S, OUT / "build.log")
    lines = [l.strip() for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines:
        fail(f"build failed (exit {rc}); see {OUT / 'build.log'}")
    cp = lines[-1]
    if not all(Path(p).exists() for p in cp.split(os.pathsep)):
        fail(f"build printed no usable classpath; see {OUT / 'build.log'}")
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def heap_gib():
    with open("/proc/meminfo") as f:
        kib = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return min(8, max(2, kib // 2097152))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    OUT.mkdir(parents=True, exist_ok=True)
    cp = build()
    tmp = OUT / "tmp"  # the engine's scratch layouts and checkpoints
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    cores = len(os.sched_getaffinity(0))
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xmx{heap_gib()}g", "-XX:ReservedCodeCacheSize=512m",
           *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS],
           f"-Djava.io.tmpdir={tmp}", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--cores", str(cores),
           "--bench-dir", str(HERE), "--out", str(OUT)]
    rc, out = run(cmd, ROOT, dict(os.environ), RUN_TIMEOUT_S, OUT / "run.log")
    lines = out.rstrip("\n").splitlines()
    if rc != 0 or not lines:
        print("\n".join(l for l in lines if not l.startswith("{")))
        fail(f"run failed (exit {rc}); see {OUT / 'run.log'}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        result = {}
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("the run's last line is not a result")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
