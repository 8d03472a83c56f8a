#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (the repository's own build, offline,
plus the benchmark's build in this directory) and caches the resulting
classpath under `perfbench/.build`; later runs reuse it until a source
file changes. Each run then starts one JVM: Spark `local[nproc]` with
`shuffle.partitions = nproc` and a heap from `SPARK_DRIVER_MEM`, or
half the machine's memory clamped to 2..8 GiB when that is unset.

The JVM's scratch (Spark local dirs, warehouse, feeds, sinks) lives in
`perfbench/.work/<workload>-<pid>` and is removed afterwards; traced
runs leave their spans in `perfbench/out`. `--record` rewrites the
batch workloads' recorded output digests (`perfbench/digests.txt`).
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
WORKLOADS = ("cdc_stream", "curation_composites")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 175

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[run.py] {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, cwd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    (sbt and java start children) and wait. Returns (exit code or None, stdout)."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, ""


def sources():
    """Every file whose change calls for a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".sbt", ".properties"))
                      or "META-INF" in d]
    return files


def build():
    stale = not os.path.exists(CLASSPATH) or any(
        os.path.getmtime(f) > os.path.getmtime(CLASSPATH) for f in sources() if os.path.exists(f))
    if not stale:
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    code, out = run_group(cmd, HERE, BUILD_TIMEOUT_S, env=env, stderr=subprocess.STDOUT)
    if code is None:
        fail(f"build timed out after {BUILD_TIMEOUT_S} s")
    lines = out.splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {code})")
    cps = [l.strip() for l in lines if "perfbench" in l and os.pathsep in l and not l.startswith("[")]
    if not cps:
        fail("build produced no classpath")
    with open(CLASSPATH + ".tmp", "w") as f:
        f.write(cps[-1])
    os.replace(CLASSPATH + ".tmp", CLASSPATH)


def heap_gb():
    raw = os.environ.get("SPARK_DRIVER_MEM", "")
    if raw:
        num = "".join(c for c in raw if c.isdigit())
        if num:
            n = int(num)
            return max(1, (n + 1023) // 1024) if raw.strip().lower().endswith("m") else n
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        return 2


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the program's sources are not here: run from the root of a full checkout")
    build()
    with open(CLASSPATH) as f:
        cp = f.read().strip()

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    out = os.path.join(HERE, "out")
    os.makedirs(work, exist_ok=True)
    os.makedirs(out, exist_ok=True)
    jvm = ["java", f"-Xmx{heap_gb()}g", "-XX:ReservedCodeCacheSize=512m",
           f"-XX:ActiveProcessorCount={cores}", f"-Djava.io.tmpdir={work}",
           f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd = jvm + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
                 "--out", out, "--bench-dir", HERE] + (["--record"] if a.record else [])
    code, stdout = run_group(cmd, work, RUN_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"{a.workload} did not finish within {RUN_TIMEOUT_S} s")
    lines = [l for l in stdout.splitlines() if l.strip()]
    if code != 0 or len(lines) < 2:
        sys.stderr.write(stdout)
        fail(f"{a.workload} failed (exit {code})", code or 1)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    print(lines[-2])
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
