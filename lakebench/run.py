#!/usr/bin/env python3
"""Lakehouse benchmark runner: builds the engine and the benchmark from
source, runs one workload in a fresh JVM, and relays its result.

    python3 lakebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The engine sources (src/main/scala) and the
benchmark sources (lakebench/src) are compiled together with the Scala
compiler that ships in the Spark jar directory; the classes are cached
under lakebench/.build and rebuilt when any source changes. The last line
of stdout is the result JSON. Exit codes: 0 ok, 1 a correctness check or
operation failed, 2 bad invocation or build failure, 3 the run aborted.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("tpch_governed", "ingest_lookup", "dedup_curate")
BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = BENCH / ".build"
WORK = BENCH / ".work"
OUT = BENCH / ".out"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = BENCH / "src"
SCALA_VERSION = "2.13.17"
RUN_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(code, msg):
    print(f"[lakebench] {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        fail(2, "SPARK_HOME is not set")
    jars = pathlib.Path(home) / "jars"
    if not (jars / f"scala-compiler-{SCALA_VERSION}.jar").is_file():
        fail(2, f"no Spark {SCALA_VERSION} jars with a Scala compiler under {jars}")
    return jars


def sources():
    if not ENGINE_SRC.is_dir():
        fail(2, f"engine sources not found at {ENGINE_SRC}; run from a checkout of the repository")
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not files:
        fail(2, "no Scala sources found")
    return files


def build(jars):
    files = sources()
    digest = hashlib.sha256(SCALA_VERSION.encode())
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    classes = BUILD / "classes"
    stamp_file = BUILD / "stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp and classes.is_dir():
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    classes.mkdir(parents=True)
    compiler_cp = os.pathsep.join(str(jars / f"scala-{p}-{SCALA_VERSION}.jar")
                                  for p in ("compiler", "library", "reflect"))
    args_file = BUILD / "sources.txt"
    args_file.write_text("\n".join(str(f) for f in files))
    cmd = ["java", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={BUILD}", "-cp", compiler_cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
           "-classpath", str(jars / "*"), f"@{args_file}"]
    t0 = time.time()
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        shutil.rmtree(BUILD, ignore_errors=True)
        fail(2, "build failed")
    stamp_file.write_text(stamp)
    print(f"[lakebench] built {len(files)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes


def clear_stale_work():
    """Remove work directories left by runs whose process is gone."""
    if not WORK.is_dir():
        return
    for d in WORK.iterdir():
        pid = d.name.rsplit("-", 1)[-1]
        if pid.isdigit() and not pathlib.Path(f"/proc/{pid}").exists():
            shutil.rmtree(d, ignore_errors=True)


def heap_size():
    try:
        with open("/proc/meminfo") as f:
            total_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        gb = max(2, min(4, total_kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        gb = 2
    return f"{gb}g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds <= 0:
        fail(2, "--seconds must be positive")

    jars = spark_jars()
    classes = build(jars)
    clear_stale_work()
    work = WORK / f"{a.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    cmd = (["java", f"-Xmx{heap_size()}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{jars / '*'}", "lakebench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", str(work), "--out", str(OUT)])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(3, f"{a.workload} did not finish within {RUN_TIMEOUT_S}s")
    shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    for line in lines[:-1]:
        print(line)
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        if lines:
            print(lines[-1])
        fail(3 if proc.returncode in (0, 1) else proc.returncode,
             f"{a.workload} exited {proc.returncode} without a result")
    print(json.dumps(result))
    sys.exit(proc.returncode if proc.returncode != 0 else (0 if result["correct"] else 1))


if __name__ == "__main__":
    main()
