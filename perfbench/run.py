#!/usr/bin/env python3
"""Delivery-job benchmark entry point.

Builds the program and the harness from source (once per source state),
then runs one workload in a single pinned JVM and passes its output
through. The last line of standard output is the result JSON.

    python3 perfbench/run.py --workload export_fresh --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --smoke          # every workload, small, all checks

Run from the repository root. See perfbench/README.md for the workloads
and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
PROGRAM_RES = ROOT / "src" / "main" / "resources"
HARNESS_SRC = HERE / "src" / "main" / "scala"
CLASSES = HERE / "target" / "scala-2.13" / "classes"
STAMP = HERE / "target" / "perfbench.stamp"
WORK = HERE / "work"
WORKLOADS = ("export_fresh", "export_resume", "records_scan")
MAX_CPUS = 4
JVM_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (same list as the root
# build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        die("no Spark distribution: set SPARK_HOME")
    return home


def source_stamp():
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(HARNESS_SRC.rglob("*.scala"))
    files += sorted(f for f in PROGRAM_RES.rglob("*") if f.is_file())
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(home):
    want = source_stamp()
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == want:
        return
    env = dict(os.environ, SPARK_HOME=home, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file() and "sbt.repository.config" not in opts:
            opts += (" -Dsbt.override.build.repos=true"
                     f" -Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = opts.strip()
    print("perfbench: building program + harness", file=sys.stderr)
    rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                        cwd=HERE, env=env, stdout=sys.stderr,
                        stdin=subprocess.DEVNULL).returncode
    if rc != 0 or not CLASSES.is_dir():
        die(f"build failed (sbt exit {rc})")
    STAMP.write_text(want)


def declared_metrics():
    """The metric names and units of BENCHMARK.json, as `name=unit,...` per
    list; the JVM prints exactly these, so the two cannot drift apart."""
    try:
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        return {k: ",".join(f"{m['name']}={m['unit']}" for m in spec[k])
                for k in ("end_to_end", "per_layer")}
    except (OSError, ValueError, KeyError, TypeError) as e:
        die(f"cannot read the metric list from BENCHMARK.json: {e}")


def host_cpus():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(MAX_CPUS, n))


def heap_gb():
    """A quarter of the host's memory, 1-4 GiB."""
    total_kb = 0
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_kb = int(line.split()[1])
    except OSError:
        pass
    return max(1, min(4, total_kb // (4 * 1024 * 1024)))


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload at a small size with every check")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required unless --smoke is given")
    if a.seed < 0 or a.seconds < 1:
        ap.error("--seed must be >= 0 and --seconds >= 1")
    if not (PROGRAM_SRC / "graft").is_dir():
        die(f"program sources not found under {PROGRAM_SRC}")

    metrics = declared_metrics()
    home = spark_home()
    build(home)

    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    cpus = host_cpus()
    heap = heap_gb()
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # Fixed heap and young generation, cores pinned to local[N], C1 JIT only
    # (perfbench/README.md explains each); no hsperfdata file outside the
    # checkout.
    cmd = [java, f"-Xmx{heap}g", f"-Xms{heap}g", "-Xmn512m",
           f"-XX:ActiveProcessorCount={cpus}", "-XX:TieredStopAtLevel=1",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={WORK / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}{os.pathsep}{Path(home) / 'jars' / '*'}",
            "perfbench.Main",
            "--workload", a.workload or "smoke", "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cpus", str(cpus), "--work", str(WORK),
            "--end-to-end", metrics["end_to_end"],
            "--per-layer", metrics["per_layer"]]
    if a.smoke:
        cmd.append("--smoke")
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S * (4 if a.smoke else 1))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(WORK, ignore_errors=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
