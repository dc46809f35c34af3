#!/usr/bin/env python3
"""Product benchmark for the graft library (YamlPipe on Spark).

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest_delta --seed 1 --seconds 30 --trace 0

Builds the library and the benchmark harness from source with sbt (only when
a source file changed since the last build), then runs one workload in a
fresh JVM and relays its output. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics; with --trace 1 they are the
per-layer metrics of a traced run. Everything the run writes stays under
.bench_build/ and .bench_work/ in the checkout. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import pathlib
import shutil
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORK = ROOT / ".bench_work"
WORKLOADS = ("ingest_delta", "query_session")

# Spark on JDK 17 needs these when a SparkSession is created outside
# spark-submit (the root build.sbt passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256(str(ROOT).encode())
    inputs = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        inputs += sorted(p for p in d.glob("*") if p.suffix in (".sbt", ".scala", ".properties"))
    for d in (ROOT / "src" / "main", HERE / "src"):
        inputs += sorted(p for p in d.rglob("*") if p.is_file())
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def java_cmd(cp, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [java, "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           f"-Dperfbench.launchMillis={int(time.time() * 1000)}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Bench"]


def build():
    """Returns the runtime classpath, rebuilding when a source changed."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no graft sources under {ROOT}; run from a checkout of the repository")
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text()
    BUILD.mkdir(exist_ok=True)
    stamp_file.unlink(missing_ok=True)
    log = BUILD / "build.log"
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "-batch", "-no-colors", "-Dsbt.server.forcestart=false",
             "export Runtime/fullClasspathAsJars"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True, timeout=600)
    out_lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not out_lines:
        fail(f"build failed (exit {proc.returncode}); see {log}", 1)
    cp = out_lines[-1].strip()
    if not all(e.endswith(".jar") and os.path.isfile(e) for e in cp.split(os.pathsep)):
        fail(f"build printed no usable classpath; see {log}", 1)
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    cp = build()
    work = WORK / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    cmd = java_cmd(cp, work) + [
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", args.trace, "--work", str(work)]
    log = WORK / f"{work.name}.log"
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=170)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded 170 s; see {log}", 1)
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    if proc.returncode != 0 or not isinstance(result, dict):
        sys.stdout.write("\n".join(lines[:-1] if result else lines) + "\n")
        fail(f"benchmark JVM exited {proc.returncode} without a result; see {log}", 1)
    print("\n".join(lines))
    log.unlink()


if __name__ == "__main__":
    main()
