#!/usr/bin/env python3
"""Search-engine benchmark: BM25 serving and index build on a seeded corpus.

Run from the repository root:

    python3 perfbench/run.py --workload serve_head --seed 1 --seconds 10 --trace 0

Workloads are listed in BENCHMARK.json and described in perfbench/README.md.
The first run builds the engine and the benchmark from source with sbt
(offline) and caches the classpath under .perfbench/; later runs start the
JVM directly. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}.
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

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".perfbench"
WORKLOADS = ("serve_head", "serve_tail", "index_build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             ROOT / "src" / "main", HERE / "build.sbt",
             HERE / "project" / "build.properties", HERE / "src"]
    for r in roots:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Builds (when the sources changed) and returns the run classpath."""
    stamp = STATE / "build.stamp"
    cp_file = STATE / "classpath.txt"
    digest = source_digest()
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    STATE.mkdir(parents=True, exist_ok=True)
    log = STATE / "build.log"
    t0 = time.time()
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "compile", "export Runtime/fullClasspath"],
                cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}", 3)
    lines = log.read_text().splitlines()
    if rc != 0 or not lines:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}); see {log}", 3)
    cp = lines[-1].strip()
    if "perfbench" not in cp:
        fail(f"could not read the classpath from the build; see {log}", 3)
    cp_file.write_text(cp)
    stamp.write_text(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    # the engine is built from source next to the benchmark
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources next to the benchmark (expected build.sbt and src/main/scala in {ROOT})")
    cp = classpath()

    tmp = STATE / "tmp"
    if tmp.exists():
        shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    out = STATE / "out"
    out.mkdir(parents=True, exist_ok=True)
    java = shutil.which("java") or fail("java is not on PATH")
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", str(STATE / "data"), "--out", str(out)]
    log = out / f"{a.workload}-{a.seed}-trace{a.trace}.log"
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            shutil.rmtree(tmp, ignore_errors=True)
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log}", 4)
    shutil.rmtree(tmp, ignore_errors=True)
    lines = stdout.rstrip("\n").splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stdout.write(stdout)
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"the benchmark JVM exited {proc.returncode} without a result; see {log}", 5)
    sys.stdout.write("\n".join(lines[:-1]) + "\n")
    if proc.returncode != 0:
        print(f"perfbench: the run failed its checks (exit {proc.returncode}); see {log}",
              file=sys.stderr)
    print(json.dumps(result))
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
