#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the harness together with the
program sources (sbt, once per source state), then runs one workload in
a fresh JVM and forwards its output; the last stdout line is the JSON
result. See perfbench/README.md.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = Path.cwd()
WORK = ROOT / ".perfbench"
WORKLOADS = ("construct_heavy", "compute_heavy", "pipeline", "pipeline_scoped")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as
# the program's own build, from JavaModuleOptions.defaultModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("cannot find the Spark installation (set SPARK_HOME)")
    return home


def sources():
    roots = [ROOT / "src" / "main" / "scala", BENCH / "src"]
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += sorted(r.rglob("*.scala"))
    return files


def build(env):
    """Compiles once per source state; returns the runtime classpath."""
    digest = hashlib.sha256()
    for f in sources():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    out = WORK / "build"
    cp_file, stamp_file = out / "classpath", out / "stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and cp_file.exists():
        return cp_file.read_text()
    out.mkdir(parents=True, exist_ok=True)
    print("perfbench: building (sbt compile)", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout)
        fail("build failed")
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return cp_file.read_text()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").is_file():
        fail(f"run from the root of a checkout: no program sources under {ROOT}")
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    # keep sbt's server socket and native-library scratch in the checkout
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
                       f" -Djna.tmpdir={tmp} -XX:-UsePerfData").strip()
    classpath = build(env)

    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dperfbench.dir={BENCH}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(WORK)]
    proc = subprocess.Popen(cmd, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    sys.exit(code)


if __name__ == "__main__":
    main()
