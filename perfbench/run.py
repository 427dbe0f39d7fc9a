#!/usr/bin/env python3
"""Build the engine with the benchmark, then run one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout compiles the
engine's sources together with the benchmark (perfbench/build.sbt) and
records the runtime classpath; later runs start the JVM directly. The last
line on stdout is the run's JSON result; build output, progress and the
metric table go to stderr.

The benchmark's own tests: `cd perfbench && sbt test`.
"""
import argparse
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CLASSPATH = HERE / "target" / "classpath.txt"
WORK = HERE / ".work" / "run"
TRACES = HERE / ".work" / "traces"
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def newest_source_mtime():
    newest = (HERE / "build.sbt").stat().st_mtime
    for tree in (ROOT / "src" / "main", HERE / "src" / "main"):
        for dirpath, _, files in os.walk(tree):
            for f in files:
                newest = max(newest, os.stat(os.path.join(dirpath, f)).st_mtime)
    return newest


def build():
    if CLASSPATH.exists() and CLASSPATH.stat().st_mtime >= newest_source_mtime():
        return CLASSPATH.read_text().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        raise SystemExit("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    # build output goes to stderr: stdout carries only the result line
    subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                   cwd=HERE, env=env, stdout=sys.stderr, check=True, timeout=800)
    return CLASSPATH.read_text().strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = ROOT / "BENCHMARK.json"
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not spec.is_file():
        print("perfbench: run from a repository root holding the engine sources "
              "(src/main/scala/graft) and BENCHMARK.json", file=sys.stderr)
        return 2
    classpath = build()
    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "jvmtmp").mkdir(parents=True)
    # A fixed heap with a fixed 256 MB young generation, so collections come
    # after a fixed amount of allocation whatever the machine's speed. A
    # large initial metaspace keeps class loading from starting extra
    # collection cycles.
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn256m", "-XX:MetaspaceSize=256m",
           f"-Djava.io.tmpdir={WORK / 'jvmtmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--spec", str(spec), "--work", str(WORK / "spark"),
            "--trace-file", str(TRACES / f"{args.workload}-seed{args.seed}.jsonl")]
    try:
        return subprocess.run(cmd, cwd=ROOT, timeout=RUN_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s and was stopped", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
