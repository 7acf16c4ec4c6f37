#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the engine's
sources together with the benchmark's (perfbench/build.sbt) into the
build directory ($CARGO_TARGET_DIR, default .bench_build); later runs
reuse that build while the sources are unchanged. The benchmark itself
runs in one JVM (Spark local[nproc]); its last stdout line is one JSON
object with `correct`, `attempted`, `failed` and `metrics`. Run files,
including a traced run's trace.json, stay under <build>/runs/.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("task_api", "curation_batch", "task_lifecycle")
# A run is its set-up (session start, inputs, warm-up: ~28 s) plus its
# window. The longest run, a traced curation_batch, stretches a 10 s
# window to four pipeline passes (~40 s); five such runs took 55-73 s on
# a 4-core VM. The timeout allows 2.5x the estimate: 170 s at
# --seconds 10, 2.3x the slowest traced run seen. A run must end within
# 180 s, which leaves no room for more.
SETUP_ALLOWANCE_S = 28
MIN_WINDOW_S = 40
SLOW_HOST_FACTOR = 2.5
BUILD_TIMEOUT_S = 840
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


def source_files(root):
    dirs = [os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s != "target")
            files += [os.path.join(base, n) for n in sorted(names)]
    return files


def spark_home():
    """The Spark install on PATH: the first `<dir>/..` holding Spark's jars."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        jars = os.path.join(home, "jars")
        if os.path.isdir(jars) and any(n.startswith("spark-core_") for n in os.listdir(jars)):
            return home
    fail("SPARK_HOME is not set and no Spark install is on PATH", 3)


def build(root, out):
    """Compile once per source state; returns the runtime classpath."""
    digest = hashlib.sha256()
    for f in source_files(root):
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(out, "stamp")
    cp_file = os.path.join(out, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ)
    env["PERFBENCH_TARGET"] = os.path.join(out, "target")
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env:
        env["SPARK_HOME"] = spark_home()
    # sbt's own state (launcher, compiler bridge, ivy) also lives in the
    # build directory; dependencies resolve offline from the local cache
    opts = ["-Dsbt.offline=true", "-Xmx2g",
            f"-Dsbt.global.base={os.path.join(out, 'sbt-global')}",
            f"-Dsbt.boot.directory={os.path.join(out, 'sbt-boot')}",
            f"-Dsbt.ivy.home={os.path.join(out, 'ivy2')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed", 3)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("/") and ":" in l]
    if not lines:
        fail("build printed no classpath", 3)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return lines[-1]


def run_timeout(seconds):
    return SLOW_HOST_FACTOR * (SETUP_ALLOWANCE_S + max(MIN_WINDOW_S, seconds + 10))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout (src/main/scala/graft not found)")
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classpath = build(root, out)

    run_dir = os.path.join(out, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", classpath, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace, "--dir", run_dir]
    proc = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True, start_new_session=True)
    timeout = run_timeout(args.seconds)
    try:
        stdout, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {timeout:.0f}s", 4)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        # keep the run's JSON files, drop generated inputs and spill space
        for name in os.listdir(run_dir):
            path = os.path.join(run_dir, name)
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            elif not name.endswith(".json"):
                os.remove(path)
    lines = stdout.rstrip("\n").splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(stdout)
        fail(f"benchmark exited with {proc.returncode}", proc.returncode or 5)
    sys.stdout.write(stdout)


if __name__ == "__main__":
    main()
