#!/usr/bin/env python3
"""Lakehouse benchmark launcher.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--smoke] [--expected <file>]

Run from the repository root. Builds the engine together with the benchmark
(perfbench/build.sbt) on first use, generates the input tables
(gendata.py, scale 0.01; 0.001 with --smoke), runs one workload for one
measured window in a fresh JVM, and relays its result JSON as the last
stdout line. Everything it writes goes under .bench_build/ in the
repository root.

Workloads: medallion_refresh, registry_reads (see perfbench/README.md).
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath")
STAMP = os.path.join(BUILD, "build.stamp")
# The engine's own JVM options (build.sbt) fix the heap (Xms = Xmx) and
# pre-touch it, so no heap first-touch page fault lands in a timed op; the
# benchmark does the same at 3 GB, enough for its scale-0.01 inputs, rather
# than the engine's 8 GB default.
HEAP = "3g"
RUN_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these (as the engine's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg: str, code: int = 2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    pats = [os.path.join(ROOT, "src", "main", "**", "*"),
            os.path.join(HERE, "src", "**", "*.scala"),
            os.path.join(HERE, "build.sbt")]
    return [f for p in pats for f in glob.glob(p, recursive=True)
            if os.path.isfile(f)]


def ensure_build():
    """Compiles the engine + benchmark when any source is newer than the stamp,
    and records the runtime classpath sbt resolves."""
    engine = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(engine):
        fail(f"engine sources not found under {engine}; run from a checkout")
    srcs = sources()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH) and all(
            os.path.getmtime(f) <= os.path.getmtime(STAMP) for f in srcs):
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join(
        ["-Dsbt.offline=true", "-Xmx2g"] +
        ([f"-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
         if os.path.exists(repos) else [])))
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    # exporting the classpath also copies the resources (the engine's
    # META-INF services and core-site.xml) next to the classes
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True,
                       stdin=subprocess.DEVNULL, timeout=850)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        log.write(p.stdout + p.stderr)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        fail(f"build failed (rc={p.returncode}); see {BUILD}/build.log")
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1])
    with open(STAMP, "w") as f:
        f.write(f"built in {time.time() - t0:.1f} s\n")


def ensure_data(scale: str) -> str:
    data = os.path.join(BUILD, f"data-{scale}")
    if not os.path.isdir(data):
        shutil.rmtree(data + ".tmp", ignore_errors=True)
        subprocess.check_call([sys.executable, os.path.join(HERE, "gendata.py"),
                               data, scale])
    return data


def java_cmd(args, data, work, expected):
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
        "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
        "-Dspark.ui.enabled=false",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = ["java"] + opts + ["-cp", cp, "perfbench.Main",
                             "--workload", args.workload, "--seed", str(args.seed),
                             "--seconds", str(args.seconds),
                             "--trace", str(args.trace), "--data", data,
                             "--work", work, "--expected", expected]
    return cmd + (["--smoke"] if args.smoke else [])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="one op per workload, no warm-up, one set-up")
    ap.add_argument("--expected", default=None,
                    help="expected fingerprints (default: expected/scale-<sf>.json)")
    args = ap.parse_args()
    scale = "0.001" if args.smoke else "0.01"
    expected = args.expected or os.path.join(HERE, "expected", f"scale-{scale}.json")
    if not os.path.isfile(expected):
        fail(f"no expected fingerprints at {expected}")

    ensure_build()
    data = ensure_data(scale)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(BUILD, "work", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    proc = subprocess.Popen(java_cmd(args, data, work, os.path.abspath(expected)),
                            stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with {proc.returncode}")
    result = json.loads(lines[-1])
    # keep the run record and spans; drop the bulky work tree
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    for f in glob.glob(os.path.join(work, name + ".*")):
        shutil.copy(f, runs)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
