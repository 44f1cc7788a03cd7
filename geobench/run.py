#!/usr/bin/env python3
"""Run one geobench workload from the root of a source checkout.

    python3 geobench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark with sbt on first use (and
whenever their sources change), runs the workload in one JVM against
local[nproc] Spark, and prints the run's JSON result as the last line of
stdout. All state stays under .bench_build/ in the checkout: the build,
a run-scoped work directory (catalog roots, generated files, Spark's
local directories; deleted after the run), per-run logs and traced-run
artifacts.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt-target", "scala-2.13", "classes")
STAMP = os.path.join(BUILD, "build.stamp")
WORKLOADS = ("xyz_browse", "cube_timeseries")
HEAP = "4g"
RUN_TIMEOUT_S = 170
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


def fail(msg, code):
    print(f"geobench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def source_hash():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """$SPARK_HOME, else the installation `spark-submit` on the PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME or put spark-submit on the PATH", 2)
    return home


def ensure_built():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from a checkout root", 2)
    digest = source_hash()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        code = run_group(["sbt", "--batch", "-Dsbt.server.autostart=false",
                          "-Dsbt.log.noformat=true", "compile"],
                         cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                         timeout=BUILD_TIMEOUT_S)
    if code != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed (exit {code}); see {log}", 3)
    with open(STAMP, "w") as fh:
        fh.write(digest)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout
    and always wait for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def main():
    # a terminated runner must still take its build or JVM down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    ensure_built()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}")
    trace_dir = os.path.join(BUILD, "trace", f"{a.workload}-seed{a.seed}")
    logs = os.path.join(BUILD, "logs")
    for d in (work, os.path.join(work, "tmp"), logs):
        os.makedirs(d, exist_ok=True)
    spark_jars = os.path.join(spark_home(), "jars", "*")
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}{os.pathsep}{spark_jars}", "geobench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--trace-dir", trace_dir]
    out_path = os.path.join(work, "stdout")
    try:
        with open(out_path, "w") as out, open(os.path.join(logs, f"{tag}.log"), "w") as err:
            code = run_group(cmd, timeout=RUN_TIMEOUT_S, cwd=ROOT, stdout=out, stderr=err)
        with open(out_path) as fh:
            lines = [l for l in fh.read().splitlines() if l.startswith("{")]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not lines:
        fail(f"run produced no result (exit {code}); see {os.path.join(logs, tag + '.log')}", 4)
    print(lines[-1])
    sys.exit(code)


if __name__ == "__main__":
    main()
