#!/usr/bin/env python3
"""iGrid benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the engine and the
harness from source with sbt (output under .bench_build/), later calls reuse
the build while the sources are unchanged. Each call starts one JVM that runs
one workload, checks its outputs, and writes a result document; this script
prints the workload's detail line and then, as the last line of stdout, the
result object {"correct", "attempted", "failed", "metrics"}.

Workloads: grid_stream, dashboard_tiles, catalog (see perfbench/NOTES.md).
Exit code 0 only when a complete result was produced.
"""
import argparse
import hashlib
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("grid_stream", "dashboard_tiles", "catalog")
JVM_TIMEOUT_S = 165  # a run must exit within 180 s

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: engine sources, harness sources and
    build definitions. A changed tree rebuilds; an unchanged one reuses."""
    h = hashlib.sha256()
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in ("build.sbt", "project/build.properties"):
        with open(os.path.join(HERE, p), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout so
    nothing outlives this script."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def spark_home():
    """The Spark installation whose jars the build compiles against: the
    first spark-submit on PATH that sits in a directory with a jars/ folder
    (a pip-installed pyspark launcher does not)."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
            if os.path.isdir(os.path.join(home, "jars")):
                return home
    fail("Spark not found: set SPARK_HOME or put Spark's bin/ on PATH")


def build():
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC, ROOT)}")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true",
                          "compile", "export Runtime/fullClasspath"],
                         timeout=840, cwd=HERE, env=env, stdout=out,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    lines = open(log).read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (rc={rc}), log in {os.path.relpath(log, ROOT)}")
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if not cps:
        fail("build produced no classpath")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1].strip()


def catalog_tables():
    """The fixed catalog tables (independent of --seed; the seed orders the
    queries). Generated once per checkout by gen_tables.py."""
    out = os.path.join(BUILD, "data", "catalog")
    if not os.path.exists(os.path.join(out, "_DONE")):
        shutil.rmtree(out, ignore_errors=True)
        rc = run_bounded([sys.executable, os.path.join(HERE, "gen_tables.py"), out],
                         timeout=300, stdin=subprocess.DEVNULL)
        if rc != 0:
            fail("catalog table generation failed")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath = build()
    tables = catalog_tables()
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    result = os.path.join(run_dir, "result.json")
    # every scratch location of the JVM, Spark and Hadoop points into the run
    # directory, which is removed afterwards
    jvm = (["java", "-Xmx4g", "-Xss32m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dspark.hadoop.hadoop.tmp.dir={run_dir}/tmp",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={run_dir}/tmp",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            "-Dlog4j2.level=WARN"]
           + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work-dir", run_dir, "--tables", tables,
              "--bench-dir", HERE, "--result", result])
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_LOCAL_DIRS=f"{run_dir}/tmp")
    t0 = time.time()
    try:
        rc = run_bounded(jvm, timeout=JVM_TIMEOUT_S, cwd=run_dir, env=env,
                         stdin=subprocess.DEVNULL, stdout=sys.stderr)
        if rc is None:
            fail(f"workload exceeded {JVM_TIMEOUT_S} s and was stopped")
        if rc != 0 or not os.path.exists(result):
            fail(f"workload JVM exited with {rc}")
        with open(result) as fh:
            doc = json.load(fh)
        os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
        keep = os.path.join(BUILD, "results",
                            f"{args.workload}-s{args.seed}-t{args.trace}.json")
        shutil.copy(result, keep)
        spans = os.path.join(run_dir, "spans.json")
        if os.path.exists(spans):
            shutil.copy(spans, keep[:-5] + "-spans.json")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "wall_s": round(time.time() - t0, 3), "detail": doc["detail"]}))
    print(json.dumps(doc["result"]))


if __name__ == "__main__":
    main()
