#!/usr/bin/env python3
"""Run one FRESCO pipeline benchmark workload and print its result line.

    python3 perfbench/run.py --workload fresco --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run compiles the engine and the
benchmark with the Scala compiler of the Spark distribution ($SPARK_HOME,
default /opt/spark); later runs reuse the build while the sources are
unchanged. Every file the run writes stays under perfbench/.work/.
The last stdout line is one JSON object: correct, attempted, failed and
metrics. A failed output check exits non-zero.
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these opens (the same list
# the engine's build passes to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else ""
    return exe if os.path.isfile(exe) and os.access(exe, os.X_OK) else shutil.which("java")


def spark_jars():
    home = os.environ.get("SPARK_HOME") or "/opt/spark"
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler-") for j in jars):
        fail("no Spark distribution with a Scala compiler at %s (set SPARK_HOME)" % home)
    return jars


def sources():
    out = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, dirs, files in sorted(os.walk(top)):
            dirs.sort()
            out += [os.path.join(d, f) for f in sorted(files) if f.endswith((".scala", ".java"))]
    return out


def build():
    """Compile the engine's and the benchmark's main sources in one scalac
    call, with the Scala compiler and the jars of the Spark distribution
    (the engine's only compile dependency); returns the runtime classpath.
    Needs no build tool, network or cache outside the checkout."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(jars).encode())
    want = h.hexdigest()
    classes = os.path.join(WORK, "classes")
    stamp = os.path.join(WORK, "build.stamp")
    cp = os.pathsep.join([classes] + jars)
    if os.path.isdir(classes) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == want:
                return cp
    fresh = os.path.join(WORK, "classes.new-%d" % os.getpid())
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    args = os.path.join(WORK, "scalac-%d.args" % os.getpid())
    with open(args, "w") as fh:
        # scalac splits an @file on white space unless the token is quoted
        fh.write("\n".join('"%s"' % a for a in ["-deprecation", "-nowarn", "-d", fresh, "-classpath",
                                                os.pathsep.join(jars)] + srcs) + "\n")
    cmd = [java(), "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + WORK,
           "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main", "@" + args]
    try:
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        shutil.rmtree(fresh, ignore_errors=True)
        fail("build timed out", 3)
    finally:
        os.remove(args)
    if p.returncode != 0 or not os.path.exists(os.path.join(fresh, "perfbench", "BenchMain.class")):
        sys.stderr.write(p.stdout[-4000:])
        shutil.rmtree(fresh, ignore_errors=True)
        fail("build failed", 3)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    with open(stamp, "w") as fh:
        fh.write(want)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # Spark gets half the CPUs, at most 2; the main thread, JIT compilation
    # and GC get the rest. On a 4-CPU host this was faster and steadier than 4.
    cores = max(1, min(2, len(os.sched_getaffinity(0)) // 2))

    need = os.path.join("src", "main", "scala", "graft", "runner", "Main.scala")
    if not os.path.exists(os.path.join(ROOT, need)):
        fail("no engine sources beside the benchmark (missing %s); run from a full checkout" % need)
    if java() is None:
        fail("java is required (on PATH or in $JAVA_HOME/bin)")
    os.makedirs(WORK, exist_ok=True)
    cp = build()

    run_dir = os.path.join(WORK, "run-%d" % os.getpid())
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    launch_ms = int(time.time() * 1000)
    cmd = ([java(), "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.BenchMain", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", run_dir,
              "--launch-ms", str(launch_ms), "--cores", str(cores)])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail("run exceeded %d s" % RUN_TIMEOUT_S, 4)
    shutil.rmtree(run_dir, ignore_errors=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    last = out.strip().splitlines()[-1] if out.strip() else ""
    if proc.returncode != 0 or not last.startswith("{"):
        sys.exit(proc.returncode or 1)


if __name__ == "__main__":
    main()
