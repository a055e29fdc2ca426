"""Compiles graft and the benchmark harness with the Scala compiler that
ships in Spark's jar directory (no sbt, nothing written outside the build
directory). Two stages, each skipped when its sources are unchanged:
graft's `src/main/scala` (plus `src/main/resources`), then `perfbench/src`
against it. Both are then packed into jars, which run.py puts on the class
path together with a class-data-sharing archive (run.py creates it on the
first run after a build). Run directly to build: `python3 perfbench/build.py`."""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def spark_jars():
    """Spark's jar directory with the Scala compiler: $SPARK_HOME/jars, else
    the one beside a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        launcher = os.path.join(d, "spark-submit")
        if os.path.isfile(launcher):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(launcher))))
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise RuntimeError("no Spark jars with a Scala compiler found; set SPARK_HOME")


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _stage(name, srcs, out, classpath, log):
    stamp = os.path.join(out, ".stamp")
    # A stage rebuilds when its sources, this file or an upstream stage change.
    digest = _digest(srcs + [__file__] + [os.path.join(c, ".stamp") for c in classpath[1:]])
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    if not srcs:
        raise RuntimeError(f"{name}: no Scala sources found")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    tmp = os.path.join(out, ".tmp")
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Xss8m", "-Xmx2g",
           "-cp", os.path.join(classpath[0], "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if len(classpath) > 1:
        cmd += ["-classpath", os.pathsep.join(classpath[1:])]
    with open(log, "a") as lf:
        rc = subprocess.run(cmd + srcs, stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise RuntimeError(f"{name}: scalac failed (exit {rc}), see {log}")
    shutil.rmtree(tmp, ignore_errors=True)
    with open(stamp, "w") as fh:
        fh.write(digest)


def _jar(classes, jar):
    stamp = os.path.join(classes, ".stamp")
    if os.path.exists(jar) and os.path.exists(jar + ".stamp") and \
            open(jar + ".stamp").read() == open(stamp).read():
        return
    tmp = jar + ".tmp"
    subprocess.run(["jar", "-J-XX:-UsePerfData", "cf", tmp, "-C", classes, "."], check=True)
    os.replace(tmp, jar)
    shutil.copy(stamp, jar + ".stamp")


def build(root, out_dir):
    """Builds into out_dir; returns the runtime class path entries."""
    jars = spark_jars()
    os.makedirs(out_dir, exist_ok=True)
    log = os.path.join(out_dir, "build.log")
    graft_out = os.path.join(out_dir, "graft-classes")
    bench_out = os.path.join(out_dir, "bench-classes")
    _stage("graft", _sources(os.path.join(root, "src", "main", "scala")), graft_out, [jars], log)
    resources = os.path.join(root, "src", "main", "resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, graft_out, dirs_exist_ok=True)
    _stage("perfbench", _sources(os.path.join(root, "perfbench", "src")), bench_out,
           [jars, graft_out], log)
    graft_jar = os.path.join(out_dir, "graft.jar")
    bench_jar = os.path.join(out_dir, "perfbench.jar")
    _jar(graft_out, graft_jar)
    _jar(bench_out, bench_jar)
    return [bench_jar, graft_jar, os.path.join(jars, "*")]


if __name__ == "__main__":
    print(os.pathsep.join(build(os.getcwd(), os.path.join(os.getcwd(), ".bench_build", "perfbench"))))
    sys.exit(0)
