"""Builds the program and the benchmark's JVM side with the Scala compiler
that ships among the program's Spark jars, no sbt needed.

The program (src/main: Scala, Java stubs, resources) and the benchmark's
own sources (perfbench/src) compile into two jars under
.bench_build/perfbench/classes/<key>, where <key> hashes every source file
and the jar list, so a checkout builds once and reuses them on every later
run. The build ends with a short training run that dumps the classes it
loaded into a class-data-sharing archive (app.jsa): every measured JVM maps
it, which takes class loading out of each run's set-up time the same way
for every run.

Usage: python3 perfbench/build.py   (prints the classpath it built)
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def _sbt_setting(root, pattern):
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(pattern, f.read())
    if not m:
        raise SystemExit(f"build.sbt has no setting matching {pattern}")
    return m.group(1)


def spark_jars(root):
    """The jars the program builds against: the directory its build.sbt
    names as `unmanagedBase`."""
    jar_dir = _sbt_setting(root, r'unmanagedBase\s*:=\s*file\("([^"]+)"\)')
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        raise SystemExit(f"no jars under {jar_dir}")
    return jars


def _files(root, exts):
    out = []
    for d, _, names in os.walk(root):
        out += [os.path.join(d, n) for n in names if n.endswith(exts)]
    return sorted(out)


def _key(paths, jars):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(jars).encode())
    return h.hexdigest()[:16]


def _scalac(root, jars, out, classpath, sources):
    """The Scala compiler of build.sbt's scalaVersion, taken from the jars."""
    version = _sbt_setting(root, r'scalaVersion\s*:=\s*"([^"]+)"')
    names = {f"scala-{m}-{version}.jar" for m in ("compiler", "library", "reflect")}
    compiler = [j for j in jars if os.path.basename(j) in names]
    subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
                    "scala.tools.nsc.Main", "-nowarn", "-encoding", "UTF-8",
                    "-d", out, "-classpath", classpath] + sources, check=True)


def _jar(classes, path):
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for f in _files(classes, ("",)):
            z.write(f, os.path.relpath(f, classes))


def java_cmd(build_dir, classpath, work):
    """The JVM command line every measured run starts with."""
    jsa = os.path.join(build_dir, "app.jsa")
    share = [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else []
    return ["java"] + JVM_OPTS + share + [
        f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
        "-cp", ":".join(classpath)]


def _train(build_dir, classpath):
    """Dumps the class-data-sharing archive from a short training run."""
    work = os.path.join(build_dir, "train")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + JVM_OPTS + [f"-XX:ArchiveClassesAtExit={build_dir}/app.jsa",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
           "-cp", ":".join(classpath), "perfbench.PerfBench", "--workload", "train",
           "--seconds", "1", "--trace", "0", "--seed", "0",
           "--out", os.path.join(work, "raw.json"), "--work", work,
           "--cpus", str(len(os.sched_getaffinity(0)))])
    with open(os.path.join(build_dir, "train.log"), "w") as log:
        subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, check=True, timeout=300)
    shutil.rmtree(work)


def build(root):
    """Compiles if needed; returns (build dir, classpath to run the benchmark with).
    A lock file makes a concurrent build wait for the first one."""
    os.makedirs(os.path.join(root, ".bench_build", "perfbench"), exist_ok=True)
    with open(os.path.join(root, ".bench_build", "perfbench", "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build(root)


def _build(root):
    main = os.path.join(root, "src", "main")
    if not os.path.isdir(os.path.join(main, "scala")):
        raise SystemExit(f"program sources not found under {main}")
    bench_src = os.path.join(root, "perfbench", "src")
    jars = spark_jars(root)
    program = _files(main, (".scala", ".java"))
    resources = _files(os.path.join(main, "resources"), ("",))
    bench = _files(bench_src, (".scala",))
    key = _key(program + resources + bench + [os.path.abspath(__file__)], jars)
    base = os.path.join(root, ".bench_build", "perfbench", "classes")
    final = os.path.join(base, key)
    if os.path.isdir(final):
        return final, _classpath(final, jars)
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    prog_out, bench_out = os.path.join(tmp, "program"), os.path.join(tmp, "bench")
    os.makedirs(prog_out)
    os.makedirs(bench_out)
    jar_cp = ":".join(jars)
    _scalac(root, jars, prog_out, jar_cp, program)
    java = [p for p in program if p.endswith(".java")]
    if java:
        subprocess.run(["javac", "-J-XX:-UsePerfData", "-nowarn", "-encoding", "UTF-8", "-d", prog_out,
                        "-cp", jar_cp + ":" + prog_out] + java, check=True)
    res_root = os.path.join(main, "resources")
    for r in resources:
        dst = os.path.join(prog_out, os.path.relpath(r, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    _scalac(root, jars, bench_out, prog_out + ":" + jar_cp, bench)
    # the archive only takes classes from jars, and it records their paths
    _jar(prog_out, os.path.join(tmp, "program.jar"))
    _jar(bench_out, os.path.join(tmp, "bench.jar"))
    shutil.rmtree(prog_out)
    shutil.rmtree(bench_out)
    # keep only the newest build: older keys belong to stale sources
    for old in glob.glob(os.path.join(base, "*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.replace(tmp, final)
    try:
        _train(final, _classpath(final, jars))
    except BaseException:
        shutil.rmtree(final, ignore_errors=True)
        raise
    return final, _classpath(final, jars)


def _classpath(build_dir, jars):
    return [os.path.join(build_dir, "program.jar"), os.path.join(build_dir, "bench.jar")] + jars


if __name__ == "__main__":
    print(":".join(build(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))[1]))
    sys.exit(0)
