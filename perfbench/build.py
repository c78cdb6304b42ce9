"""Build file of the benchmark package.

Compiles the program (`src/main/scala`, plus `src/main/resources`) and the
benchmark's JVM runner (`perfbench/src`) with the Scala compiler that ships in
Spark's own jar directory, into `.bench_build/classes`. No sbt, no
dependency resolution: the program's main code needs only Spark's jars.

A build is reused while the hash of every source file is unchanged.

    python3 perfbench/build.py        # build (or confirm) and print the classpath
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
# Matches org.apache.spark.launcher.JavaModuleOptions for JDK 17.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        raise BuildError("SPARK_HOME must point at a Spark install whose jars/ "
                         "holds the Scala compiler")
    return os.path.join(home, "jars", "*")


def _files(*dirs, suffixes=(".scala", ".java")):
    out = []
    for d in dirs:
        for base, _, files in os.walk(os.path.join(ROOT, d)):
            out += [os.path.join(base, f) for f in files
                    if suffixes is None or f.endswith(suffixes)]
    return sorted(out)


def _hash(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _scalac(jars, classpath, out, srcs):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if classpath:
        cmd += ["-cp", classpath]
    r = subprocess.run(cmd + ["@" + argfile], cwd=ROOT,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        raise BuildError(f"scalac failed for {out}:\n{r.stdout[-4000:]}")


def java_command(cp, work, args):
    """The benchmark JVM: a 3 GiB heap ceiling, and scratch and Spark
    local dirs inside `work`."""
    return ["java", "-Xms1g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
            *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/spark-local",
            f"-Dderby.system.home={work}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main", *args]


def build():
    """Return the runtime classpath, compiling what changed."""
    jars = spark_jars()
    main_srcs = _files("src/main/scala", "src/main/java")
    bench_srcs = _files("perfbench/src")
    resources = _files("src/main/resources", suffixes=None)
    if not main_srcs:
        raise BuildError("no program sources under src/main/scala")
    os.makedirs(BUILD, exist_ok=True)
    main_out = os.path.join(CLASSES, "main")
    bench_out = os.path.join(CLASSES, "bench")
    cp = os.pathsep.join([main_out, bench_out, jars])
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        for out, srcs, dep in ((main_out, main_srcs, None),
                              (bench_out, bench_srcs, main_out)):
            stamp = out + ".stamp"
            digest = _hash(srcs + resources + ([] if dep is None else main_srcs))
            if os.path.exists(stamp) and open(stamp).read() == digest:
                continue
            if os.path.exists(stamp):
                os.remove(stamp)
            shutil.rmtree(out, ignore_errors=True)
            _scalac(jars, dep, out, srcs)
            if dep is None:
                res = os.path.join(ROOT, "src", "main", "resources")
                if os.path.isdir(res):
                    shutil.copytree(res, out, dirs_exist_ok=True)
            with open(stamp, "w") as f:
                f.write(digest)
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
