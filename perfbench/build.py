"""Build file of the benchmark: compiles the engine (`src/main/scala`) and the
benchmark driver (`perfbench/src`) from source with the Scala compiler that
ships in the Spark distribution, into `<out>/classes`.

A build is reused while the sources and the compiler are unchanged (a stamp
of their contents sits next to the classes).

Usage: python3 perfbench/build.py [out_dir]    (default .bench_build)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT_SOURCES = ["src/main/scala", "perfbench/src"]
RESOURCES = "src/main/resources"
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    found = sorted(glob.glob(os.path.join(jars, "*.jar")))
    if not found:
        raise SystemExit(f"no Spark jars under {jars} (set SPARK_HOME)")
    return found


def _sources():
    files = []
    for d in ROOT_SOURCES:
        if not os.path.isdir(d):
            raise SystemExit(f"missing source directory {d}: run from the repository root")
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def _stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    return h.hexdigest()


def build(out_dir=".bench_build"):
    """Compile if needed; returns the directory of compiled classes."""
    jars = spark_jars()
    files = _sources()
    classes = os.path.abspath(os.path.join(out_dir, "classes"))
    stamp_file = os.path.join(out_dir, "classes.stamp")
    stamp = _stamp(files, jars)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler", "scala-library", "scala-reflect"))]
    args_file = os.path.join(out_dir, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(jars), "-d", classes,
           "@" + args_file]
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, classes, dirs_exist_ok=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def java_command(classes, main, work, heap="3g"):
    """The JVM command line. Spark's scratch space, the engine's per-process
    metastore and the JVM's temp dir live under `work`, and the JVM writes
    no perf-data file to /tmp. The heap is fixed (`-Xms` = `-Xmx`), so pass
    times do not drift while it grows."""
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
    cp = ":".join([classes] + spark_jars())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", "-XX:-UsePerfData"] + opens +
            ["-Xms" + heap, "-Xmx" + heap, "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-cp", cp, main])


if __name__ == "__main__":
    print(build(*sys.argv[1:]))
