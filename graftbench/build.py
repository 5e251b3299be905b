"""Build file of the benchmark: compiles graft (src/main/scala) together with
the benchmark's own sources (graftbench/src) into .bench_build/graftbench,
packs the classes into a jar, and records a class-data archive of the
classes a tiny ann_online run loads, so that each run starts its JVM and
Spark faster.

The compiler is the Scala 2.13 one that ships with Spark's jars, so the
build needs neither sbt nor a network. A stamp over every source file's
path and bytes skips the build when nothing changed.

    python3 graftbench/build.py      # from the repository root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
TRAIN_TIMEOUT_S = 400

# Spark 4 on JDK 17 outside spark-submit needs these opens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars(root):
    """$SPARK_HOME/jars, else the directory the project's build.sbt names as
    its unmanagedBase (Spark ships there, not through a resolver)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("graftbench: set SPARK_HOME; build.sbt names no unmanagedBase")
    return m.group(1)


def sources(root):
    out = []
    for top in (os.path.join(root, "src", "main", "scala"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def classpath(root):
    return os.path.join(build_dir(root), "graftbench.jar") + os.pathsep + os.path.join(spark_jars(root), "*")


def build_dir(root):
    return os.path.join(root, ".bench_build", "graftbench")


def archive(root):
    return os.path.join(build_dir(root), "classes.jsa")


def java(root, work, main, share=True):
    """The JVM command line of a run in `work`. A fixed heap and the
    parallel collector: under G1 the pass times of the driver-bound
    ann_online varied by a quarter from JVM to JVM. No perf-data file: the
    JVM would write it under /tmp, outside the checkout."""
    cmd = ["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xss8m",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"), "-Dspark.ui.enabled=false"]
    if share and os.path.exists(archive(root)):
        cmd.append("-XX:SharedArchiveFile=" + archive(root))
    for o in ADD_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    return cmd + ["-cp", classpath(root), main]


def pack(classes, jar):
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                path = os.path.join(d, f)
                z.write(path, os.path.relpath(path, classes))


def train(root):
    """Records the class-data archive; without it runs are slower, not wrong."""
    work = os.path.join(build_dir(root), "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java(root, work, "graftbench.Main", share=False)
    cmd.insert(1, "-XX:ArchiveClassesAtExit=" + archive(root))
    cmd += ["--workload", "ann_online", "--seed", "1", "--seconds", "1", "--trace", "0",
            "--work", work, "--out", os.path.join(work, "results"), "--tiny"]
    print("graftbench: recording the class-data archive", file=sys.stderr)
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    try:
        ok = proc.wait(timeout=TRAIN_TIMEOUT_S) == 0
    except subprocess.TimeoutExpired:
        ok = False
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if not ok:
        print("graftbench: no class-data archive; runs start slower", file=sys.stderr)
        if os.path.exists(archive(root)):
            os.remove(archive(root))


def ensure_built(root):
    """Compiles when the sources changed; returns False when the build fails."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        print("graftbench: no src/main/scala here; run from the repository root",
              file=sys.stderr)
        return False
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(build_dir(root), "stamp")
    classes = os.path.join(build_dir(root), "classes")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == h.hexdigest():
                return True
    shutil.rmtree(classes, ignore_errors=True)
    for f in (archive(root), stamp):
        if os.path.exists(f):
            os.remove(f)
    os.makedirs(classes)
    argfile = os.path.join(build_dir(root), "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(spark_jars(root), "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-d", classes, "-classpath", cp, "-nowarn", "@" + argfile]
    print("graftbench: compiling %d sources" % len(srcs), file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        return False
    pack(classes, os.path.join(build_dir(root), "graftbench.jar"))
    train(root)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return True


if __name__ == "__main__":
    sys.exit(0 if ensure_built(os.getcwd()) else 1)
