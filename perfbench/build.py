"""Build file of the benchmark: compiles graft's main sources together
with the benchmark's Scala sources into ``.bench_build/classes`` with the
Scala compiler that ships among the Spark jars (no sbt: a plain
``scalac`` run is the whole build, and the measuring JVM then starts with
``java -cp`` alone).

The build is skipped when a stamp of every source file's content matches
the last successful build.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """The Spark jar directory the repository builds against: build.sbt's
    ``unmanagedBase``, else ``$SPARK_HOME/jars``."""
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    home = os.environ.get("SPARK_HOME", "")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sys.exit("perfbench: no Spark jars (build.sbt unmanagedBase or SPARK_HOME)")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        sys.exit("perfbench: no graft sources under src/main/scala "
                 "(run from the root of a graft checkout)")
    return main + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def ensure(root):
    """Return the classes directory, compiling first when sources changed."""
    out_root = os.path.join(root, ".bench_build")
    classes = os.path.join(out_root, "classes")
    srcs = sources(root)
    jars = spark_jars(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(out_root, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes, jars
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit(f"perfbench: compilation failed ({r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, jars


if __name__ == "__main__":
    print(ensure(os.getcwd())[0])
