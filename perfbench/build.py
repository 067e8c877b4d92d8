"""Build file of the benchmark: compiles the engine from source plus the
harness under perfbench/src into perfbench/.build/classes.

Usage: python3 perfbench/build.py        (from the repository root)

The compiler is the Scala 2.13 compiler that ships with the Spark jars
(SPARK_HOME/jars), so the build resolves nothing over the network and
writes only under perfbench/.build. A stamp over every source file's path,
size and mtime skips the compile when nothing changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")
CLASSES = os.path.join(OUT, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "src")]


def spark_home():
    """SPARK_HOME, else the first Spark installation whose `spark-submit`
    is on PATH and that ships its jars."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
            if glob.glob(os.path.join(home, "jars", "*.jar")):
                return home
    raise SystemExit("build: set SPARK_HOME or put Spark's spark-submit on "
                     "PATH")


def spark_jars():
    home = spark_home()
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        raise SystemExit(f"build: no Spark jars under {home}/jars")
    return jars


def classpath():
    """Runtime classpath: the compiled classes, then the Spark jars."""
    return os.pathsep.join([CLASSES] + spark_jars())


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"build: missing source directory {d}")
        out += sorted(glob.glob(os.path.join(d, "**", "*.scala"),
                                recursive=True))
    return out


def stamp(srcs):
    h = hashlib.sha256()
    for s in srcs:
        st = os.stat(s)
        h.update(f"{s}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    srcs = sources()
    st = stamp(srcs)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == st:
        return
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-deprecation:false",
           "-release", "17", "-d", CLASSES,
           "-classpath", os.pathsep.join(jars), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        shutil.rmtree(OUT, ignore_errors=True)
        raise SystemExit(f"build: scalac exited {r.returncode}")
    with open(stamp_file, "w") as f:
        f.write(st)


if __name__ == "__main__":
    build()
