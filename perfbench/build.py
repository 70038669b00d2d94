"""Build step of the benchmark: compile the library and the benchmark.

The library's sources (src/main/scala) and the benchmark's own
(perfbench/src) are compiled together with the Scala compiler that ships
in the Spark distribution's jars, so no dependency resolution happens.
Classes go to .bench_build/perfbench/classes-<hash>, keyed by a hash of
every source file; an unchanged tree reuses the last build.
"""

import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
LIB_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        sys.exit("perfbench: cannot find the Spark jars (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else None
    return exe if exe and os.path.exists(exe) else "java"


def sources():
    if not os.path.isdir(LIB_SRC):
        sys.exit(f"perfbench: no library sources at {os.path.relpath(LIB_SRC, ROOT)}")
    out = []
    for top in (LIB_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def ensure_built():
    """Compile if needed; return the runtime classpath."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    jars = spark_jars()
    if not os.path.exists(os.path.join(classes, ".ok")):
        os.makedirs(BUILD, exist_ok=True)
        for old in os.listdir(BUILD):
            if old.startswith("classes-"):
                shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cp = os.path.join(jars, "*")
        cmd = [java(), "-Xmx2g", "-Xss16m", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]
        print("perfbench: compiling %d source files" % len(srcs), file=sys.stderr)
        r = subprocess.run(cmd, stdout=sys.stderr)
        if r.returncode != 0:
            shutil.rmtree(classes, ignore_errors=True)
            sys.exit("perfbench: compile failed")
        open(os.path.join(classes, ".ok"), "w").close()
    return os.pathsep.join([classes, LIB_RES, os.path.join(jars, "*")])


if __name__ == "__main__":
    print(ensure_built())
