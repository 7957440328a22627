"""Build file of the benchmark: compiles the library under test (the
repository's src/main/scala) and the benchmark harness (perfbench/harness)
with the Scala compiler that ships in Spark's jars directory, the one the
repository's build.sbt compiles against.

Classes go to perfbench/.build/<key>/classes, where the key hashes every
source file, so a changed source rebuilds and an unchanged one is reused.

  python3 perfbench/build.py      # build (or reuse) and print the class dir
"""
import fcntl
import hashlib
import os
import re
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(BENCH, "harness")
BUILD = os.path.join(BENCH, ".build")


class BuildError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars, else the jars directory the repository's build.sbt
    compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        raise BuildError(f"no Spark jars directory at '{jars}' (set SPARK_HOME)")
    return jars


def _sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Return the class directory holding the library and the harness."""
    if not os.path.isdir(LIB_SRC):
        raise BuildError(f"library sources not found: {LIB_SRC}")
    srcs = _sources(LIB_SRC) + _sources(HARNESS_SRC)
    key = hashlib.sha256()
    for p in srcs:
        key.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            key.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD, key.hexdigest()[:16], "classes")
    done = os.path.join(out, ".done")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(done):
            return out
        os.makedirs(out, exist_ok=True)
        argfile = os.path.join(os.path.dirname(out), "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        cp = os.path.join(spark_jars(), "*")
        cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", out, "-cp", cp, "@" + argfile]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True)
        if r.returncode != 0:
            raise BuildError("scalac failed:\n" + r.stdout[-4000:])
        open(done, "w").close()
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
