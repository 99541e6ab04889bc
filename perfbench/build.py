"""Build file of the benchmark: compiles the program (src/main/scala) and the
JVM harness (perfbench/scala) with the Scala compiler shipped in the Spark
distribution, into <build dir>/classes. A content hash of every source makes
repeated runs skip the compile.

    python3 perfbench/build.py      # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars(root):
    """The Spark distribution's jars: $SPARK_HOME/jars, else the directory
    build.sbt names as unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME (no Spark jars directory found)")
    return m.group(1)


def classpath(root):
    return os.path.join(spark_jars(root), "*")


def sources(root):
    return sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True) +
                  glob.glob(os.path.join(root, "perfbench/scala/**/*.scala"), recursive=True))


def build(root):
    """Compile if any source changed; return the classes directory."""
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        raise SystemExit("perfbench: no program sources under src/main/scala")
    jars = spark_jars(root)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler in {jars}")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(root), "classes")
    stamp_file = os.path.join(build_dir(root), "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = classpath(root)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
