"""Builds the engine and the benchmark harness from source.

Compiles `src/main/scala`, `src/main/java` and `perfbench/scala` with the
Scala compiler that ships in Spark's `jars/` directory (no sbt, no network)
into `.bench_build/classes`. A stamp of every source file's path and bytes
skips the build when nothing changed.

Spark is found through `SPARK_HOME`, else through `spark-submit` on `PATH`.

Usage: python3 perfbench/build.py   (from the root of a checkout)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SOURCE_DIRS = ["src/main/scala", "src/main/java", "perfbench/scala"]
OUT_DIR = ".bench_build"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME (no spark-submit on PATH)")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler in {jars}")
    return jars


def sources(root):
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(os.path.join(root, d)):
            raise SystemExit(f"perfbench: {d} not found; run from the root of a checkout")
        for dirpath, _, names in os.walk(os.path.join(root, d)):
            files += [os.path.join(dirpath, n) for n in names
                      if n.endswith((".scala", ".java"))]
    return sorted(files)


def ensure(root):
    """Returns the classes directory, compiling first when sources changed."""
    jars = spark_jars()
    files = sources(root)
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(root, OUT_DIR)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, jars
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    java = [f for f in files if f.endswith(".java")]
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                    "-nowarn", "-encoding", "UTF-8", "-d", tmp, "-classpath", cp] + files,
                   check=True, stdout=sys.stderr)
    if java:
        subprocess.run(["javac", "-nowarn", "-encoding", "UTF-8", "-d", tmp,
                        "-cp", tmp + os.pathsep + cp] + java, check=True,
                       stdout=sys.stderr)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes, jars


if __name__ == "__main__":
    try:
        print(ensure(os.getcwd())[0])
    except subprocess.CalledProcessError as e:
        sys.exit(f"perfbench: build failed: {e}")
