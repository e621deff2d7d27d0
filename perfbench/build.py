"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the harness (`perfbench/harness`) with the Scala compiler that ships in
Spark's jar directory, into `$CARGO_TARGET_DIR/perfbench` (default
`.bench_build/perfbench`). A build is reused while no source changed.

    python3 perfbench/build.py          # build, print the class path
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise RuntimeError(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def _sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness/*.scala")))
    if not main:
        raise RuntimeError(f"no engine sources under {root}/src/main/scala")
    return main, harness


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(jars, classpath, out, files):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise RuntimeError("compile failed:\n" + r.stdout[-4000:])


def build(root):
    """Compiles if needed; returns the class path the harness runs with."""
    jars = spark_jars()
    main, harness = _sources(root)
    base = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    out = os.path.join(base, _digest(main + harness)[:16])
    classpath = os.pathsep.join([os.path.join(out, "harness"), os.path.join(out, "main"),
                                 os.path.join(jars, "*")])
    if os.path.exists(os.path.join(out, "OK")):
        return classpath
    if os.path.isdir(base):
        shutil.rmtree(base)
    tmp = out + ".tmp"
    _scalac(jars, os.path.join(jars, "*"), os.path.join(tmp, "main"), main)
    _scalac(jars, os.pathsep.join([os.path.join(tmp, "main"), os.path.join(jars, "*")]),
            os.path.join(tmp, "harness"), harness)
    os.rename(tmp, out)
    open(os.path.join(out, "OK"), "w").close()
    return classpath


if __name__ == "__main__":
    print(build(os.getcwd()))
    sys.exit(0)
