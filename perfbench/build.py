"""Builds the engine (src/main) and the benchmark driver (perfbench/scala)
from source with the Scala compiler that ships among Spark's jars. The
classes land in .bench_build/classes-<digest of the sources>, so an
unchanged tree is compiled once.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    if not home or not glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        raise BuildError("Spark with its Scala compiler not found; set SPARK_HOME")
    return os.path.join(home, "jars", "*")


def _files(root):
    main = sorted(glob.glob(f"{root}/src/main/scala/**/*.scala", recursive=True))
    if not main:
        raise BuildError(f"no engine sources under {root}/src/main/scala")
    bench = sorted(glob.glob(f"{root}/perfbench/scala/*.scala"))
    res_root = f"{root}/src/main/resources"
    res = sorted(p for p in glob.glob(f"{res_root}/**/*", recursive=True)
                 if os.path.isfile(p))
    return main + bench, res_root, res


def build(root):
    """Returns (classes_dir, source_digest), compiling if needed."""
    srcs, res_root, res = _files(root)
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    out = os.path.join(root, ".bench_build", f"classes-{digest[:16]}")
    if os.path.exists(os.path.join(out, "_BUILD_OK")):
        return out, digest
    jars = spark_jars()
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars, *srcs]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=800)
    except subprocess.TimeoutExpired:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac timed out")
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed:\n{r.stdout[-4000:]}")
    for p in res:
        dst = os.path.join(tmp, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy(p, dst)
    open(os.path.join(tmp, "_BUILD_OK"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, digest


if __name__ == "__main__":
    try:
        print(build(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))[0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
