"""Build file of the benchmark package: compiles the repository's main
sources (src/main/scala) together with the harness (perfbench/scala)
with the Scala compiler that ships in Spark's jars directory, into
``<build dir>/classes-<source hash>``. An unchanged source tree reuses
the earlier build.

Usage: python3 perfbench/build.py [build_dir]   (default .bench_build)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit("perfbench: no Spark installation found (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise SystemExit("perfbench: no java found (set JAVA_HOME)")
    return exe


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit("perfbench: %s not found; run from the repository root" % main)
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return files


def build(root=".", build_dir=".bench_build"):
    files = sources(root)
    jars = spark_jars()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out, jars
    os.makedirs(build_dir, exist_ok=True)
    for stale in glob.glob(os.path.join(build_dir, "classes-*")):
        shutil.rmtree(stale, ignore_errors=True)
    tmp = out + ".tmp%d" % os.getpid()
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = [java(), "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("perfbench: compilation failed")
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, out)
    return out, jars


if __name__ == "__main__":
    print(build(".", sys.argv[1] if len(sys.argv) > 1 else ".bench_build")[0])
