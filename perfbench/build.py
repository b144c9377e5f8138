"""Build file of the benchmark: compiles the engine's sources and the
benchmark client with the Scala compiler that ships in Spark's jars.

    python3 perfbench/build.py        # from the repository root

Output goes to `.bench_build/classes/{main,bench}`. A stamp over the
source contents skips the compile when nothing changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "scala")


def spark_jars():
    """$SPARK_HOME/jars, or the jars beside the spark-submit on PATH: the
    same Spark the sbt build compiles against."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"build: no Spark jars with a Scala compiler under '{jars}' (set SPARK_HOME)")
    return jars


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _compile(files, out, classpath):
    stamp_file = out + ".stamp"
    stamp = _stamp(files)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return False
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit(f"build: scalac failed for {out}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return True


def build():
    """Compile if needed; returns the runtime classpath."""
    main = sources(MAIN_SRC)
    if not main:
        sys.exit(f"build: no engine sources under {MAIN_SRC}")
    jars = os.path.join(spark_jars(), "*")
    main_out = os.path.join(BUILD, "classes", "main")
    bench_out = os.path.join(BUILD, "classes", "bench")
    rebuilt = _compile(main, main_out, jars)
    if rebuilt and os.path.exists(bench_out + ".stamp"):
        os.remove(bench_out + ".stamp")
    _compile(sources(BENCH_SRC), bench_out, os.pathsep.join([main_out, jars]))
    return os.pathsep.join([bench_out, main_out, jars])


if __name__ == "__main__":
    print(build())
