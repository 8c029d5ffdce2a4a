"""Build the program and the benchmark harness from source.

Compiles the repository's `src/main/scala` and then `perfbench/harness`
with the Scala 2.13 compiler that ships in the Spark distribution's jar
directory ($SPARK_HOME/jars), into `perfbench/.build/`. A stamp of every source file's
content skips the build when nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, ".build")


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, or the
    one beside the `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Spark jars with a Scala compiler under {jars!r}; set SPARK_HOME")
    return jars


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(jars, classpath, dest, files, log):
    os.makedirs(dest, exist_ok=True)
    argfile = dest + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", dest, "@" + argfile]
    with open(log, "a") as lf:
        r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise SystemExit(f"scalac failed for {dest}; see {log}")


def build():
    """Return the runtime classpath, compiling first if needed."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    prog, harness = sources(main_src), sources(os.path.join(BENCH, "harness"))
    if not prog:
        raise SystemExit(f"no program sources under {main_src}")
    jars = spark_jars()
    main_out, harness_out = os.path.join(OUT, "main"), os.path.join(OUT, "harness")
    classpath = os.pathsep.join([harness_out, main_out, os.path.join(jars, "*")])
    key = stamp(prog + harness)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == key:
        return classpath
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(OUT)
    log = os.path.join(OUT, "build.log")
    scalac(jars, os.path.join(jars, "*"), main_out, prog, log)
    scalac(jars, os.pathsep.join([main_out, os.path.join(jars, "*")]),
           harness_out, harness, log)
    with open(stamp_file, "w") as fh:
        fh.write(key)
    return classpath


if __name__ == "__main__":
    print(build())
    sys.exit(0)
