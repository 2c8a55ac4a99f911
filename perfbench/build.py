"""Build file of the benchmark: compiles the library (`src/main/scala`)
and the harness (`perfbench/scala`) into `<build dir>/classes` with the
Scala compiler that ships in the Spark distribution (`$SPARK_HOME/jars`,
or the one whose `spark-submit` is on PATH). No build tool and no
download: the classpath is exactly the Spark jars. A build is skipped while the sources hash to the
stamp of the last one.

    python3 perfbench/build.py [build dir]     # default .bench_build
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


class BenchError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or ".", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BenchError(f"no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def sources(root):
    lib = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                           recursive=True))
    if not lib:
        raise BenchError("src/main/scala not found: run from the repository root")
    return lib + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def build(root, build_dir, jars):
    """Compiles the library and the harness with the Scala compiler that
    ships in the Spark distribution; skipped when the sources are
    unchanged since the last build."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    res = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", cp] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=800)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise BenchError("compilation failed")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else ".bench_build"
    print(build(os.getcwd(), os.path.abspath(out), spark_jars()))
