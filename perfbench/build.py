"""Build file of the benchmark package: compiles graft's main sources together
with the benchmark's Scala sources (perfbench/scala) into one class
directory, with the Scala compiler that ships in Spark's jars.

The output lives under .bench_build/ at the checkout root, keyed by a hash of
every source file and of the Spark jar listing; a finished build is marked
complete, an interrupted one is never reused. Run directly to build:

    python3 perfbench/build.py
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


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else beside the spark-submit
    on PATH."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in filter(None, homes):
        d = os.path.join(home, "jars")
        if glob.glob(os.path.join(d, "spark-sql_*.jar")) and glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise SystemExit("build: no Spark jars with a Scala compiler found (set SPARK_HOME)")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not main:
        raise SystemExit(f"build: no graft sources under {ROOT}/src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def build():
    """Path of the compiled class directory, compiling when needed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out, jars
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, ".sources")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    print(f"[bench] compiling {len(srcs)} sources ...", file=sys.stderr, flush=True)
    r = subprocess.run(["java", "-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                        "-classpath", cp, "-d", tmp, "-nowarn", "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac exited {r.returncode}")
    os.remove(argfile)
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out, jars


if __name__ == "__main__":
    print(build()[0])
