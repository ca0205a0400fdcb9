"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's own Scala sources (perfbench/src) with the Scala compiler that
ships among the Spark jars, into .bench_build/classes-<source hash>.

A build is reused while no source file changes. Run directly to build:

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH, "src")
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The jars of $SPARK_HOME, else of the first Spark installation on PATH
    that ships the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        if os.path.isfile(os.path.join(d, "spark-submit")):
            homes.append(os.path.dirname(os.path.realpath(d)))
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.exists(os.path.join(jars, "scala-compiler-2.13.17.jar")):
            return jars
    return os.path.join(homes[0], "jars")


SPARK_JARS = spark_jars()


class BuildError(Exception):
    pass


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources not found at {ENGINE_SRC}")
    found = []
    for top in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def compiler_jars():
    jars = [os.path.join(SPARK_JARS, f"scala-{m}-2.13.17.jar")
            for m in ("compiler", "library", "reflect")]
    missing = [j for j in jars if not os.path.exists(j)]
    if missing:
        raise BuildError(f"scala compiler jars not found: {missing}")
    return jars


def classpath(*dirs):
    return os.pathsep.join(list(dirs) + [os.path.join(SPARK_JARS, "*")])


def build(log=sys.stderr):
    """Compile if needed; return the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".done")):
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler_jars()),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath(),
           "-d", classes, "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=840)
    if r.returncode != 0:
        raise BuildError(f"scalac exited {r.returncode}")
    open(os.path.join(classes, ".done"), "w").close()
    for old in os.listdir(OUT):
        if old.startswith("classes-") and old != os.path.basename(classes):
            shutil.rmtree(os.path.join(OUT, old), ignore_errors=True)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
