"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark's (`perfbench/src`) into
`.bench_build/classes`, with the Scala compiler that ships in the Spark
distribution's `jars/` directory (found through `SPARK_HOME`, else through
`spark-submit` on the PATH). The build is skipped when a stamp over every
source file matches the last build.

    python3 perfbench/build.py        # build (or confirm up to date)
"""

import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("no Spark distribution found: set SPARK_HOME")
    return jars


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"program sources not found at {PROGRAM_SRC}")
    found = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return os.pathsep.join([CLASSES, os.path.join(spark_jars(), "*")])


def ensure_built(log=sys.stderr):
    """Compiles if any source changed; returns the runtime classpath."""
    files = sources()
    want = stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read().strip() == want:
        return classpath()
    jars = os.path.join(spark_jars(), "*")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    print(f"[build] compiling {len(files)} sources", file=log, flush=True)
    argfile = os.path.join(OUT, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(["-nowarn", "-classpath", jars, "-d", CLASSES] + files))
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", jars,
                        "scala.tools.nsc.Main", "@" + argfile],
                       stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError("compilation failed")
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    return classpath()


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(1)
