"""Build file of the benchmark.

Compiles the engine's sources (src/main/scala, plus src/main/resources)
together with the benchmark's own (perfbench/src) into one jar,
.bench_build/perfbench.jar, using the Scala compiler that ships among
Spark's jars. Nothing is downloaded. A rebuild happens only when a source
file changes. Run from the root of a checkout:

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(OUT, "perfbench.jar")
STAMP = os.path.join(OUT, "perfbench.jar.sha256")
SOURCE_DIRS = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "src")]
RESOURCES = os.path.join("src", "main", "resources")


class BuildError(Exception):
    pass


def spark_jars():
    """The directory of Spark's jars: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(os.path.join(ROOT, d)):
            raise BuildError(f"missing source directory {d}: run from the root of a full checkout")
        for base, _, names in os.walk(os.path.join(ROOT, d)):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def resources():
    out = []
    for base, _, names in os.walk(os.path.join(ROOT, RESOURCES)):
        out += [os.path.join(base, n) for n in names]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build_id():
    """Digest of the jar's sources, or None when it is not built."""
    return open(STAMP).read() if os.path.exists(JAR) and os.path.exists(STAMP) else None


def build():
    """Returns the classpath entries (benchmark jar, Spark jars glob)."""
    jars = spark_jars()
    srcs = sources()
    res = resources()
    want = digest(srcs + res)
    if build_id() == want:
        return [JAR, os.path.join(jars, "*")]
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    for f in res:
        dst = os.path.join(tmp, os.path.relpath(f, os.path.join(ROOT, RESOURCES)))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    # a jar, not a directory: class-data sharing archives only jar classes
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for base, _, names in os.walk(tmp):
            for n in sorted(names):
                f = os.path.join(base, n)
                z.write(f, os.path.relpath(f, tmp))
    shutil.rmtree(tmp)
    os.replace(JAR + ".tmp", JAR)
    with open(STAMP, "w") as fh:
        fh.write(want)
    return [JAR, os.path.join(jars, "*")]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
