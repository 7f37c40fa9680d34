"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's JVM side (perfbench/src) from source with the Scala
compiler that ships in Spark's jars directory, into
.bench_build/classes-<hash of the sources>. A tree that is already built
for the same sources is reused.

  python3 perfbench/build.py        # builds, prints the classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


class BuildError(Exception):
    pass


def spark_home():
    """$SPARK_HOME, else the first spark-submit on PATH that sits in a
    Spark installation (bin/ next to jars/)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.realpath(d))
        if (os.path.exists(os.path.join(d, "spark-submit")) and
                glob.glob(os.path.join(home, "jars", "spark-core_*.jar"))):
            return home
    raise BuildError("set SPARK_HOME (no Spark installation on PATH)")


def spark_jars():
    home = spark_home()
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under {home}/jars")
    return jars


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"),
                             recursive=True))
    if not prog or not bench:
        raise BuildError("program or benchmark sources missing "
                         "(run from the root of a checkout)")
    return prog + bench


def source_hash(root, srcs):
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root, log=sys.stderr):
    """Returns (classpath, source hash), compiling when needed."""
    srcs = sources(root)
    jars = spark_jars()
    key = source_hash(root, srcs)
    out = os.path.join(root, BUILD_DIR, f"classes-{key[:16]}")
    cp = os.pathsep.join([out] + jars)
    if os.path.exists(os.path.join(out, ".done")):
        return cp, key
    for old in glob.glob(os.path.join(root, BUILD_DIR, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise BuildError("scala compiler jars not found next to Spark's")
    argfile = os.path.join(root, BUILD_DIR, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-classpath", os.pathsep.join(jars), "-d", tmp, "@" + argfile]
    log.write(f"perfbench: compiling {len(srcs)} sources\n")
    r = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + (r.stdout + r.stderr)[-4000:])
    open(os.path.join(tmp, ".done"), "w").close()
    os.replace(tmp, out)
    return cp, key


if __name__ == "__main__":
    try:
        print(build(os.getcwd())[0])
    except BuildError as e:
        sys.exit(f"build failed: {e}")
