"""Build file of the benchmark: compiles the repository's Scala sources
(src/main/scala) together with the benchmark's own (perfbench/src) into one
class directory, with the Scala compiler that ships in Spark's jar directory.

    python3 perfbench/build.py        # prints the classpath to run with

The class directory lives under .bench_build/perfbench/ and is keyed by a
hash of every source file and of the jar list, so an edited source is always
rebuilt and an unchanged tree is never rebuilt.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else None
    return exe if exe and os.path.exists(exe) else "java"


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise BuildError("no Spark jars found (set SPARK_HOME)")
    return jars


def sources():
    repo = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not repo or not own:
        raise BuildError("repository sources not found under %s/src/main/scala" % ROOT)
    return repo + own


def build(log=sys.stderr):
    """Compile if needed; return the runtime classpath (classes + jars)."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for path in srcs:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    for jar in jars:
        h.update(os.path.basename(jar).encode())
    out = os.path.join(WORK, "classes-" + h.hexdigest()[:16])
    classpath = os.pathsep.join([out] + jars)
    if os.path.exists(os.path.join(out, ".done")):
        return classpath
    os.makedirs(WORK, exist_ok=True)
    for old in glob.glob(os.path.join(WORK, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(WORK, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    print("perfbench: compiling %d sources" % len(srcs), file=log, flush=True)
    proc = subprocess.run(
        [java(), "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
         "-d", tmp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    open(os.path.join(tmp, ".done"), "w").close()
    os.rename(tmp, out)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print("perfbench: %s" % e, file=sys.stderr)
        sys.exit(2)
