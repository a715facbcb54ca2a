"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark JVM (`perfbench/src`) together with the Scala compiler that
ships in the Spark distribution's jars, into `.bench_build/` at the root of
the checkout. A build is keyed by a hash of every source file, so an
unchanged tree is not rebuilt.

    python3 perfbench/build.py        # build, print the classes directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """Directory of the Spark distribution's jars: `$SPARK_HOME/jars`, else
    the `unmanagedBase` directory the repository's build.sbt compiles with."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Scala compiler under {jars}; set SPARK_HOME")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise SystemExit("build: no engine sources under src/main/scala")
    return engine + sorted(glob.glob(os.path.join(BENCH, "src/*.scala")))


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if needed; returns (classes directory, source hash)."""
    files = sources()
    key = source_hash(files)
    out = os.path.join(BUILD, "classes-" + key[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out, key
    if os.path.isdir(BUILD):
        for old in glob.glob(os.path.join(BUILD, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-d", out, "-classpath", jars, "-nowarn", "@" + argfile]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=ROOT).returncode
    if rc != 0:
        shutil.rmtree(out, ignore_errors=True)
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"build: scalac failed ({rc}), see {log}")
    open(os.path.join(out, ".done"), "w").close()
    return out, key


if __name__ == "__main__":
    print(build()[0])
