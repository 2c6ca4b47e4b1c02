"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark (`perfbench/src`) with the Scala compiler that ships among
the Spark jars the engine's `build.sbt` uses, into `.bench_build/` at the
checkout root.

Each stage's output directory is named after a hash of its sources, so a
rebuild happens only when a source changed. Run it alone with
`python3 perfbench/build.py`; it prints the run classpath.
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory `build.sbt` names as its
    `unmanagedBase`: the engine builds against the same jars either way."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if not m:
            raise SystemExit("set SPARK_HOME: build.sbt names no unmanagedBase jar directory")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Scala compiler among the Spark jars in {jars}")
    return jars


def sources(d):
    found = sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    if not found:
        raise SystemExit(f"no Scala sources under {d}")
    return found


def stamp(files, salt=""):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def compile_stage(name, files, classpath, salt=""):
    key = stamp(files, salt)
    out = os.path.join(BUILD, f"{name}-{key}")
    if os.path.exists(os.path.join(out, ".done")):
        return out, key
    for old in glob.glob(os.path.join(BUILD, f"{name}-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = spark_jars()
    compiler = [os.path.join(jars, j) for j in os.listdir(jars)
                if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    args_file = os.path.join(tmp, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", tmp,
           "@" + args_file]
    print(f"[perfbench] compiling {name}: {len(files)} files", file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=900)
    os.remove(args_file)
    open(os.path.join(tmp, ".done"), "w").close()
    os.rename(tmp, out)
    return out, key


def build():
    """Compile both stages if needed; returns the classpath to run with."""
    engine_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine_src):
        raise SystemExit(f"engine sources not found at {engine_src}")
    jars = os.path.join(spark_jars(), "*")
    os.makedirs(BUILD, exist_ok=True)
    # one build at a time: a second caller waits, then finds the stages done
    with open(os.path.join(BUILD, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        engine, key = compile_stage("engine", sources(engine_src), jars)
        bench, _ = compile_stage("bench", sources(os.path.join(ROOT, "perfbench", "src")),
                                 os.pathsep.join([engine, jars]), salt=key)
    return os.pathsep.join([bench, engine, jars])


if __name__ == "__main__":
    print(build())
