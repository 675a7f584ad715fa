#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (src/main/scala) and the benchmark harness
(perfbench/src) with the Scala compiler that ships in Spark's jar
directory, into .bench_build/ at the checkout root. Nothing is
downloaded and no build tool state is written outside the checkout.
A build is reused while the hash of its sources is unchanged.

    python3 perfbench/build.py          # build (or reuse) both
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "src")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else that of the Spark
    whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars) or not any(
            n.startswith("scala-compiler") for n in os.listdir(jars)):
        raise BuildError(f"no Spark jar directory with a Scala compiler at {jars}")
    return jars


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_tree(name, srcs, classpath, jars, timeout, depends=""):
    """Compile `srcs` into .bench_build/<name>, unless already built from
    exactly these sources, classpath and dependency build."""
    if not srcs:
        raise BuildError(f"no Scala sources for {name}")
    dest = os.path.join(OUT, name)
    stamp = digest(srcs, extra=classpath + depends)
    stamp_file = dest + ".stamp"
    if os.path.isdir(dest) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return dest, stamp
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, name + ".args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-cp", classpath,
           "@" + argfile]
    t0 = time.time()
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          timeout=timeout)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout.decode(errors="replace")[-8000:])
        raise BuildError(f"compiling {name} failed")
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    sys.stderr.write(f"[build] {name}: {len(srcs)} files in {time.time() - t0:.1f}s\n")
    return dest, stamp


def jar_of(classes_dir, stamp):
    """Pack a class tree into .bench_build/<name>.jar (class-data sharing
    archives only classes that come from jars)."""
    jar = classes_dir + ".jar"
    stamp_file = jar + ".stamp"
    if os.path.exists(jar) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return jar
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes_dir)):
            for f in sorted(files):
                full = os.path.join(d, f)
                z.write(full, os.path.relpath(full, classes_dir))
    os.replace(tmp, jar)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return jar


def build(timeout=840):
    """Returns (classpath for running the harness, engine source hash)."""
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources missing: {ENGINE_SRC}")
    jars = spark_jars()
    os.makedirs(OUT, exist_ok=True)
    jar_cp = os.path.join(jars, "*")
    engine, engine_stamp = compile_tree("engine-classes", sources(ENGINE_SRC),
                                        jar_cp, jars, timeout)
    bench, bench_stamp = compile_tree("bench-classes", sources(BENCH_SRC),
                                      engine + os.pathsep + jar_cp, jars, timeout,
                                      depends=engine_stamp)
    return os.pathsep.join([jar_of(bench, bench_stamp), jar_of(engine, engine_stamp),
                            jar_cp]), engine_stamp


if __name__ == "__main__":
    try:
        cp, stamp = build()
    except (BuildError, subprocess.TimeoutExpired) as e:
        sys.stderr.write(f"[build] {e}\n")
        sys.exit(2)
    print(stamp)
