#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload tsdb --seed 1 --seconds 10 --trace 0

Builds the engine and the harness on first use (perfbench/build.py), then
runs the workload in a fresh JVM. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}, holding the
end-to-end metrics with --trace 0 and the per-layer metrics with --trace 1.
The full record (sizes, configuration, host sentinels, spans) is written
to .bench_build/records/<workload>-c<cpus>-s<seed>-t<trace>.json.

    python3 perfbench/run.py --selftest     # the harness's own math tests
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # nothing written into the benchmark's directory
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("tsdb", "pipeline")
RUN_TIMEOUT_S = 170
TRAIN_TIMEOUT_S = 400
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these (as the engine's own
# sbt build passes them).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def revision(stamp):
    rev = os.environ.get("GRAFT_BENCH_REV")
    if rev:
        return rev
    try:
        out = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.decode().strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "src-sha256:" + stamp[:16]


def jvm_flags(tmp):
    flags = []
    for p in ADD_OPENS:
        flags += ["--add-opens", p + "=ALL-UNNAMED"]
    return flags + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
        "-XX:-UsePerfData",  # no hsperfdata files outside the checkout
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}",
        "-Dlog4j.configurationFile=" + os.path.join(build.BENCH_DIR, "log4j2.properties"),
        "-Xlog:all=warning:stderr",
    ]


def run_jvm(cmd, env, timeout, stderr=None):
    """Run the JVM in its own process group; returns (code, stdout lines)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=stderr, env=env,
                            cwd=build.ROOT, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.stderr.write(f"[run] timed out after {timeout}s\n")
        return 124, []
    return proc.returncode, out.decode(errors="replace").splitlines()


def class_archive(base, env):
    """JVM flags to start from a class-data-sharing archive of the classes
    a run loads, made once per build by a short training run of every
    workload. Without it each JVM spends seconds loading and verifying
    Spark's classes. A failed training run only costs the speed-up."""
    java = subprocess.run(["java", "-XX:-UsePerfData", "-version"], stderr=subprocess.PIPE).stderr
    jars = [(p, os.path.getsize(p), os.path.getmtime(p))
            for p in base[base.index("-cp") + 1].split(os.pathsep) if os.path.isfile(p)]
    stamp = hashlib.sha256(repr((base, jars)).encode() + java).hexdigest()
    jsa = os.path.join(build.OUT, "classes.jsa")
    stamp_file = jsa + ".stamp"
    if os.path.exists(jsa) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return [f"-XX:SharedArchiveFile={jsa}"]
    tmp = jsa + ".tmp"
    t0 = time.time()
    with open(jsa + ".log", "w") as log:
        code, _ = run_jvm(base[:1] + [f"-XX:ArchiveClassesAtExit={tmp}"] + base[1:] + [
            "graft.bench.Main", "--workload", "train", "--seed", "0", "--seconds", "1",
            "--cpus", str(cpus()), "--work", os.path.join(build.OUT, "work"),
            "--records", os.path.join(build.OUT, "train")], env, TRAIN_TIMEOUT_S, stderr=log)
    if code != 0 or not os.path.exists(tmp):
        sys.stderr.write("[run] class archive not made; running without it\n")
        return []
    os.replace(tmp, jsa)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    sys.stderr.write(f"[run] class archive made in {time.time() - t0:.0f}s\n")
    return [f"-XX:SharedArchiveFile={jsa}"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    t0 = time.time()
    try:
        cp, stamp = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        sys.stderr.write(f"[run] build failed: {e}\n")
        return 2
    sys.stderr.write(f"[run] build ready in {time.time() - t0:.1f}s\n")

    out_dir = os.path.join(build.OUT)
    tmp = os.path.join(out_dir, "tmp")
    work = os.path.join(out_dir, "work")
    for d in (tmp, work):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env.pop("SPARK_CONF_DIR", None)
    n = cpus()
    base = ["java"] + jvm_flags(tmp) + ["-cp", cp]
    if a.selftest:
        code, lines = run_jvm(base + ["graft.bench.SelfTest"], env, RUN_TIMEOUT_S)
        print("\n".join(lines))
        return code

    base = base[:1] + class_archive(base, env) + base[1:]
    cmd = base + ["graft.bench.Main", "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--cpus", str(n), "--work", work,
                  "--records", os.path.join(out_dir, "records"),
                  "--rev", revision(stamp)]
    code, lines = run_jvm(cmd, env, RUN_TIMEOUT_S)
    last = next((l for l in reversed(lines) if l.strip()), "")
    try:
        result = json.loads(last)
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        sys.stderr.write("[run] no result line from the workload\n")
        return code or 1
    if code != 0:
        return code
    for l in lines[:-1]:
        sys.stderr.write(l + "\n")
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
