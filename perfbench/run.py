#!/usr/bin/env python3
"""Run one benchmark workload against the library in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and
the benchmark from source with sbt (classes under the build's usual
target/ directories, the resolved classpath under .bench_build/) and
later runs reuse that build until a source file changes. Seeded inputs
are cached per seed under .bench_work/data/. The benchmark JVM prints a
human-readable report on stderr; the last line of stdout is one JSON
object with the keys correct, attempted, failed and metrics.

Exits non-zero, without printing a result, if the library sources are
missing, the build fails, the run fails or times out, or the metrics it
printed are not exactly the ones BENCHMARK.json lists for the mode.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"
# Spark runs local[N] on half the host's processors, and the collector
# gets as many threads: with every core busy, a shared host's other load
# lands on the benchmark's own threads and the timings follow the
# scheduler, not the library.
CORES = max(1, len(os.sched_getaffinity(0)) // 2)
WORKLOADS = ("etl_csv", "lookup_mix", "dedup_ingest")
# the module opens Spark needs on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root):
    """Every file the build reads, as sorted repo-relative paths."""
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        for d, _, names in os.walk(os.path.join(root, top)):
            files += [os.path.relpath(os.path.join(d, n), root) for n in names]
    return sorted(files)


def source_hash(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(f.encode())
        with open(os.path.join(root, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(root, digest):
    """Compile with sbt once per source state; return the classpath."""
    out = os.path.join(root, ".bench_build")
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(out, exist_ok=True)
    print("[perfbench] building library and benchmark with sbt", file=sys.stderr)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "perfbench/compile", "export perfbench/Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.splitlines()
    cps = [l for l in lines if not l.startswith("[") and os.pathsep in l and ".jar" in l]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"sbt build failed (exit {proc.returncode})")
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cps[-1].strip()


def git_commit(root):
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(root))
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "--short=12", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, env=env, timeout=10)
        return r.stdout.strip() if r.returncode == 0 and r.stdout.strip() else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def check_result(line, spec, trace):
    """The result line must carry exactly the metrics BENCHMARK.json lists."""
    res = json.loads(line)
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        fail(f"result keys {sorted(res)}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        units = sorted(k for k in set(got) & set(want) if got[k] != want[k])
        fail(f"metrics differ from BENCHMARK.json: missing {missing}, "
             f"unlisted {extra}, unit mismatch {units}")
    if not isinstance(res["attempted"], int) or res["attempted"] < 1:
        fail("attempted must be a whole number >= 1")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be >= 1")

    root = os.getcwd()
    for need in ("BENCHMARK.json", "build.sbt", "project/build.properties", "src/main/scala"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a full checkout")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    digest = source_hash(root)
    cp = build(root, digest)

    tmp = os.path.join(root, ".bench_work", f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    log_conf = os.path.join(root, "perfbench", "log4j2.properties")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-XX:ParallelGCThreads={CORES}",
            "-XX:ConcGCThreads=1",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            f"-Dlog4j.configurationFile={log_conf}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", a.trace,
              "--root", root, "--cores", str(CORES), "--commit", git_commit(root),
              "--source-hash", digest])
    # a SIGTERM unwinds through the finally below, so the JVM never outlives us
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        # the JVM removes its own run directory unless it was killed
        shutil.rmtree(os.path.join(root, ".bench_work", f"run-{proc.pid}"), ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with {proc.returncode}")
    check_result(lines[-1], spec, a.trace == "1")
    print(lines[-1])


if __name__ == "__main__":
    main()
