#!/usr/bin/env python3
"""Benchmark of the dump -> reload pipeline, its stream dump and its queries.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload bulk_tail --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

The first run in a checkout builds the program and the benchmark driver
with sbt (perfbench/build.sbt compiles against the repository's own
build) and caches the runtime classpath under .bench_build/. Each run
then starts one JVM (perfbench.Main) that makes the workload's inputs
from the seed, times the workload and checks its outputs. The JVM
writes its result as JSON; this script keeps a copy under
.bench_build/results/, prints each metric with its unit, and prints as
its last stdout line one JSON object with the keys correct, attempted,
failed and metrics. It exits 0 only when every output was correct.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# fixed inputs: the corpus documents
DATA = os.path.join(HERE, "data")
WORKLOADS = ("bulk_tail", "microbatch_stream", "corpus_curation")

# Fixed so that runs on different hosts compare; recorded in every result.
HEAP = "3g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the repository's
# build.sbt passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads from the checkout, sorted."""
    out = []
    for top in ("build.sbt", os.path.join("project", "build.properties"),
                os.path.join("src", "main"),
                os.path.join("perfbench", "build.sbt"),
                os.path.join("perfbench", "project", "build.properties"),
                os.path.join("perfbench", "src")):
        path = os.path.join(ROOT, top)
        if os.path.isfile(path):
            out.append(path)
        for dirpath, dirnames, filenames in os.walk(path):
            dirnames.sort()
            out.extend(os.path.join(dirpath, f) for f in sorted(filenames))
    return sorted(out)


def source_digest():
    h = hashlib.sha256()
    for path in source_files():
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=30)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_child(cmd, cwd, env, timeout, capture):
    """Runs cmd in its own process group; stderr (and stdout unless
    captured) go to our stderr. Kills the whole group on timeout or
    when this script is interrupted or terminated."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                            stdout=subprocess.PIPE if capture else sys.stderr,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def build():
    """Compiles the program and the driver; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("perfbench: the program's sources (build.sbt, src/main/scala) "
                         "are not next to perfbench/; run from a full checkout")
    digest = source_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"], digest
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true -Xmx2g")
    log("perfbench: building (sbt compile)")
    t0 = time.time()
    code, out = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                           "export Runtime/fullClasspath"],
                          HERE, env, BUILD_TIMEOUT_S, capture=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"perfbench: build failed (exit {code})")
    classpath = lines[-1].strip()
    log(f"perfbench: built in {time.time() - t0:.1f} s")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath, digest


def java_cmd(classpath, main, args, work):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            # a fixed, pre-touched heap: first-touch page faults and heap
            # resizing stay out of the timed passes (the program's own heap
            # use is measured from the collector, see HeapWatch.scala)
            [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Dspark.ui.enabled=false", "-cp", classpath, main] + args)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def terminate(signum, _frame):
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, terminate)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own tests instead of a workload")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    classpath, digest = build()
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    env["SPARK_GRAFT_CACHE"] = "1"
    n = cpus()
    try:
        if a.selftest:
            code, _ = run_child(java_cmd(classpath, "perfbench.SelfTest", [work, DATA], work),
                                ROOT, env, RUN_TIMEOUT_S, capture=False)
            return code
        out = os.path.join(work, "result.json")
        spans = os.path.join(work, "spans.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--data", DATA, "--out", out, "--spans", spans,
                "--cpus", str(n)]
        code, _ = run_child(java_cmd(classpath, "perfbench.Main", args, work),
                            ROOT, env, RUN_TIMEOUT_S, capture=False)
        if code != 0 or not os.path.exists(out):
            log(f"perfbench: the run failed (exit {code})")
            return code or 1
        with open(out) as f:
            result = json.load(f)
        result["config"].update({"heap": HEAP, "git_sha": git_sha(), "source_digest": digest,
                                 "seconds": a.seconds})
        results = os.path.join(BUILD, "results")
        os.makedirs(results, exist_ok=True)
        stem = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}")
        with open(stem + ".json", "w") as f:
            json.dump(result, f, indent=1)
        if a.trace and os.path.exists(spans):
            shutil.copyfile(spans, stem + ".spans.json")

        for k, m in result["metrics"].items():
            print(f"{k}: {fmt(m['value'])} {m['unit']}")
        for k, v in result["extra"].items():
            if not isinstance(v, (list, dict)):
                print(f"{k}: {fmt(v)}")
        for msg in result["failures"]:
            print(f"FAILED: {msg}")
        print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
        return 0 if result["correct"] else 1
    except subprocess.TimeoutExpired:
        log("perfbench: the run timed out")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
