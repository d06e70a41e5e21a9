#!/usr/bin/env python3
"""Run one workload of the rumspark benchmark.

    python3 perfbench/run.py --workload code_ingest --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The first run compiles the engine and the
benchmark with sbt (offline) and caches the classpath under .bench_build/;
later runs reuse it until a source file changes. Each run starts one JVM,
prints a line of run facts (seed, host, versions, commit) and, as its last
line, the JSON result. It exits non-zero without a result when the engine
sources are missing, the build fails or the run fails.
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
LAUNCH = os.path.join(BUILD, "launch.tsv")
# prose_append is not in BENCHMARK.json: one run takes several minutes
WORKLOADS = ("code_ingest", "code_search", "prose_append")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = {"prose_append": 900}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads from the engine and from the benchmark."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(src_digest):
    """Compile once per source digest; returns (classpath, jvm options)."""
    stamp = os.path.join(BUILD, "launch.digest")
    if not (os.path.exists(LAUNCH) and os.path.exists(stamp)
            and open(stamp).read().strip() == src_digest):
        os.makedirs(BUILD, exist_ok=True)
        if os.path.exists(stamp):
            os.remove(stamp)
        print("perfbench: compiling the engine and the benchmark (sbt)...", file=sys.stderr)
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                               cwd=HERE, env=sbt_env(), stdout=sys.stderr, stderr=sys.stderr,
                               stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e}")
        if r.returncode != 0 or not os.path.exists(LAUNCH):
            fail(f"build failed (sbt exit {r.returncode})")
        with open(stamp, "w") as fh:
            fh.write(src_digest + "\n")
    classpath, jvm = None, []
    for line in open(LAUNCH):
        key, _, value = line.rstrip("\n").partition("\t")
        if key == "classpath":
            classpath = value
        elif key == "jvm":
            jvm.append(value)
    if not classpath:
        fail(f"no classpath in {LAUNCH}")
    return classpath, jvm


def driver_memory():
    """Half of MemTotal in GiB, clamped to [2, 8]: the engine's test setting."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def git_commit():
    """HEAD of the checkout, or "unknown" when it is not a git work tree of its own."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    out = r.stdout.split()
    if r.returncode != 0 or len(out) != 2 or os.path.realpath(out[0]) != os.path.realpath(ROOT):
        return "unknown"
    return out[1]


def main():
    # SIGTERM unwinds like an exception, so subprocess.run kills and reaps
    # the JVM (or sbt) before this process exits
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seed < 0 or a.seconds <= 0:
        fail("--seed must be >= 0 and --seconds > 0")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"engine sources not found under {ROOT}: run from a full checkout")

    src_digest = digest(source_files())
    classpath, jvm = build(src_digest)

    stamp = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time() * 1000)}-{os.getpid()}"
    work = os.path.join(BUILD, "work", stamp)
    results = os.path.join(BUILD, "results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    cmd = (["java"] + jvm + [f"-Xmx{driver_memory()}", f"-Djava.io.tmpdir={work}/tmp",
                             "-cp", classpath, "perfbench.Main",
                             "--workload", a.workload, "--seed", str(a.seed),
                             "--seconds", str(a.seconds), "--trace", str(a.trace),
                             "--work-dir", work, "--info", os.path.join(results, stamp + ".json"),
                             "--commit", git_commit(), "--source-digest", src_digest])
    timeout = RUN_TIMEOUT_S.get(a.workload, 170)
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {timeout} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if r.returncode != 0 or not lines:
        fail(f"run failed (java exit {r.returncode})")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1]}")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
