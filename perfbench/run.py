#!/usr/bin/env python3
"""Benchmark of the graft library: train-read, selective-read and
CDC-cycle workloads, each a closed loop with one client thread in one
Spark driver at local[N], N = the CPUs this process may use.

    python3 perfbench/run.py --workload <name|all> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
benchmark from source with sbt (the root build is a source dependency of
perfbench/build.sbt) and caches the classpath under perfbench/.build;
later runs reuse it until a source or build file changes.

--trace 0 measures and prints the end-to-end metrics of the workload.
--trace 1 is the traced run: it covers all three workloads (so every
layer metric is measured where it should move), running a third of
--seconds of each loop untraced and a third traced, and prints the
per-layer metrics. Spans are written to perfbench/out/. --workload all
runs all three workloads untraced in one process. The last line of
stdout is one JSON object: {"correct", "attempted", "failed",
"metrics"}.
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
BUILD = os.path.join(HERE, ".build")
OUT = os.path.join(HERE, "out")
WORKLOADS = ["hello_world_train", "lineitem_selective_read",
             "orders_cdc_cycle"]
JAVA_TIMEOUT_S = 170
HEAP = "3g"
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 needs these outside spark-submit; the same list as
# the root build's forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def call(cmd, timeout, **kw):
    """Run `cmd` to completion; on a timeout or a termination signal the
    child is killed and waited for, so no process outlives this one.
    Returns the exit code, or None on a timeout."""
    # its own process group, so a launcher script's JVM dies with it
    child = subprocess.Popen(cmd, stdin=subprocess.DEVNULL,
                             start_new_session=True, **kw)

    def kill():
        try:
            os.killpg(child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        child.wait()

    def stop(signum, _frame):
        kill()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return child.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill()
        return None
    finally:
        for s, h in old.items():
            signal.signal(s, h)


def source_files():
    """Every file the build reads from the checkout, sorted."""
    found = []
    for top in ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"]:
        path = os.path.join(ROOT, top)
        if os.path.isfile(path):
            found.append(path)
        for dirpath, dirnames, filenames in os.walk(path):
            dirnames.sort()
            found.extend(os.path.join(dirpath, f) for f in sorted(filenames))
    return found


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    if os.path.isfile(repos):
        opts = ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Build if the sources changed since the cached build; return the
    runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("no library sources next to perfbench/ (run from a full "
             "checkout)")
    want = stamp()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        code = call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                     "export Runtime/fullClasspath"], BUILD_TIMEOUT_S,
                    cwd=HERE, env=sbt_env(), stdout=fh,
                    stderr=subprocess.STDOUT)
    if code is None:
        fail(f"build timed out; see {log}")
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    if code != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed; see {log}")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return lines[-1]


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
        return f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return 0, 0


def load1():
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except OSError:
        return -1.0


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "none (not a git checkout)"


def run_java(cp, workloads, args, work, out):
    cpus = len(os.sched_getaffinity(0))
    cmd = (["java", f"-Xmx{HEAP}"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           (["-Dspark.hadoop.fs.file.impl=perfbench.ListCountingFileSystem"]
            if args.trace else []) +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/spark-local",
            "-cp", cp, "perfbench.Main",
            "--workload", ",".join(workloads), "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", f"{work}/data", "--out", out,
            "--smoke", "1" if args.smoke else "0",
            "--corrupt", "1" if args.corrupt else "0"])
    os.makedirs(f"{work}/tmp")
    os.makedirs(f"{work}/spark-local")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    log = os.path.join(work, "stderr.log")
    with open(log, "w") as err:
        code = call(cmd, JAVA_TIMEOUT_S, cwd=ROOT, env=env, stdout=err,
                    stderr=err)
    if code != 0 or not os.path.isfile(out):
        return None, log, cpus
    with open(out) as fh:
        return json.load(fh), log, cpus


def fmt(v):
    return "nan" if v is None else f"{v:.6g}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--smoke", action="store_true",
                    help="small inputs (the benchmark's own tests)")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: falsify one result before its check")
    args = ap.parse_args()

    cp = classpath()
    if args.trace or args.workload == "all":
        workloads = WORKLOADS
    else:
        workloads = [args.workload]
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(OUT, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out = os.path.join(OUT, f"{tag}.json")
    for stale in (out, out + ".spans.jsonl"):
        if os.path.exists(stale):
            os.remove(stale)
    before = load1()
    ticks0 = cpu_ticks()
    t0 = time.time()
    try:
        res, log, cpus = run_java(cp, workloads, args, work, out)
        after = load1()
        ticks1 = cpu_ticks()
        shutil.copy(log, os.path.join(OUT, f"{tag}.log"))
        if res is None:
            with open(log) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            fail("benchmark process failed")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ev = res["evidence"]
    evidence = {
        "nproc": cpus, "master": ev["master"], "load1_before": before,
        "load1_after": after,
        # share of CPU time the hypervisor gave to other guests
        "steal_share": round((ticks1[0] - ticks0[0]) /
                             max(1, ticks1[1] - ticks0[1]), 4),
        "max_heap_bytes": ev["max_heap_bytes"],
        "spark_version": ev["spark_version"], "commit": commit(),
        "source_stamp": stamp(), "wall_s": round(time.time() - t0, 3),
    }
    res["evidence"] = evidence
    with open(out, "w") as fh:
        json.dump(res, fh, indent=1)
    print("# evidence " + json.dumps(evidence))

    attempted = failed = 0
    metrics = {}
    for w in res["workloads"]:
        attempted += w["attempted"]
        failed += w["failed"]
        for f in w["failures"]:
            print(f"# FAILED {w['workload']}: {f}")
        shown = w["layers"] if args.trace else {**w["e2e"], **w["named"]}
        for name, m in shown.items():
            note = f"  ({m['note']})" if m.get("note") else ""
            print(f"{w['workload']}  {name} = {fmt(m['value'])} {m['unit']}{note}")
        chosen = w["layers"] if args.trace else w["e2e"]
        for name, m in chosen.items():
            key = name if len(workloads) == 1 or args.trace \
                else f"{w['workload']}/{name}"
            metrics[key] = {"value": m["value"], "unit": m["unit"]}
    correct = failed == 0 and attempted > 0 and all(
        m["value"] is not None for m in metrics.values())
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
