#!/usr/bin/env python3
"""Run one lakebench workload and print its result as the last stdout line.

    python3 lakebench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Builds the engine (the repository's sbt project) and the benchmark from
source with sbt, offline, whenever their sources changed, then runs the
benchmark JVM with the repository's test heap formula. With --trace 1 the
result line carries the per-layer metrics, and the summary above it reports
the tracing overhead on records_per_s against the median of this build's
untraced runs of the same workload and length.
"""
import argparse
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "lakebench.stamp")
HISTORY = os.path.join(WORK, "untraced.jsonl")
# Class-data sharing archive of the benchmark JVM's classes, dumped by the
# first run after a build: it shortens JVM start-up, not the timed phase.
CDS = os.path.join(WORK, "classes.jsa")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
WORKLOADS = ("ingest", "lakehouse", "dedup_stream")


def log(msg):
    print(f"[lakebench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: engine and benchmark sources and build files."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src", "main")]
    for top in inputs:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_child(cmd, timeout, **kw):
    """Run a child in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    stamp = source_stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and benchmark with sbt")
    code, _ = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"], BUILD_TIMEOUT_S,
                        cwd=HERE, env=env, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(LAUNCH):
        sys.exit(f"[lakebench] build failed (exit {code})")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    # the class archive and the untraced baseline belong to the old build
    for f in (CDS, HISTORY):
        if os.path.exists(f):
            os.remove(f)


def heap_gb():
    """The repository's test heap: half of physical memory, 2 to 8 GiB."""
    with open("/proc/meminfo") as fh:
        kib = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return max(2, min(8, kib // 2097152))


def run_jvm(workload, seed, seconds, trace):
    """One benchmark JVM: returns (result dict, summary lines)."""
    with open(LAUNCH) as fh:
        launch = [l for l in fh.read().splitlines() if l]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cds = f"-XX:SharedArchiveFile={CDS}" if os.path.exists(CDS) else f"-XX:ArchiveClassesAtExit={CDS}"
    cmd = ["java", f"-Xmx{heap_gb()}g", "-Xmn1g", "-XX:-UsePerfData", "-Xlog:disable", "-Xlog:all=error:stderr", cds,
           f"-Djava.io.tmpdir={tmp}", *launch,
           "lakebench.LakeBench", "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--work", os.path.join(WORK, "run")]
    code, out = run_child(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    if code is None:
        sys.exit(f"[lakebench] {workload} did not finish within {RUN_TIMEOUT_S} s")
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        sys.stderr.write(out)
        sys.exit(f"[lakebench] {workload} exited with {code}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        sys.stderr.write(out)
        sys.exit(f"[lakebench] {workload} printed no result line")
    return result, lines[:-1]


def summary_value(lines, name):
    for l in lines:
        parts = l.split()
        if len(parts) >= 3 and parts[1] == name:
            return float(parts[2])
    return None


def untraced_baseline(workload, seconds):
    if not os.path.exists(HISTORY):
        return []
    with open(HISTORY) as fh:
        rows = [json.loads(l) for l in fh if l.strip()]
    return [r["records_per_s"] for r in rows if r["workload"] == workload and r["seconds"] == seconds]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("[lakebench] engine sources not found next to the benchmark; run from a full checkout")
    build()
    os.makedirs(WORK, exist_ok=True)

    result, lines = run_jvm(a.workload, a.seed, a.seconds, a.trace)
    for l in lines:
        print(l)
    if a.trace:
        runs = untraced_baseline(a.workload, a.seconds)
        traced = summary_value(lines, "records_per_s")
        if runs:
            base = statistics.median(runs)
            print(f"[lakebench]   tracing_overhead_records_per_s {base - traced:.6g} 1/s "
                  f"({(base - traced) / base:.2%} of the median of {len(runs)} untraced runs, {base:.6g} 1/s)")
        else:
            print("[lakebench]   tracing_overhead_records_per_s unknown: no untraced run of this build yet")
    else:
        record(a, lines)
    print(json.dumps(result), flush=True)


def record(a, lines):
    rps = summary_value(lines, "records_per_s")
    if rps is not None:
        with open(HISTORY, "a") as fh:
            fh.write(json.dumps({"workload": a.workload, "seconds": a.seconds, "seed": a.seed,
                                 "records_per_s": rps}) + "\n")


if __name__ == "__main__":
    main()
