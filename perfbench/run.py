#!/usr/bin/env python3
"""Run one benchmark workload (or all of them) and print its metrics.

    python3 perfbench/run.py --workload crawl_rounds --seed 7 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine from the
checkout's sources together with the harness (sbt, offline); later runs reuse
that build while the sources are unchanged. Each run is one fresh JVM at
local[nproc] with a heap sized from MemTotal, whose scratch files (corpus,
state tables, shuffle) live under perfbench/.work/run-<pid> and are removed
when it ends. The last line of stdout is one JSON object with the keys
correct, attempted, failed and metrics; the line before it is the run's full
record (also kept in perfbench/.work/records/).

--workload all runs every workload untraced and then traced, each in its own
JVM, printing each workload's lines as soon as that workload finishes, and
ends with one summary line keyed <workload>.<metric>.
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
CHECKOUT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(HERE, "target")
WORKLOADS = ["crawl_rounds", "query_suite"]
RUN_TIMEOUT_S = 170

# the JDK module opens Spark needs outside spark-submit (as the engine's
# build.sbt passes them)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

_child = None


class Terminated(Exception):
    """SIGTERM arrived; unwind so the child is stopped outside the handler."""


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    """Hash of every input of the build: engine sources and harness."""
    h = hashlib.sha256()
    roots = [os.path.join(CHECKOUT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.join(CHECKOUT, "build.sbt")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, CHECKOUT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; returns the classpath
    and a short form of the source stamp."""
    for need in (os.path.join(CHECKOUT, "src", "main", "scala"), os.path.join(CHECKOUT, "build.sbt")):
        if not os.path.exists(need):
            sys.exit(f"[perfbench] {need} is missing: run from the root of a full checkout")
    stamp = sources_stamp()
    short = stamp[:16]
    stamp_file = os.path.join(BUILD, "perfbench.stamp")
    cp_file = os.path.join(BUILD, "perfbench.classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip(), short
    log("building engine + harness with sbt (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # temp files and JVM perf data stay out of the system temp directory
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                   "export Runtime/fullClasspath"], cwd=HERE, env=env, timeout=840,
                  stdout=subprocess.PIPE)
    out = p.stdout.decode(errors="replace").strip().splitlines()
    if p.returncode != 0 or not out:
        sys.stderr.write("\n".join(out[-40:]) + "\n")
        sys.exit(f"[perfbench] build failed (exit {p.returncode})")
    cp = out[-1].strip()
    if "perfbench" not in cp:
        sys.exit("[perfbench] build printed no classpath")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp + "\n")
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    log(f"build done in {time.time() - t0:.0f}s")
    return cp, short


def run_child(cmd, timeout, **kw):
    """Run a child process, killing it (and waiting) on timeout or signal."""
    global _child
    _child = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = _child.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop_child()
        sys.exit(f"[perfbench] {cmd[0]} exceeded {timeout}s")
    p, _child = _child, None
    return subprocess.CompletedProcess(cmd, p.returncode, out, None)


def on_term(*_):
    # waiting for the child here could deadlock on Popen's own wait lock,
    # which the interrupted main thread may hold
    raise Terminated()


def stop_child():
    global _child
    p = _child
    if p is not None and p.poll() is None:
        try:
            os.killpg(p.pid, signal.SIGTERM)  # lets the JVM's shutdown hook clean up
            p.wait(timeout=20)
        except (subprocess.TimeoutExpired, ProcessLookupError):
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
    _child = None


def host_fit():
    """Width from nproc; heap from MemTotal by the tier-1 formula:
    MemTotal/2, clamped to [2, 8] GiB."""
    cores = len(os.sched_getaffinity(0))
    gib = 2
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                gib = min(8, max(2, int(line.split()[1]) // 2097152))
    return cores, f"{gib}g"


def sweep_stale_roots():
    """Remove run roots left by killed runs (their launcher pid is gone)."""
    if not os.path.isdir(WORK):
        return
    for name in os.listdir(WORK):
        if name.startswith("run-") and name[4:].isdigit():
            pid = int(name[4:])
            if not os.path.exists(f"/proc/{pid}"):
                shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)


def run_one(cp, stamp, workload, seed, trace, size, record):
    cores, heap = host_fit()
    sweep_stale_roots()
    root = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(root, "tmp"), exist_ok=True)
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}",
            "-cp", cp, "perfbench.Harness",
            "--workload", workload, "--seed", str(seed), "--trace", str(trace),
            "--size", size, "--cores", str(cores), "--state-dir", WORK, "--root", root,
            "--build", stamp, "--record", "1" if record else "0"])
    try:
        p = run_child(cmd, timeout=RUN_TIMEOUT_S, cwd=root, stdout=subprocess.PIPE)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    lines = [l for l in p.stdout.decode(errors="replace").splitlines() if l.startswith("{")]
    if p.returncode != 0 or len(lines) < 2:
        sys.exit(f"[perfbench] {workload} run failed (exit {p.returncode})")
    return lines[-2], json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=int, default=20,
                    help="accepted for the benchmark's command line; each workload measures "
                         "a fixed number of ops (4 crawl rounds, about 20 s; one pass of 57 "
                         "queries), so one seed always yields the same outputs to check")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["default", "tiny"], default="default")
    ap.add_argument("--record", action="store_true",
                    help="write this run's output digests into perfbench/digests.json")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, on_term)
    cp, stamp = build()
    if a.workload != "all":
        record, result = run_one(cp, stamp, a.workload, a.seed, a.trace, a.size, a.record)
        print(record)
        print(json.dumps(result), flush=True)
        return
    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        for trace in (0, 1):
            record, result = run_one(cp, stamp, w, a.seed, trace, a.size, a.record)
            print(record)
            print(json.dumps(result), flush=True)
            summary["correct"] &= result["correct"]
            summary["attempted"] += result["attempted"]
            summary["failed"] += result["failed"]
            for k, v in result["metrics"].items():
                summary["metrics"][f"{w}.{k}"] = v
    print(json.dumps(summary), flush=True)


if __name__ == "__main__":
    try:
        main()
    except Terminated:
        sys.exit(143)
    finally:
        stop_child()
