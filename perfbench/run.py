#!/usr/bin/env python3
"""End-to-end benchmark of graft's `KgPipeline.run`.

    python3 perfbench/run.py --workload resume_dup --seed 1 --seconds 24 --trace 0

Run from the repository root. The first call builds the program (with
its own build) and the benchmark from source with sbt, offline; every
call generates or reuses
the seeded corpus, runs the JVM side (`perfbench.Main`) and prints, as
its last stdout line, one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. See perfbench/README.md.
"""
import argparse
import ctypes
import fcntl
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("fresh_large", "resume_dup")
PROGRAM = os.path.join(ROOT, "src", "main", "scala", "graft", "kg", "KgPipeline.scala")
# a fixed, pre-touched heap: timings do not depend on how far it has grown
HEAP = ["-Xmx2g", "-Xms2g", "-XX:+AlwaysPreTouch"]
# all JVMs of one call, after the build, end within this many seconds
JVM_BUDGET_S = 170
BUILD_TIMEOUT_S = 800
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def work_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(os.path.join(ROOT, base), "perfbench")


CHILD = None
PR_SET_PDEATHSIG = 1


def detach():
    """Runs in the child: own process group, and killed if this script dies."""
    os.setsid()
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_PDEATHSIG, signal.SIGKILL)


def stop_child(signum=None, frame=None):
    """Kills the running child's process group and waits for it."""
    if CHILD is not None and CHILD.poll() is None:
        os.killpg(CHILD.pid, signal.SIGKILL)
        CHILD.wait()
    if signum is not None:
        sys.exit(128 + signum)


def run_proc(cmd, cwd, timeout, log_path, env=None):
    """Runs cmd to completion (killing it on timeout); returns stdout."""
    global CHILD
    with open(log_path, "ab") as err:
        CHILD = proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=err,
                                        env=env, preexec_fn=detach)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            stop_child()
            raise BenchError(f"{cmd[0]} timed out after {timeout:.0f}s (log: {log_path})")
    text = out.decode("utf-8", "replace")
    if proc.returncode != 0:
        with open(log_path, "rb") as f:
            tail = f.read()[-2000:].decode("utf-8", "replace")
        raise BenchError(f"{' '.join(cmd[:3])} exited {proc.returncode}:\n{text[-2000:]}\n{tail}")
    return text


def sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            if os.sep + "target" in d:
                continue
            files += [os.path.join(d, n) for n in names]
    return files


def build(work):
    """Compiles program + benchmark once per source change; returns the classpath."""
    stamp = os.path.join(work, "classpath.txt")
    with open(os.path.join(work, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp) and all(
                os.path.getmtime(f) <= os.path.getmtime(stamp) for f in sources()):
            with open(stamp) as f:
                return f.read().strip()
        log("building program and benchmark with sbt (first run only)")
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        out = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       HERE, BUILD_TIMEOUT_S, os.path.join(work, "build.log"), env)
        cp = [l for l in out.splitlines() if "classes" in l and os.pathsep in l]
        if not cp:
            raise BenchError("sbt printed no classpath")
        with open(stamp, "w") as f:
            f.write(cp[-1].strip())
        return cp[-1].strip()


def jvm(cp, work, deadline, mode, args):
    cmd = ["java"] + HEAP + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", mode, "--work", work,
            "--cpus", str(len(os.sched_getaffinity(0)))] + args
    t0 = time.monotonic()
    log_path = os.path.join(work, "jvm.log")
    start = os.path.getsize(log_path)
    out = run_proc(cmd, ROOT, max(1.0, deadline - time.monotonic()), log_path)
    with open(log_path, errors="replace") as f:
        f.seek(start)
        for line in f:
            if line.startswith("[perfbench]"):
                print(line, end="", file=sys.stderr)
    log(f"{mode} JVM took {time.monotonic() - t0:.1f}s")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        raise BenchError(f"perfbench.Main {mode} printed no result")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop_child)
    if not os.path.exists(PROGRAM):
        log(f"program sources not found ({os.path.relpath(PROGRAM, ROOT)} is missing); "
            "run from a full checkout of the repository")
        return 2
    work = work_dir()
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    open(os.path.join(work, "jvm.log"), "w").close()
    try:
        cp = build(work)
        deadline = time.monotonic() + JVM_BUDGET_S
        wl = ["--workload", a.workload, "--seed", str(a.seed)]
        props = jvm(cp, work, deadline, "gen", wl)
        log(f"corpus properties: {json.dumps(props, sort_keys=True)}")
        res = jvm(cp, work, deadline, "run", wl + ["--seconds", str(a.seconds), "--trace", str(a.trace)])
        metrics = res["metrics"]
    except BenchError as e:
        log(str(e))
        return 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    result = {
        "correct": res["failed"] == 0 and bool(metrics),
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units.get(k, "count")}
                    for k, v in sorted(metrics.items())},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
