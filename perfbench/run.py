#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 6 --trace 0

Run from the repository root. The first call compiles the engine and the
benchmark (perfbench/build.py); every call then starts one JVM that runs
the workload on a local Spark session with one task thread per core.
All scratch state (warehouses, staging dirs, Spark local dirs) lives in
.bench_build/run-<pid> and is deleted before this script exits; traces
land in .bench_build/traces. See perfbench/README.md for the workloads
and metrics.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout clean
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("relational", "llm", "gbfs_pipeline")
# the benchmark's own limit on one run, below the 180 s a run may take
RUN_TIMEOUT_S = 170
# a survey over every gate of a family (--gates all) takes minutes
SURVEY_TIMEOUT_S = 1200
# the JDK 17 module openings Spark needs outside spark-submit
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def data_dir():
    """The read-only sf0.1 tables the gate workloads scan."""
    return os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.join(
        os.path.expanduser("~"), "testdata", "sf0.1")


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--gates", choices=("all",), default=None,
                   help="run every gate of the workload's family, not its "
                        "subset (the survey select_gates.py reads)")
    a = p.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        print("run: no engine sources under src/main/scala; run from the "
              "repository root", file=sys.stderr)
        return 2
    started = time.time()
    classpath = build.build(root)
    build_s = time.time() - started
    run_dir = os.path.join(root, build.BUILD_DIR, f"run-{os.getpid()}")
    trace_dir = os.path.join(root, build.BUILD_DIR, "traces")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.makedirs(trace_dir, exist_ok=True)
    cmd = ["java"]
    cmd += [f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in ADD_OPENS]
    cmd += ["-Xms2g", "-Xmx2g", "-Xss8m",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data_dir(), "--run-dir", run_dir,
            "--trace-dir", trace_dir]
    if a.gates:
        cmd += ["--gates", a.gates]
    timeout = SURVEY_TIMEOUT_S if a.gates else RUN_TIMEOUT_S
    log_path = os.path.join(root, build.BUILD_DIR, f"{a.workload}.log")
    proc = None

    def stop(signum, _frame):
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                    text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=timeout)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                print(f"run: timed out after {timeout} s; log in "
                      f"{log_path}", file=sys.stderr)
                return 3
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        print(f"run: workload exited with code {proc.returncode}; log in "
              f"{log_path}", file=sys.stderr)
        return proc.returncode or 4
    print(f"build_s {build_s:.3f}")
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
