#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload graph_api --seed 1 --seconds 15 --trace 0

Run from the repository root.  The run generates its input tables from
``--seed`` (``datagen.py``), pins Spark to the host (``local[nproc]``, a
driver heap below host RAM, a private ``SPARK_LOCAL_DIRS``), and runs
``worker.py`` in a child process in the foreground.  When the child has
exited it checks that no java or python process started for the run is
still alive, deletes the run's scratch directory, and prints two lines:
the run's settings and sample counts, then the result object

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

whose metrics are the end-to-end ones with ``--trace 0`` and the per-layer
ones with ``--trace 1``.  The full record of the run (spans too, when
traced) is kept in ``.bench_runs/``.  Any failure to run exits non-zero
without printing a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402

WORKLOADS = ("graph_api", "graph_iter", "analytics")
SCALE = 0.001           # sf0.001-shaped tables: 150 customers, 6,000 line items
RUN_LIMIT_S = 160.0     # the worker is killed after this; clean-up fits in the 180 s a run may take
DRIVER_MEM_MB = 2048
RUN_TOKEN_VAR = "PERFBENCH_RUN"


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def run_processes(token: str) -> list[int]:
    """Pids of live processes started for this run (they inherit the token)."""
    needle = f"{RUN_TOKEN_VAR}={token}".encode()
    found = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit() or int(entry) == os.getpid():
            continue
        try:
            with open(f"/proc/{entry}/environ", "rb") as f:
                env = f.read().split(b"\0")
            with open(f"/proc/{entry}/stat") as f:
                state = f.read().rsplit(")", 1)[1].split()[0]
        except OSError:
            continue
        if needle in env and state != "Z":
            found.append(int(entry))
    return found


def outlived(token: str, grace_s: float = 5.0) -> list[int]:
    """Processes of the run still alive ``grace_s`` after the worker ended.

    They are killed, and waited for until they are gone."""
    deadline = time.monotonic() + grace_s
    while (pids := run_processes(token)) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while run_processes(token) and time.monotonic() < deadline + 10:
        time.sleep(0.1)
    return pids


def _terminate(signum, frame):
    # the worker runs in its own session, out of reach of signals sent to
    # this process group: turn the signal into an exit so that main's
    # ``finally`` kills and reaps it
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    signal.signal(signal.SIGTERM, _terminate)
    signal.signal(signal.SIGINT, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.monotonic()

    for need in ("egraphdb_spark/__init__.py", "bench.py", "tests/parity.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a checkout "
                  "of the repository", file=sys.stderr)
            return 2

    token = uuid.uuid4().hex
    out_root = os.path.join(ROOT, ".bench_runs")
    run_dir = os.path.join(out_root, f"run-{token}")
    record = os.path.join(
        out_root, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    cpus = host_cpus()
    driver_mem_mb = min(DRIVER_MEM_MB, host_mem_mb() // 4)
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mem_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
    }
    tmp_dir = os.path.join(run_dir, "tmp")
    # temporary files of Python, the JVM and Spark stay in the run directory
    # (the JVM's perf-data file cannot be moved, so it is switched off); no
    # console progress bars, so stderr stays readable
    java_opts = f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData"
    submit_args = ["--conf", "spark.ui.showConsoleProgress=false",
                   "--driver-java-options", java_opts, "pyspark-shell"]
    env = {**os.environ, **settings, RUN_TOKEN_VAR: token, "TMPDIR": tmp_dir,
           "PYSPARK_SUBMIT_ARGS": shlex.join(submit_args)}
    env.pop("SPARK_GRAFT_PROFILE_CUTS", None)
    if args.trace:
        env["SPARK_GRAFT_PROFILE_CUTS"] = "1"  # checkpoint.PROFILE_RECORDS

    os.makedirs(settings["SPARK_LOCAL_DIRS"])
    os.makedirs(tmp_dir)
    child = None
    try:
        data_dir = os.path.join(run_dir, "data")
        datagen.write(data_dir, args.seed, SCALE)
        child = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"),
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--data", data_dir, "--out", record],
            cwd=run_dir, env=env, stdin=subprocess.DEVNULL, stdout=sys.stderr,
            start_new_session=True,
        )
        try:
            rc = child.wait(timeout=max(1.0, RUN_LIMIT_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            print("perfbench: run exceeded its time limit", file=sys.stderr)
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
            rc = None
    finally:
        if child is not None and child.poll() is None:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
        leftovers = outlived(token)
        shutil.rmtree(run_dir, ignore_errors=True)

    if leftovers:
        print(f"perfbench: processes outlived the run: {leftovers}", file=sys.stderr)
        return 3
    if rc != 0:
        print(f"perfbench: worker exited with {rc}", file=sys.stderr)
        return 1

    with open(record) as f:
        rec = json.load(f)
    metrics = rec["per_layer"] if args.trace else rec["end_to_end"]
    print(json.dumps({"settings": settings, "samples": rec["samples"],
                      "problems": rec["problems"][:5], "record": record}))
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
