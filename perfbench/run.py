"""Layer-split benchmark of the engine, run from the repository root:

    python3 perfbench/run.py --workload sf01_headline --seed 1 --seconds 15 --trace 0

``--workload`` is ``sf01_headline`` or ``incremental_load`` (see
``workloads.py``). The run generates its inputs (the star tables once,
cached under ``perfbench/.cache``; the change batches from ``--seed``),
sets up several times, warms up while checking every output against
DuckDB, then measures a closed loop of whole passes for ``--seconds``.

Stdout carries a readable report and, as its last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics of an untraced run, with ``--trace 1`` the per-layer
metrics of a run that runs every operation both untraced and traced; its
spans are written to ``perfbench/out/``. Spark's scratch, local and temp
directories live in a work directory under ``perfbench/.work`` that is
removed at exit. Exit status is non-zero, with no JSON line, when the run
cannot complete.

The benchmark runs in a child process. The parent is a child subreaper
(Linux ``PR_SET_CHILD_SUBREAPER``): every process started below it that
outlives its own parent (Spark's Python daemon, multiprocessing's resource
tracker) is re-parented to it, and it exits only after all of them have
ended, stopping stragglers with SIGTERM and then SIGKILL.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: Driver JVM heap size. The engine defaults to an 8g cap; the benchmark's
#: inputs need far less, and a small heap keeps the JVM's resident size
#: small on a shared host.
DRIVER_MEM = "2g"
#: Set in the child that runs the benchmark.
WORKER_ENV = "PERFBENCH_WORKER"
PR_SET_CHILD_SUBREAPER = 36
#: Seconds left to stragglers after SIGTERM before SIGKILL.
TERM_GRACE_S = 5.0
UNITS = {
    "setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_tail_s": "s", "peak_rss_mb": "MB",
}


def _unit(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name in ("plans.build_share", "write_amp"):
        return "ratio"
    return "count"


def _loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def _stop_jvm() -> None:
    """Stop the SparkContext and the JVM this process launched, and wait
    for the JVM to exit; it takes its Python workers with it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _work_dir(pid: int) -> str:
    return os.path.join(HERE, ".work", str(pid))


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while being read
        children.setdefault(ppid, []).append(int(entry))
    found, stack = [], [root]
    while stack:
        for pid in children.get(stack.pop(), []):
            found.append(pid)
            stack.append(pid)
    return found


def _reap() -> None:
    """Stop every descendant of this process and wait until none is left.
    As a subreaper, this process has a child as long as any descendant
    lives, so ``waitpid`` failing with ECHILD means all of them ended."""
    for sig, grace in ((signal.SIGTERM, TERM_GRACE_S), (signal.SIGKILL, None)):
        for pid in _descendants(os.getpid()):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + grace if grace else None
        while end is None or time.monotonic() < end:
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    time.sleep(0.02)
            except ChildProcessError:
                return


def _supervise() -> int:
    """Run the benchmark in a child process; return its exit status once it
    and every process started below it have ended."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *sys.argv[1:]],
                             env={**os.environ, WORKER_ENV: "1"})
    try:
        return child.wait()
    finally:
        _reap()
        # The child removes its work directory itself unless it was killed.
        shutil.rmtree(_work_dir(child.pid), ignore_errors=True)


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=["sf01_headline", "incremental_load"])
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = parser.parse_args()
    if os.environ.get(WORKER_ENV) != "1":
        return _supervise()

    work = _work_dir(os.getpid())
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    nproc = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
    })
    os.chdir(work)  # Spark's cwd-relative files (warehouse, metastore) land here
    sys.path[:0] = [ROOT, HERE]
    load_start = _loadavg()
    try:
        import workloads

        run = workloads.Run(args.seed, args.seconds, bool(args.trace), work)
        e2e, layers = workloads.WORKLOADS[args.workload](run)
        trace_file = None
        if run.traced:
            out_dir = os.path.join(HERE, "out")
            os.makedirs(out_dir, exist_ok=True)
            trace_file = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
            with open(trace_file, "w") as fh:
                json.dump({"spans": run.tracer.dump(run.t0), "per_layer": layers, "notes": run.notes}, fh,
                          default=str)
    finally:
        _stop_jvm()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    metrics = layers if run.traced else e2e
    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print(f"# nproc={nproc} SPARK_GRAFT_CPUS={nproc} SPARK_GRAFT_DRIVER_MEM={DRIVER_MEM} client_threads=1 "
          f"loadavg_start={load_start} loadavg_end={_loadavg()} "
          f"SPARK_GRAFT_SCRATCH/SPARK_LOCAL_DIRS/TMPDIR under {os.path.relpath(work, ROOT)}")
    print(f"# attempted={run.attempted} failed={run.failed} "
          f"failed_frac={run.failed / run.attempted:.6f}")
    for key, note in run.notes.items():
        print(f"# {key}: {note}")
    if trace_file:
        print(f"# spans: {os.path.relpath(trace_file, ROOT)}")
    for name, value in {**e2e, **(layers or {})}.items():
        print(f"# {name:28s} {value:>16.6f} {_unit(name)}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {name: {"value": value, "unit": _unit(name)} for name, value in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
