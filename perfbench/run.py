"""Benchmark command: runs one workload once and prints its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see README.md beside this file): ``olap_tpch``,
``llm_pipeline`` and ``serve_mixed``.  The last line of standard output
is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.

This process starts no Spark itself.  It starts the workload's generator
process (``stream.py`` or ``serve.py``) in a fresh work dir under
``perfbench/.work`` with the package root on ``PYTHONPATH`` -- Python
UDF workers can then import the package whatever the caller's working
directory -- and with ``TMPDIR``, the JVMs' ``java.io.tmpdir`` and
Spark's local dirs inside the work dir.  It samples the peak RSS of the generator's whole process tree
(driver JVM, Python workers, server) from ``/proc``, stops whatever is
left of the tree, and deletes the work dir, so repeated runs leave
nothing behind but the shared dbgen tables in ``perfbench/.work/cache``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = {
    "olap_tpch": "stream.py",
    "llm_pipeline": "stream.py",
    "serve_mixed": "serve.py",
}
TIMEOUT_S = 170
POLL_S = 0.2

sys.path.insert(0, HERE)

import metrics  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(metrics.SCALES), default="full")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "risinglight_spark", "__init__.py")):
        print(f"perfbench: no risinglight_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    cache = os.path.join(HERE, ".work", "cache")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(cache, exist_ok=True)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        # the JVMs' own temp files (native libs, spark-* dirs) and no
        # hsperfdata under /tmp
        SPARK_SUBMIT_OPTS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM="2g",
        TZ="UTC",
        PERFBENCH_SPAWNED=repr(time.time()),
    )
    cmd = [
        sys.executable, os.path.join(HERE, WORKLOADS[args.workload]),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--scale", args.scale, "--cache", cache,
    ]
    child = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                             start_new_session=True)
    try:
        peak_mb = watch(child)
        if child.returncode != 0:
            print(f"perfbench: generator exited {child.returncode}", file=sys.stderr)
            return 1
        with open(os.path.join(work, "result.json")) as f:
            result = json.load(f)
        if args.trace:
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(HERE, ".work", f"spans-{args.workload}.json"))
    finally:
        stop_session(child.pid)
        shutil.rmtree(work, ignore_errors=True)

    values = result["metrics"]
    if not args.trace:
        values["peak_rss_mb"] = peak_mb
    print(f"# {args.workload} seed {args.seed}: {result['note']}")
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics.json_metrics(values),
    }))
    return 0


def session_pids(sid: int) -> list[int]:
    """Live processes of one session: the generator and every process it
    started, including ones re-parented after their parent exited."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after the parenthesised command: state ppid pgrp session
        state, _, _, session = stat[stat.rindex(")") + 2:].split()[:4]
        if int(session) == sid and state != "Z":
            pids.append(int(name))
    return pids


def hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def watch(child: subprocess.Popen) -> float:
    """Wait for the generator, sampling its tree; return the sum over
    its processes of each one's peak resident set, in MB.  A process
    seen in only one sample is left out: the JVM spawns helpers with
    vfork, and until such a child execs it reports the JVM's whole
    resident set as its own."""
    peaks: dict[int, int] = {}
    samples: dict[int, int] = {}
    deadline = time.monotonic() + TIMEOUT_S
    while child.poll() is None:
        for pid in session_pids(child.pid):
            peaks[pid] = max(peaks.get(pid, 0), hwm_kb(pid))
            samples[pid] = samples.get(pid, 0) + 1
        if time.monotonic() > deadline:
            print("perfbench: generator timed out", file=sys.stderr)
            stop_session(child.pid)
            child.wait()
            break
        time.sleep(POLL_S)
    return sum(kb for pid, kb in peaks.items() if samples[pid] > 1) / 1024


def stop_session(sid: int) -> None:
    """Stop every process left in the generator's session and wait for
    them to end."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        for _ in range(50):
            if not session_pids(sid):
                return
            time.sleep(0.1)


if __name__ == "__main__":
    sys.exit(main())
