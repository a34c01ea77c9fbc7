"""ankaflow_spark benchmark: one run of one workload.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload queries_sf001 --seed 1 --seconds 5 --trace 0

Workloads (see ``workloads.py``): ``queries_sf001`` (read-only operator
queries) and ``flows_sf001`` (YAML flows through ``Flow.run``), both on
generated sf0.01 inputs, run on ``local[<nproc>]`` by one client in a
closed loop.

This launcher gives every invocation its own scratch root under
``perfbench/_work/`` on the checkout's filesystem and removes it at exit.
``TMPDIR``, ``SPARK_LOCAL_DIRS``, the Spark warehouse, Derby/metastore
files and flow outputs all live there, so concurrent runs never share a
path and no tracked file is written. It then starts ``harness.py`` in
that root (``TMPDIR`` must be set before the interpreter starts, because
``tempfile`` caches it), waits for it, and stops every process the run
started, the Spark JVM included.

Host context (fsync latency, sequential write and CPU hash throughput)
is probed before and after the run, the share of CPU time stolen by the
hypervisor is read from ``/proc/stat`` over the run, and both are
printed on the line before the result. The last stdout line is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``;
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones. A run that cannot complete exits non-zero and prints
no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
CHILD_TIMEOUT_S = 170


def host_probe(d: str) -> dict:
    """A short version of ``tools/host_probe.py``: the primitives the
    engine's commit and scan paths lean on."""
    sys.path.insert(0, os.path.join(CHECKOUT, "tools"))
    import host_probe

    return {
        "fsync_ms": round(host_probe.fsync_ms(d, n=20), 3),
        "seq_write_mb_s": round(host_probe.seq_write_mb_s(d, mb=32), 1),
        "cpu_sha256_mb_s": round(host_probe.cpu_hash_mb_s(mb=64), 1),
    }


def cpu_ticks() -> list:
    """The machine-wide CPU counters of ``/proc/stat`` (user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_frac(before: list, after: list) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings: contention the run could not see otherwise."""
    d = [b - a for a, b in zip(before, after)]
    return round(d[7] / max(1, sum(d)), 4)


def _stop_group(proc: subprocess.Popen) -> None:
    """Terminate every process left in the run's process group, which the
    harness leads, and wait until none is left."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + wait_s
        while time.time() < deadline:
            proc.poll()  # reap the harness, or it stays in the group
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true", help="rewrite expected.json (maintenance)")
    args = ap.parse_args()

    for need in ("ankaflow_spark", "bench.py", "tools/oracle_check.py", "examples"):
        if not os.path.exists(os.path.join(CHECKOUT, need)):
            print(f"perfbench: {need} not found under {CHECKOUT}", file=sys.stderr)
            return 2

    # a terminated launcher still stops its run and removes the scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(HERE, "_work")
    os.makedirs(work, exist_ok=True)
    root = tempfile.mkdtemp(prefix="run-", dir=work)
    proc = None
    try:
        for sub in ("tmp", "local"):
            os.makedirs(os.path.join(root, sub))
        before = host_probe(os.path.join(root, "tmp"))
        ticks = cpu_ticks()
        env = dict(os.environ)
        env.update(
            TMPDIR=os.path.join(root, "tmp"),
            SPARK_LOCAL_DIRS=os.path.join(root, "local"),
            PYTHONPATH=os.pathsep.join([HERE, CHECKOUT, os.path.join(CHECKOUT, "tools")]),
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            # bench.py's rule: ~64 MB of input per shuffle partition, at least 8
            SPARK_GRAFT_SHUFFLE_PARTITIONS="8",
            PERFBENCH_T0=repr(time.time()),
        )
        env.pop("SPARK_MASTER", None)
        cmd = [
            sys.executable, os.path.join(HERE, "harness.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
        ] + (["--record"] if args.record else [])
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {CHILD_TIMEOUT_S}s", file=sys.stderr)
            return 3
        finally:
            _stop_group(proc)
            proc.wait()
        if proc.returncode != 0:
            print(f"perfbench: harness exited with {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        steal = steal_frac(ticks, cpu_ticks())
        after = host_probe(os.path.join(root, "tmp"))
        lines = out.strip().splitlines()
        result = json.loads(lines[-1])
        context = json.loads(lines[-2])["context"] if len(lines) > 1 else {}
        context["host_before"], context["host_after"] = before, after
        context["cpu_steal_frac"] = steal
        print(json.dumps({"context": context}))
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
