"""Benchmark entry point.

    python3 perfbench/run.py --workload corpus --seed 7 --seconds 3 --trace 0

Runs one workload of the liken_spark engine at local[4] and prints, as the
last line of standard output, one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). Workloads, metrics
and the layer-to-metric map are described in perfbench/NOTES.md.

The run itself happens in a child process (harness.py) started in a
session of its own, so the Spark JVM and its Python workers are stopped
and waited for when the run ends. Everything the run writes stays under
``.perfbench_work/`` in the checkout; generated inputs are kept there,
keyed by workload input, size and seed, and recreated when missing.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 160


def _session_members(sid: int) -> list[int]:
    """Live processes of session ``sid``. The PySpark daemon moves itself
    into a process group of its own, but it stays in the session."""
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2 :].split()
        if fields[0] != "Z" and int(fields[3]) == sid:
            pids.append(int(pid))
    return pids


def _stop_session(sid: int) -> None:
    """Kill what is left of the run (the JVM and the PySpark daemon; the run
    keeps no state worth a graceful shutdown) and wait until it is gone."""
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        members = _session_members(sid)
        if not members:
            return
        for pid in members:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def main() -> int:
    if not os.path.isfile(os.path.join(ROOT, "liken_spark", "__init__.py")):
        print("perfbench: liken_spark sources not found next to perfbench/", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS="4",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        LIKEN_SPARK_DRIVER_MEM="4g",
        TMPDIR=tmp,
        PERFBENCH_WORK=work,
        PERFBENCH_CACHE=os.path.join(work_root, "inputs"),
    )
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "harness.py"), *sys.argv[1:]],
        cwd=work, env=env, stdout=subprocess.PIPE, text=True, start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        out = None
    finally:
        _stop_session(proc.pid)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if out is None:
        print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        return 3
    lines = out.rstrip("\n").splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if proc.returncode != 0 or not isinstance(result, dict):
        sys.stderr.write(out)
        print(f"perfbench: harness failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    print("\n".join(lines[:-1]))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
