"""Benchmark entry point.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload catalog|pipeline_api \\
        --seed N --seconds S --trace 0|1

Each run happens in a fresh child process (``perfbench/harness.py``) with
``SPARK_GRAFT_CPUS`` set to the usable cores, 4 GB of Spark memory,
``PYTHONPATH`` at the checkout (Python workers import the package) and a
fresh working directory under ``.perfbench/`` for Spark's local dirs, temp files,
generated tables and the stage lake; the directory is removed afterwards.
Run records stay in ``.perfbench/runs/`` for ``perfbench/compare.py``.

The child prints every metric by name and unit, then, as the last line of
standard output, the JSON result: with ``--trace 0`` the end-to-end metrics
(wall times net of hypervisor steal, timed-phase metrics at a reference
core speed, see ``harness.gated_metrics``), with
``--trace 1`` the per-layer ones. Exits non-zero, printing no result, when
the run fails or the package is missing.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
#: a run that has not finished by then is killed and reported as failed
TIMEOUT_S = 170
SPARK_MEMORY = "4g"


def _session_pids(sid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # field 6: session id; a zombie has ended and waits to be reaped
            if int(fields[3]) == sid and fields[0] != "Z":
                out.append(int(name))
    return out


def _reap_session(sid: int) -> None:
    """Kill whatever the run left in its session and wait until it is gone."""
    deadline = time.monotonic() + 30
    while pids := _session_pids(sid):
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {pids} survived SIGKILL")
        time.sleep(0.1)


def main() -> int:
    if not os.path.isfile(os.path.join(ROOT, "data_pipelines_worker_spark", "__init__.py")):
        print("perfbench: data_pipelines_worker_spark is not in this checkout", file=sys.stderr)
        return 2
    workdir = os.path.join(STATE, f"work-{os.getpid()}")
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_GRAFT_DRIVER_MEM": SPARK_MEMORY,
            "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
            "TMPDIR": os.path.join(workdir, "tmp"),
            # -UsePerfData: no hsperfdata file in the host's /tmp;
            # -UseDynamicNumberOfCompilerThreads: JIT compiler threads live
            # as long as the JVM, so their CPU can be read per thread
            "JAVA_TOOL_OPTIONS": (
                f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')} -XX:-UsePerfData"
                " -XX:-UseDynamicNumberOfCompilerThreads"
            ),
            "PYTHONPATH": ROOT,
            "PYTHONHASHSEED": "0",
        }
    )
    cmd = [
        sys.executable, "-m", "perfbench.harness", *sys.argv[1:],
        "--workdir", workdir, "--records", os.path.join(STATE, "runs"),
    ]
    # a terminated benchmark still stops its run and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(
        cmd, cwd=workdir, env=env, stdout=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        out = None
    finally:
        _reap_session(proc.pid)
        proc.wait()
        shutil.rmtree(workdir, ignore_errors=True)
    if out is None or proc.returncode != 0:
        if out:
            sys.stderr.write(out)
        return 1
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
