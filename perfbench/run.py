"""Benchmark launcher: pins the host settings, runs one measurement in a
child process, and leaves nothing behind but its artifacts.

    python3 perfbench/run.py --workload tpch_star --seed 1 --seconds 20 --trace 0

Workloads and metrics are listed in ``BENCHMARK.json`` at the repository
root; ``perfbench/workloads.py`` holds the step lists. The last line of
standard output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; the exit code is non-zero when any step failed or did not
match its oracle, or when the program under test is missing.

Settings made here (recorded in each run's artifact):

- ``SPARK_GRAFT_CPUS`` = the CPUs this process may use (``local[N]``);
- ``SPARK_GRAFT_DRIVER_MEM`` = 1g, or a quarter of physical memory if less;
- ``PYTHONPATH`` = the repository root, so Spark's Python workers can
  import the program whatever the launch directory;
- ``PYTHONHASHSEED`` = 0, so hash-ordered iteration is the same every run;
- ``SPARK_LOCAL_DIRS``, ``TMPDIR``, the working directory and
  ``spark.sql.warehouse.dir`` all point into a per-run scratch directory
  ``.perfbench_work/run-<pid>/`` that is removed when the run ends.

Generated inputs and oracle results are cached per seed under
``.perfbench_work/cache/``; run artifacts and span files go to
``.perfbench_work/out/`` (``PERFBENCH_WORK`` moves the whole tree).
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.environ.get("PERFBENCH_WORK") or os.path.join(ROOT, ".perfbench_work")
#: a run that has not finished by then is killed (a run must end within 180 s)
DEADLINE_S = 170
PROGRAM = ("__spark_entry__.py", "uw_hadoop_aglorithms_spark", "tools/canon.py")


def driver_mem() -> str:
    """1 GB of JVM heap, or a quarter of RAM if less: a bounded heap fills
    to the same size on every run, which keeps peak RSS comparable (on a
    4-CPU, 15 GB host a 3 GB heap grew to 1.5-2.2 GB depending on GC
    timing)."""
    with open("/proc/meminfo") as fh:
        kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{min(1024, kib // 4 // 1024)}m"


def session_pids(sid: int) -> list[int]:
    """Live processes whose session id is ``sid`` (the child started a
    new session, so this is the child, its JVM and the Python workers)."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(d))
    return out


def stop_session(sid: int) -> None:
    for sig, wait in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        pids = session_pids(sid)
        if not pids:
            return
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + wait
        while session_pids(sid) and time.monotonic() < end:
            time.sleep(0.1)


def main() -> int:
    t0 = time.monotonic()
    missing = [p for p in PROGRAM if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program under test not found ({', '.join(missing)})",
              file=sys.stderr)
        return 2
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(scratch, sub))
    cpus = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
        "PYTHONPATH": ROOT,
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "local"),
        "TMPDIR": os.path.join(scratch, "tmp"),
        "PERFBENCH_SCRATCH": scratch,
        "PERFBENCH_WORK": WORK,
        "PYTHONHASHSEED": "0",
    })
    child = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "bench.py"), *sys.argv[1:]],
        cwd=scratch, env=env, start_new_session=True,
    )
    try:
        code = child.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - t0)))
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded its deadline; stopped", file=sys.stderr)
        code = 3
    finally:
        stop_session(child.pid)
        if child.poll() is None:
            child.wait()
        shutil.rmtree(scratch, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
