"""Link-graph benchmark launcher.

    python3 perfbench/run.py --workload repo-batch --seed 1 --seconds 5 --trace 0

Run from the repository root. Isolates the run, then starts
``worker.py`` (one Spark session of ``local[<cores>]``), relays its
result line and removes everything the run wrote:

- ``SPARK_GRAFT_CPUS`` is the machine's core count;
- ``HOOVER_SPARK_DRIVER_MEM`` is sized to the machine (a fifth of its
  memory, 1-8 GB), since the engine's 48 GB default exceeds small hosts;
- Spark local dirs, temp files, stream work dirs and checkpoint dirs
  live in a fresh directory under ``.bench_work/`` that is deleted
  afterwards. A stream work dir left over from an earlier run would
  make ``IncrementalGraphState`` resume from it and dedupe every edge
  away.

With ``--trace 1`` the spans and counters are written to
``.bench_out/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("repo-batch", "rmat-skew")
#: a run that has not printed its result by then has hung
TIMEOUT_S = 170


def driver_mem() -> str:
    """The Spark driver heap: 1 GB, capped at a fifth of the machine's memory.
    The inputs hold under 100 k edges; a heap that fills up to its cap
    makes the process tree's peak RSS repeat from run to run."""
    with open("/proc/meminfo") as f:
        mb = int(f.readline().split()[1]) // 1024
    return f"{max(min(1024, mb // 5), 256)}m"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "hoover_spark", "session.py")):
        print("perfbench: run from the repository root (hoover_spark/ not found)",
              file=sys.stderr)
        return 2

    os.makedirs(os.path.join(root, ".bench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-",
                            dir=os.path.join(root, ".bench_work"))
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "HOOVER_SPARK_DRIVER_MEM": driver_mem(),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "PYTHONPATH": root + os.pathsep + env.get("PYTHONPATH", ""),
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work-dir", work]
    if args.trace:
        out_dir = os.path.join(root, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        cmd += ["--trace-file", os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")]

    # own process group, so a hung run's JVM is stopped with it
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        _reap_group(proc.pid)
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        print(f"perfbench: worker exited with {proc.returncode}", file=sys.stderr)
        return proc.returncode or 1
    sys.stdout.write(out if out.endswith("\n") else out + "\n")
    return 0


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _reap_group(pgid: int) -> None:
    """Stop anything the worker left in its process group (e.g. a JVM)
    and wait until it has ended."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 10
    while _group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.05)


if __name__ == "__main__":
    sys.exit(main())
