"""Steadiness check: run one workload k times and print, for every
end-to-end metric, the median, the quartiles and the spread (quartile
distance / median) against the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload rmat-skew --runs 10 [--first-seed 1]

Run from the repository root. Each run's machine state goes to a
sidecar, ``.bench_out/steady-<workload>.json``, never into the metrics:
the guest-visible CPU steal share from /proc/stat over the run and a
single-thread sha256 probe (MB/s) before and after it, so a noisy
window can be told from a slower program.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

_BUF = b"\xa5" * (1 << 20)


def cpu_stat() -> tuple[int, int]:
    """(steal jiffies, total jiffies) of the aggregate cpu line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def probe_mb_s(seconds: float = 0.3) -> float:
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < seconds:
        hashlib.sha256(_BUF).digest()
        n += 1
    return n / (time.perf_counter() - t0)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    kind = "per_layer" if args.trace else "end_to_end"
    specs = {m["name"]: m for m in bench[kind]}
    values: dict[str, list[float]] = {name: [] for name in specs}
    sidecar, shares = [], []
    for k in range(args.runs):
        seed = args.first_seed + k
        probe0 = probe_mb_s()
        steal0, total0 = cpu_stat()
        t0 = time.perf_counter()
        proc = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]),
                                "--trace", str(args.trace)],
            capture_output=True, text=True)
        wall = time.perf_counter() - t0
        steal1, total1 = cpu_stat()
        probe1 = probe_mb_s()
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stderr[-3000:])
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        shares.append(res["failed"] / res["attempted"])
        for name in specs:
            values[name].append(res["metrics"][name]["value"])
        sidecar.append({
            "seed": seed, "wall_s": wall, "correct": res["correct"],
            "attempted": res["attempted"], "failed": res["failed"],
            "steal_pct": 100.0 * (steal1 - steal0) / max(total1 - total0, 1),
            "probe_mb_s_before": probe0, "probe_mb_s_after": probe1,
            "metrics": {n: v[-1] for n, v in values.items()},
        })
        print(f"seed {seed}: {wall:.1f} s, correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} "
              f"steal={sidecar[-1]['steal_pct']:.1f}% probe={probe0:.0f}/{probe1:.0f} MB/s",
              flush=True)

    os.makedirs(".bench_out", exist_ok=True)
    with open(os.path.join(".bench_out", f"steady-{args.workload}.json"), "w") as f:
        json.dump(sidecar, f, indent=1)
    print(f"\n{args.workload}: {args.runs} runs, failed share {sorted(set(shares))}")
    print(f"{'metric':<28}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}")
    for name, vals in values.items():
        if len(vals) > 1:
            q1, q2, q3 = statistics.quantiles(vals, n=4)
        else:
            q1 = q2 = q3 = vals[0]
        spread = (q3 - q1) / q2 if q2 else float("inf")
        bound = specs[name].get("bound")
        flag = "" if bound is None or spread < bound / 3 else "  <-- above bound/3"
        print(f"{name:<28}{q2:>12.4g}{q1:>12.4g}{q3:>12.4g}{spread:>9.3f}"
              f"{bound if bound is not None else '-':>8}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
