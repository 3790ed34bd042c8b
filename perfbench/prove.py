"""Steadiness proof and baseline for the sizing benchmark.

    python3 perfbench/prove.py [--seeds 101-110] [--workload NAME ...]
                               [--out perfbench/baseline.json]

Runs ``perfbench/run.py`` once per (workload, seed), one run at a time,
and reports for each end-to-end metric the median and the spread: the
distance between the first and third quartile as a share of the median
(``statistics.quantiles(values, n=4)``). A spread is steady when it is
below a third of the metric's bound in BENCHMARK.json (``setup_s`` is
exempt). The output file records the provenance of every run: commit,
nproc, seed, load average and ISO time.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _git(*args: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", *args], cwd=ROOT, capture_output=True, text=True, check=True
        )
    except (OSError, subprocess.CalledProcessError):
        return None
    return out.stdout.strip()


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run_once(workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n"
                           + proc.stderr[-2000:])
    details = next(
        json.loads(line[len("perfbench: "):]) for line in reversed(lines)
        if line.startswith("perfbench: ")
    )
    return {
        "workload": workload,
        "seed": seed,
        "time": dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds"),
        "loadavg_start": details["loadavg_start"],
        "loadavg_end": details["loadavg_end"],
        "cpu_probe": details["cpu_probe"],
        "setups_s": details["setups_s"],
        "op_s": details["op_s"],
        "result": json.loads(lines[-1]),
    }


def spread(values: list[float]) -> tuple[float, float]:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="101-110")
    ap.add_argument("--workload", action="append",
                    choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--out", type=Path)
    args = ap.parse_args()
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    seeds = _seeds(args.seeds)

    runs = []
    for seed in seeds:  # interleave workloads so drift hits both alike
        for w in workloads:
            run = run_once(w, seed, bench["run_seconds"])
            runs.append(run)
            print(json.dumps(run), flush=True)

    summary: dict[str, dict] = {}
    steady = True
    for w in workloads:
        results = [r["result"] for r in runs if r["workload"] == w]
        summary[w] = {
            "attempted": sum(r["attempted"] for r in results),
            "failed": sum(r["failed"] for r in results),
        }
        for m in bench["end_to_end"]:
            med, sp = spread([r["metrics"][m["name"]]["value"] for r in results])
            ok = m["name"] == "setup_s" or sp < m["bound"] / 3
            steady &= ok
            summary[w][m["name"]] = {
                "median": med, "spread": round(sp, 4), "bound": m["bound"], "steady": ok,
            }
    dirty = _git("status", "--porcelain", "--", ".")
    bench_files = [ROOT / "BENCHMARK.json", *sorted((ROOT / "perfbench").glob("*.py"))]
    report = {
        "commit": _git("rev-parse", "HEAD"),
        "worktree_clean": dirty == "",
        # identifies the benchmark code when it ran on uncommitted changes
        "bench_sha256": hashlib.sha256(
            b"".join(p.read_bytes() for p in bench_files)
        ).hexdigest(),
        "nproc": len(os.sched_getaffinity(0)),
        "time": dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds"),
        "seeds": seeds,
        "run_seconds": bench["run_seconds"],
        "summary": summary,
        "runs": runs,
    }
    print(json.dumps(summary, indent=2))
    if args.out:
        args.out.write_text(json.dumps(report, indent=1) + "\n")
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
