"""Run the benchmark once per seed and summarise each end-to-end metric.

    python3 perfbench/series.py --seeds 1-10 [--workloads events_rank har_captures]
        [--seconds 10] [--log series.jsonl]

Runs ``run.py`` one invocation at a time (never two at once: they would
share the cores), for every workload in ``BENCHMARK.json`` unless
``--workloads`` is given. Prints, per workload and metric, the median, the
quartiles as ``statistics.quantiles(values, n=4)`` gives them, and the
spread (q3 - q1) / median next to the metric's bound. ``--log`` appends
every result line as JSON, so two series can be compared afterwards with
``--summarise``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_one(workload: str, seed: int, seconds: float) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=False,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    return {"workload": workload, "seed": seed, "exit": proc.returncode,
            "elapsed_s": time.perf_counter() - t0, "result": result}


def summarise(records: list[dict], bounds: dict[str, float]) -> None:
    by_wl: dict[str, list[dict]] = {}
    for r in records:
        by_wl.setdefault(r["workload"], []).append(r)
    for wl, rs in by_wl.items():
        ok = [r["result"] for r in rs if r["result"]]
        bad = sum(1 for r in rs if not r["result"] or not r["result"]["correct"])
        elapsed = [r["elapsed_s"] for r in rs]
        print(f"{wl}: {len(rs)} runs, {bad} failed or incorrect, "
              f"invocation median {statistics.median(elapsed):.1f} s, max {max(elapsed):.1f} s")
        names = ok[0]["metrics"] if ok else {}
        for m in names:
            vals = [r["metrics"][m]["value"] for r in ok]
            if len(vals) < 2:
                continue
            q1, q2, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            print(f"  {m:12s} median {med:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}  "
                  f"spread {(q3 - q1) / med:.4f}  bound {bounds.get(m, float('nan'))}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--log")
    ap.add_argument("--summarise", help="summarise an existing log instead of running")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    if args.summarise:
        with open(args.summarise) as fh:
            summarise([json.loads(line) for line in fh if line.strip()], bounds)
        return 0
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    seconds = args.seconds or bench["run_seconds"]
    records = []
    for wl in workloads:
        for seed in seeds(args.seeds):
            rec = run_one(wl, seed, seconds)
            records.append(rec)
            print(json.dumps(rec), flush=True)
            if args.log:
                with open(args.log, "a") as fh:
                    fh.write(json.dumps(rec) + "\n")
    summarise(records, bounds)
    return 0


if __name__ == "__main__":
    sys.exit(main())
