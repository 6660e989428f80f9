"""Record a baseline: two sets of ten runs (seeds 1-10) of every workload,
with their spread, and one traced run per workload.

    python3 perfbench/baseline.py --out perfbench/baseline/BASELINE.json

For each workload and set, every end-to-end metric gets its median and its
spread, the distance between the first and third quartile of the runs
(``statistics.quantiles(values, n=4)``) as a share of the median.  The
second set's median is also reported relative to the first.  The two sets
are interleaved (for each seed: set 1 then set 2, every workload) so a
drift in the machine's speed lands on both sets alike.  Each run is its own
process, exactly as ``BENCHMARK.json``'s command is run.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETS = 2
SEEDS = list(range(1, 11))
TRACE_SEED = 1


def run_once(spec: dict, workload: str, seed: int, trace: int) -> dict:
    t0 = time.time()
    p = subprocess.run(spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    return {"seed": seed, "trace": trace, "returncode": p.returncode,
            "wall_s": wall, "result": result,
            "stderr_tail": None if p.returncode == 0 else p.stderr[-2000:]}


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    q = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q[0], "q3": q[2],
            "iqr_over_median": (q[2] - q[0]) / med if med else None,
            "values": values}


def summarize(runs: list[dict], metrics: list[str]) -> dict:
    ok = [r["result"] for r in runs if r["result"]]
    return {m: spread([r["metrics"][m]["value"] for r in ok]) for m in metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    e2e = [m["name"] for m in spec["end_to_end"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    out = {"host": {"cpus": len(os.sched_getaffinity(0)),
                    "machine": platform.machine(),
                    "python": platform.python_version()},
           "run_seconds": spec["run_seconds"], "seeds": SEEDS, "workloads": {}}
    runs = {name: [[] for _ in range(SETS)] for name in names}

    def write() -> None:
        for name in names:
            sets = [{"runs": r, "summary": summarize(r, e2e)}
                    for r in runs[name] if len(r) >= 2]
            entry = out["workloads"].setdefault(name, {})
            entry["sets"] = sets
            if len(sets) == SETS:
                first, second = sets[0]["summary"], sets[1]["summary"]
                entry["second_over_first"] = {
                    m: second[m]["median"] / first[m]["median"] for m in e2e}
                entry["within_bounds"] = all(
                    s["summary"][m]["iqr_over_median"] <= bounds[m]
                    for s in sets for m in e2e)
        Path(args.out).parent.mkdir(parents=True, exist_ok=True)
        Path(args.out).write_text(json.dumps(out, indent=1) + "\n")

    for seed in SEEDS:
        for k in range(SETS):
            for name in names:
                r = run_once(spec, name, seed, 0)
                runs[name][k].append(r)
                print(f"{name} set {k} seed {seed} rc {r['returncode']} "
                      f"wall {r['wall_s']:.1f}s", file=sys.stderr, flush=True)
        write()
    for name in names:
        traced = run_once(spec, name, TRACE_SEED, 1)
        print(f"{name} traced rc {traced['returncode']} wall {traced['wall_s']:.1f}s",
              file=sys.stderr, flush=True)
        out["workloads"][name]["traced"] = traced
        write()
    return 0


if __name__ == "__main__":
    sys.exit(main())
