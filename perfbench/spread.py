#!/usr/bin/env python3
"""Run a workload once per seed and report, per gated metric, the median,
the quartiles and the spread (interquartile distance over the median):

    python3 perfbench/spread.py --workload view-maintain --seeds 1-10 \
        [--seconds 8] [--out perfbench/baseline.json]

Runs are sequential (one engine JVM at a time). With --out, the summary is
merged into that JSON file under the workload's name.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent


def seeds(spec: str):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", type=float,
                    default=json.loads((BENCH.parent / "BENCHMARK.json").read_text())["run_seconds"])
    ap.add_argument("--out", type=Path)
    a = ap.parse_args()
    values, walls, failures = {}, [], 0
    for seed in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(a.seconds), "--trace", "0"],
                           capture_output=True, text=True)
        walls.append(time.time() - t0)
        last = p.stdout.strip().splitlines()[-1:] or ["{}"]
        res = json.loads(last[0]) if last[0].startswith("{") else {}
        if p.returncode != 0 or not res.get("correct"):
            failures += 1
            sys.stderr.write(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}\n")
            continue
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed}: {walls[-1]:.1f} s wall", file=sys.stderr)
    summary = {"runs": len(walls), "failed_runs": failures, "seconds": a.seconds,
               "wall_s_median": statistics.median(walls), "metrics": {}}
    for k, v in values.items():
        q1, q2, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0],) * 3
        summary["metrics"][k] = {"median": q2, "q1": q1, "q3": q3,
                                 "spread": (q3 - q1) / q2 if q2 else None, "values": v}
        print(f"{k:18s} median {q2:12.4f}  spread {(q3 - q1) / q2 if q2 else 0:.3f}")
    if a.out:
        doc = json.loads(a.out.read_text()) if a.out.exists() else {}
        doc[a.workload] = summary
        a.out.write_text(json.dumps(doc, indent=1) + "\n")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
