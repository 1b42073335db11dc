"""Run the benchmark once per seed and summarize the spread.

    python3 perfbench/repeat.py --workload curate_calib --seeds 1-10 \
        --seconds 12 --trace 0 --out perfbench/results/curate_calib.json

Runs ``perfbench/run.py`` sequentially (never two Spark JVMs at once),
keeps every run's result line and full record (steal fraction, every
operation), and reports for each metric the median, the quartiles
(``statistics.quantiles(values, n=4)``) and their distance as a share
of the median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def summarize(runs: list[dict]) -> dict[str, dict]:
    names = sorted({k for r in runs for k in r["result"]["metrics"]})
    out = {}
    for k in names:
        vals = [r["result"]["metrics"][k]["value"] for r in runs if k in r["result"]["metrics"]]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        out[k] = {"n": len(vals), "median": med, "q1": q1, "q3": q3,
                  "spread": (q3 - q1) / med if med else 0.0,
                  "unit": runs[0]["result"]["metrics"].get(k, {}).get("unit")}
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    runs = []
    for seed in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(a.seconds), "--trace", str(a.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=900,
        )
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        record, result = json.loads(lines[-2]), json.loads(lines[-1])
        runs.append({"seed": seed, "process_s": time.time() - t0,
                     "steal_frac": record["steal_frac"], "result": result, "record": record})
        m = {k: round(v["value"], 3) for k, v in result["metrics"].items()
             if not a.trace or k.startswith("trace.")}
        print(f"seed {seed}: {time.time() - t0:.0f}s steal {record['steal_frac']:.3f} "
              f"correct {result['correct']} {m}", flush=True)
    summary = summarize(runs)
    for k, s in summary.items():
        if not a.trace or k.startswith("trace."):
            print(f"{k:32s} median {s['median']:12.4f}  spread {s['spread']:.4f}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "seconds": a.seconds, "trace": a.trace,
                       "summary": summary, "runs": runs}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
