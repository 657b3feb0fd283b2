"""Steadiness check: run one workload on several seeds and report, per
end-to-end metric and for the printed ``op_s``, the median and the
quartile spread (Q3 - Q1, from ``statistics.quantiles(values, n=4)``) as
a share of the median.

Usage (from the repository root)::

    python3 perfbench/spread.py nightly_run 1,2,3,4,5,6,7,8,9,10 [seconds]

Each run's result line is appended to ``.perfbench/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time


def main() -> int:
    workload, seeds = sys.argv[1], [int(s) for s in sys.argv[2].split(",")]
    seconds = sys.argv[3] if len(sys.argv) > 3 else "12"
    os.makedirs(".perfbench", exist_ok=True)
    log = os.path.join(".perfbench", f"spread-{workload}.jsonl")
    rows = []
    for seed in seeds:
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload,
             "--seed", str(seed), "--seconds", seconds, "--trace", "0"],
            capture_output=True, text=True, check=True,
        )
        lines = proc.stdout.strip().splitlines()
        row = json.loads(lines[-1])
        op_s = next(x for x in lines if x.startswith("op_s = ")).split()[2]
        row.update(seed=seed, run_s=time.time() - t0, summary=lines[0],
                   op_s=float(op_s))
        rows.append(row)
        with open(log, "a") as fh:
            fh.write(json.dumps(row) + "\n")
        print(f"seed {seed}: {row['run_s']:.0f} s, correct={row['correct']}, "
              f"op_s={row['op_s']:.4g}, "
              + ", ".join(f"{k}={v['value']:.4g}" for k, v in row["metrics"].items()),
              flush=True)
    print(f"{workload}: {len(rows)} runs, median run {statistics.median(r['run_s'] for r in rows):.0f} s")
    values = {name: [r["metrics"][name]["value"] for r in rows]
              for name in rows[0]["metrics"]}
    values["op_s"] = [r["op_s"] for r in rows]
    for name, vals in values.items():
        q1, _, q3 = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
        print(f"  {name}: median {med:.4g}, spread {(q3 - q1) / med:.4f}")
    return 0 if all(r["correct"] for r in rows) else 1


if __name__ == "__main__":
    sys.exit(main())
