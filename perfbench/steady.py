"""Run one workload on several seeds and report each end-to-end
metric's median and quartile spread (Q3 - Q1 over the median), the
steadiness figure ``BENCHMARK.json``'s bounds are judged against.

    python3 perfbench/steady.py <workload> <first_seed> <n_seeds> [out.json]

Runs are sequential, one process each, from the repository root.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    if len(sys.argv) < 4:
        print(__doc__, file=sys.stderr)
        return 2
    workload, first, n = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    runs = []
    for seed in range(first, first + n):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
               "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        if out.returncode != 0:
            print(out.stderr[-2000:], file=sys.stderr)
            return 1
        lines = out.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        details = next((json.loads(x[len("# details "):]) for x in lines if x.startswith("# details ")), {})
        runs.append({"seed": seed, **result, "details": details})
        print(f"seed {seed}: correct={result['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
    summary = {}
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        summary[m["name"]] = {"median": med, "spread": (q3 - q1) / med, "bound": m["bound"]}
        print(f"{m['name']}: median {med:.4g} spread {(q3 - q1) / med:.3f} bound {m['bound']}")
    if len(sys.argv) > 4:
        with open(sys.argv[4], "w") as f:
            json.dump({"workload": workload, "seeds": [r["seed"] for r in runs],
                       "summary": summary, "runs": runs}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
