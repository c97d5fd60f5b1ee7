"""Self-test: two traced runs with the same seed must count the same
Spark jobs for every span they share.

    python3 perfbench/selftest.py --workload elt_daily --seed 3

Runs ``run.py --trace 1`` twice and compares the job ledgers span by
span (phase, name, exact job count) over their common prefix, plus the
per-layer ``*.jobs`` metrics. Exits 1 and prints the first differences
when they disagree.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(os.path.dirname(HERE), ".perfbench_run")


def traced_run(workload: str, seed: int, seconds: float) -> tuple[list, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        raise SystemExit(f"selftest: run failed with exit {p.returncode}")
    metrics = json.loads(p.stdout.strip().splitlines()[-1])["metrics"]
    with open(os.path.join(OUT, f"ledger-{workload}-seed{seed}-trace1.json")) as fh:
        return json.load(fh)["spans"], {k: v["value"] for k, v in metrics.items() if k.endswith(".jobs")}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=8)
    a = p.parse_args()
    (l1, j1), (l2, j2) = (traced_run(a.workload, a.seed, a.seconds) for _ in range(2))
    n = min(len(l1), len(l2))
    diffs = [(i, x, y) for i, (x, y) in enumerate(zip(l1[:n], l2[:n])) if x != y]
    diffs += [(k, j1[k], j2.get(k)) for k in j1 if j1[k] != j2.get(k)]
    print(json.dumps({"workload": a.workload, "seed": a.seed, "spans_compared": n,
                      "jobs_compared": sum(r[2] for r in l1[:n]), "differences": diffs[:20]}))
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main())
