"""Interleaved A/B of two source checkouts on the perfbench workloads.

Usage:
    python tools/perfbench_ab.py <base_checkout> <change_checkout> \
        [--workload elt_daily] [--workload analytics] [--pairs 10] \
        [--seed0 1000] [--out runs.jsonl]

Each pair runs ``python3 perfbench/run.py --workload W --seed S
--seconds 8 --trace 0`` once in each checkout, one after the other,
with the same fresh seed (``seed0``, ``seed0 + 1``, ...). The order
alternates from pair to pair (base first, then change first), so a
drift of the machine over the session lands on both sides alike.

For every workload and metric it prints the median [q1–q3] of each
side, the median's relative change, and in how many pairs the change
was better (each metric's direction comes from the base checkout's
``BENCHMARK.json``; an unlisted metric counts lower as better). A run
that exits non-zero, prints no JSON, or reports ``correct: false`` or
``failed > 0`` stops the session before any summary: a speed figure of
a wrong answer is no figure. ``--out`` appends every run's JSON line,
tagged with side, workload, pair and seed, to a file.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("base")
    p.add_argument("change")
    p.add_argument("--workload", action="append", dest="workloads")
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seed0", type=int, default=1000)
    p.add_argument("--out")
    a = p.parse_args(argv)
    a.workloads = a.workloads or ["elt_daily"]
    return a


def run_once(checkout: str, workload: str, seed: int) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", "8", "--trace", "0",
    ]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    try:
        out = json.loads(lines[-1])
    except (IndexError, ValueError):
        out = None
    if p.returncode != 0 or out is None or not out.get("correct") or out.get("failed", 0) > 0:
        tail = "\n".join(p.stderr.splitlines()[-20:])
        raise SystemExit(
            f"perfbench_ab: refusing to summarize: {checkout} {workload} seed {seed} "
            f"exited {p.returncode} with {lines[-1] if lines else 'no output'}\n{tail}"
        )
    return out


def directions(checkout: str) -> dict[str, str]:
    with open(os.path.join(checkout, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {m["name"]: m["better"] for m in bench["end_to_end"]}


def spread(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def summarize(workload: str, pairs: list[dict], better: dict[str, str]) -> None:
    names = sorted(set(pairs[0]["base"]["metrics"]) & set(pairs[0]["change"]["metrics"]))
    print(f"== {workload}: {len(pairs)} pairs, seeds {[p['seed'] for p in pairs]}")
    for name in names:
        b = [p["base"]["metrics"][name]["value"] for p in pairs]
        c = [p["change"]["metrics"][name]["value"] for p in pairs]
        unit = pairs[0]["base"]["metrics"][name]["unit"]
        lower = better.get(name, "lower") == "lower"
        wins = sum((y < x) if lower else (y > x) for x, y in zip(b, c))
        bq1, bmed, bq3 = spread(b)
        cq1, cmed, cq3 = spread(c)
        rel = (cmed - bmed) / bmed * 100 if bmed else float("nan")
        print(
            f"{name:32s} {unit:>5s}  base {bmed:10.4g} [{bq1:.4g}–{bq3:.4g}]"
            f"  change {cmed:10.4g} [{cq1:.4g}–{cq3:.4g}]"
            f"  {rel:+6.1f}%  change better {wins}/{len(pairs)}"
            f"  (base q1–q3 {bq3 - bq1:.4g})"
        )


def main(argv=None) -> int:
    a = parse_args(argv)
    sides = {"base": os.path.abspath(a.base), "change": os.path.abspath(a.change)}
    better = directions(sides["base"])
    for workload in a.workloads:
        pairs = []
        for i in range(a.pairs):
            seed = a.seed0 + i
            order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
            pair = {"seed": seed}
            for side in order:
                out = run_once(sides[side], workload, seed)
                pair[side] = out
                if a.out:
                    with open(a.out, "a") as fh:
                        fh.write(json.dumps({
                            "side": side, "workload": workload, "pair": i,
                            "seed": seed, "first": order[0], **out,
                        }) + "\n")
            pairs.append(pair)
            print(f"{workload} pair {i + 1}/{a.pairs} seed {seed} done", file=sys.stderr, flush=True)
        summarize(workload, pairs, better)
    return 0


if __name__ == "__main__":
    sys.exit(main())
