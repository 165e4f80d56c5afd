"""Interleaved A/B comparison of two checkouts on one perfbench workload.

Usage, from the repository root (each checkout is a directory holding the
repository at one commit, e.g. made with ``git worktree add``):

    python3 scripts/perfbench_ab.py --base ../parent --head . \\
        --workload row_full --pairs 10 --seeds 1-10

Pair ``i`` runs ``perfbench/run.py`` (tracing off, the run length
BENCHMARK.json fixes) once in each checkout with seed ``seeds[i % n]``; the
base runs first in even pairs and the head first in odd ones, so host drift
falls on both sides alike. Each run is checked the way ``perfbench/spread.py``
checks a sweep run (a complete, correct result record) and its metrics are
printed as it finishes.

For each end-to-end metric the summary gives each side's median and
quartiles, the head's median change, and the share of pairs the head won
(ties count for neither). A gain is flagged when the head wins at least
nine tenths of the pairs and the medians differ by more than the base's
quartile distance; a regression when the head's median is worse than the
base's by more than the metric's bound; ``unresolved`` when neither holds
and the base's own quartile distance is wider than the bound, unless every
head run reads better than every base run. The last stdout line is a JSON
record of every run and the summary.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from spread import TIMEOUT_S, parse_result, parse_seeds  # noqa: E402


def run_once(checkout: str, bench: dict, workload: str, seed: int, names: dict) -> dict:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", "0",
    ]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=TIMEOUT_S)
    if p.returncode != 0:
        tail = "\n".join(p.stderr.splitlines()[-30:])
        raise SystemExit(f"{checkout} seed {seed}: exit {p.returncode}\n{tail}")
    rec = parse_result(p.stdout, p.stderr, names)
    return {n: rec["metrics"][n]["value"] for n in names}


def quartiles(v: list[float]) -> tuple[float, float, float]:
    """First quartile, median, third quartile, as ``perfbench/spread.py``
    computes them inline (it exposes no function for it)."""
    return tuple(statistics.quantiles(v, n=4)) if len(v) > 1 else (v[0],) * 3


def summarize(spec: dict, base: list[float], head: list[float]) -> dict:
    lower = spec["better"] == "lower"
    b_q1, b_med, b_q3 = quartiles(base)
    h_q1, h_med, h_q3 = quartiles(head)
    wins = sum((h < b) if lower else (h > b) for b, h in zip(base, head))
    gap = (b_med - h_med) if lower else (h_med - b_med)  # > 0: head better
    worse = -gap / b_med if b_med else 0.0
    iqr = b_q3 - b_q1
    all_better = (max(head) < min(base)) if lower else (min(head) > max(base))
    if wins >= 0.9 * len(base) and gap > iqr:
        verdict = "gain"
    elif worse > spec["bound"]:
        verdict = "REGRESSION"
    elif b_med and iqr / b_med > spec["bound"] and not all_better:
        verdict = "unresolved"
    else:
        verdict = "within bound"
    return {
        "base": {"q1": b_q1, "median": b_med, "q3": b_q3},
        "head": {"q1": h_q1, "median": h_med, "q3": h_q3},
        "change": (h_med - b_med) / b_med if b_med else float("nan"),
        "wins": wins, "pairs": len(base), "bound": spec["bound"], "verdict": verdict,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--head", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args(argv)

    # both sides run the benchmark as the base checkout declares it
    with open(os.path.join(args.base, "BENCHMARK.json")) as f:
        bench = json.load(f)
    specs = bench["end_to_end"]
    names = {m["name"]: m["unit"] for m in specs}
    seeds = parse_seeds(args.seeds)
    runs = {"base": [], "head": []}
    for i in range(args.pairs):
        seed = seeds[i % len(seeds)]
        order = ("base", "head") if i % 2 == 0 else ("head", "base")
        for side in order:
            vals = run_once(getattr(args, side), bench, args.workload, seed, names)
            runs[side].append({"pair": i, "seed": seed, **vals})
            print(f"pair {i} seed {seed} {side}: "
                  + " ".join(f"{n}={vals[n]:.4g}" for n in names), flush=True)

    summary = {}
    print(f"\n{args.workload}, {args.pairs} pairs; base median [q1, q3] -> head median "
          "[q1, q3], change, head wins")
    for m in specs:
        n = m["name"]
        s = summarize(m, [r[n] for r in runs["base"]], [r[n] for r in runs["head"]])
        summary[n] = s
        b, h = s["base"], s["head"]
        print(f"{n:>12}: {b['median']:.4g} [{b['q1']:.4g}, {b['q3']:.4g}] -> "
              f"{h['median']:.4g} [{h['q1']:.4g}, {h['q3']:.4g}], "
              f"{s['change']:+.1%}, {s['wins']}/{s['pairs']}: {s['verdict']}")
    print(json.dumps({"workload": args.workload, "runs": runs, "summary": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
