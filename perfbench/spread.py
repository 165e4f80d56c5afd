"""Run the benchmark on several seeds and report each metric's spread.

Usage, from the repository root:

    python3 perfbench/spread.py --workload checks_suite --seeds 1-10

Each run is a child process with tracing off. Its last stdout line must be a
complete result record (every end-to-end metric BENCHMARK.json names, each a
finite number with its unit); anything else stops the sweep and shows the
child's stderr tail. For each metric the spread is the distance between the first
and third quartile (``statistics.quantiles(values, n=4)``) as a share of
the median; ``bound/3`` is the steadiness target.
"""

from __future__ import annotations

import argparse
import json
import math
import statistics
import subprocess
import sys

#: a run that takes longer than this fails the sweep (the benchmark contract)
TIMEOUT_S = 180


def parse_seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def parse_result(stdout: str, stderr: str, names: dict) -> dict:
    """The child's result record, or SystemExit naming what is wrong."""
    lines = stdout.strip().splitlines()
    try:
        rec = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        rec = None
    problems = []
    if not isinstance(rec, dict) or set(rec) != {"correct", "attempted", "failed", "metrics"}:
        problems.append("last stdout line is not a result record")
    else:
        metrics = rec["metrics"]
        for name, unit in names.items():
            m = metrics.get(name) if isinstance(metrics, dict) else None
            if not (
                isinstance(m, dict)
                and m.get("unit") == unit
                and isinstance(m.get("value"), (int, float))
                and math.isfinite(m["value"])
            ):
                problems.append(f"metric {name} missing or malformed: {m!r}")
        if not rec["correct"]:
            problems.append("run reported correct=false")
    if problems:
        tail = "\n".join(stderr.splitlines()[-30:])
        raise SystemExit("; ".join(problems) + f"\n--- stderr tail ---\n{tail}")
    return rec


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args(argv)

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    specs = bench["end_to_end"]
    names = {m["name"]: m["unit"] for m in specs}
    values: dict[str, list[float]] = {n: [] for n in names}
    for seed in parse_seeds(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=TIMEOUT_S)
        if p.returncode != 0:
            tail = "\n".join(p.stderr.splitlines()[-30:])
            raise SystemExit(f"seed {seed}: exit {p.returncode}\n{tail}")
        rec = parse_result(p.stdout, p.stderr, names)
        for n in names:
            values[n].append(rec["metrics"][n]["value"])
        print(f"seed {seed}: attempted={rec['attempted']} failed={rec['failed']} "
              + " ".join(f"{n}={values[n][-1]:.4g}" for n in names), flush=True)

    summary = {}
    for m in specs:
        v = values[m["name"]]
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0], v[0], v[0])
        spread = (q3 - q1) / med if med else float("nan")
        summary[m["name"]] = {"median": med, "q1": q1, "q3": q3, "spread": spread}
        ok = "ok" if spread < m["bound"] / 3 else "WIDE"
        print(f"{m['name']:>20}: median={med:.5g} spread={spread:.4f} bound={m['bound']} {ok}")
    print(json.dumps({"workload": args.workload, "summary": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
