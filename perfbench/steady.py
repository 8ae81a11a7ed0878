"""A/A steadiness check: run one workload repeatedly on the same code.

    python3 perfbench/steady.py --workload mart_query --runs 10 [--first-seed 1] [--traced]

Each run gets its own seed (``--first-seed``, +1, ...). For every
end-to-end metric in BENCHMARK.json the command prints the median, the
quartiles (``statistics.quantiles(values, n=4)``) and the spread
(Q3 - Q1) / median against the metric's bound; a spread at or above a
third of the bound is flagged. Each run's host regime (steal jiffies,
load, CPU count, available memory) is printed as a diagnostic.
``--traced`` adds one traced run and reports the tracing overhead: its
op p50 against the untraced runs' median op p50.

Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def one_run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {proc.returncode})")
    diag = {}
    for line in lines[:-1]:
        key, _, rest = line.partition(": ")
        if key in ("host", "phases"):
            diag[key] = json.loads(rest)
    return json.loads(lines[-1]), diag


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    values: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
    for i in range(args.runs):
        seed = args.first_seed + i
        res, diag = one_run(args.workload, seed, seconds, 0)
        row = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} {json.dumps(row)}")
        print(f"  host {json.dumps(diag.get('host'))} phases {json.dumps(diag.get('phases'))}")
        for name in values:
            values[name].append(res["metrics"][name]["value"])

    print(f"\n{args.workload}: {args.runs} runs, {seconds} s each")
    print(f"{'metric':20s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}")
    for m in bench["end_to_end"]:
        vals = values[m["name"]]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med
        flag = "" if spread < m["bound"] / 3 else "  <-- above bound/3"
        print(f"{m['name']:20s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f} "
              f"{m['bound']:6.2f}{flag}")

    if args.traced:
        res, _ = one_run(args.workload, args.first_seed, seconds, 1)
        traced = res["metrics"]["trace.op_p50_s"]["value"]
        untraced = statistics.median(values["op_p50_s"])
        print(f"\ntraced op p50 {traced:.4f} s vs untraced median {untraced:.4f} s: "
              f"tracing overhead {traced / untraced - 1.0:+.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
