"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload pixels --runs 10 [--first-seed 1] [--out f.json]
    python3 perfbench/spread.py --compare a.json b.json

Runs ``run.py`` once per seed, one run at a time, and prints for every
metric the median and the interquartile range as a share of the median
(``statistics.quantiles(values, n=4)``), the same figure the bounds in
BENCHMARK.json are compared with.  ``--compare`` takes two saved sets
and prints how far the second set's medians moved from the first's, in
each metric's worse direction, against its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def compare(path_a: str, path_b: str, spec: dict) -> int:
    with open(path_a) as fh:
        a = json.load(fh)["spread"]
    with open(path_b) as fh:
        b = json.load(fh)["spread"]
    for m in spec["end_to_end"]:
        ma, mb = a[m["name"]]["median"], b[m["name"]]["median"]
        worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
        flag = "ok" if worse <= m["bound"] else "WORSE"
        print(f"{m['name']:16s} {ma:14.4f} -> {mb:14.4f}  worse by {worse:+.4f}"
              f"  bound {m['bound']}  {flag}")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--compare", nargs=2, metavar="SET")
    ap.add_argument("--workload")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.compare:
        return compare(*args.compare, spec)
    if not args.workload:
        ap.error("--workload is required")
    runs = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                                 "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(proc.stderr[-3000:], file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        contention = json.loads(lines[-2]) if len(lines) > 1 else {}
        runs.append({"seed": seed, **result, **contention})
        print(json.dumps({"seed": seed, "correct": result["correct"],
                          "failed": result["failed"], "attempted": result["attempted"],
                          **{k: round(v["value"], 4) for k, v in result["metrics"].items()}}),
              flush=True)
    names = list(runs[0]["metrics"])
    table = {}
    for n in names:
        vals = [r["metrics"][n]["value"] for r in runs]
        table[n] = {"median": statistics.median(vals),
                    "iqr_share": spread(vals) if len(vals) >= 2 and statistics.median(vals) else 0.0}
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    for n, t in table.items():
        b = bounds.get(n)
        flag = "" if b is None else ("ok" if t["iqr_share"] <= b / 3 else "WIDE")
        print(f"{n:28s} median {t['median']:14.4f}  iqr/median {t['iqr_share']:.4f}  {flag}")
    fail_share = {r["failed"] / r["attempted"] for r in runs}
    print(f"failed share over runs: {sorted(fail_share)}  all correct: {all(r['correct'] for r in runs)}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "runs": runs, "spread": table}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
