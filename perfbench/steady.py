"""Steadiness check: runs each workload once per seed and reports, for
every end-to-end metric, the median and quartiles of the runs and the
spread (Q3 - Q1) / median against the metric's bound in BENCHMARK.json.
A metric whose spread is wider than its bound is flagged; one wider
than a third of its bound is marked as not yet steady.

    python3 perfbench/steady.py --seeds 10 [--first-seed 1] [--workload NAME]

Run from the repository root. Exits 1 if any metric is flagged.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out", help="write every run's result line here (JSON)")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    flagged = False
    record = {}
    for w in workloads:
        rows = []
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            cmd = spec["command"] + ["--workload", w, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            r = subprocess.run(cmd, capture_output=True, text=True)
            if r.returncode != 0:
                print(f"{w} seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}", file=sys.stderr)
                sys.exit(1)
            res = json.loads(r.stdout.strip().splitlines()[-1])
            rows.append(res)
            print(f"{w} seed {seed}: correct={res['correct']} failed={res['failed']}/"
                  f"{res['attempted']} " + " ".join(
                      f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        record[w] = rows
        print(f"\n{w}: {len(rows)} runs")
        print(f"  {'metric':22s} {'median':>11s} {'q1':>11s} {'q3':>11s} {'spread':>7s} {'bound':>6s}")
        for name, bound in bounds.items():
            med, q1, q3, sp = spread([r["metrics"][name]["value"] for r in rows])
            mark = ""
            if sp > bound:
                mark, flagged = "  WIDER THAN BOUND", True
            elif sp > bound / 3:
                mark = "  above bound/3"
            print(f"  {name:22s} {med:11.4g} {q1:11.4g} {q3:11.4g} {sp:7.3f} {bound:6.2f}{mark}")
        bad = [r for r in rows if not r["correct"] or r["failed"]]
        if bad:
            flagged = True
            print(f"  {len(bad)} run(s) had failed operations")
        print()
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(record, fh)
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
