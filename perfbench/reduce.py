"""Trace reducer: turns a traced run's span dump into the per-layer
table — self time, call counts, Spark counters per call, and every ratio
with its base — and reports the tracing overhead against the untraced
run of the same workload and seed.

    python3 perfbench/reduce.py .bench_build/runs/viz_session-s1-t1.json \
        [--untraced .bench_build/runs/viz_session-s1-t0.json] [--json out.json]

Without --untraced, the `-t0` artifact next to the traced one is used
when it exists. Run the two with perfbench/run.py --trace 1 / --trace 0.
"""
import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


def overhead(traced, untraced):
    """Traced over untraced medians, minus one, per op name and per cycle."""
    t, u = metrics.Run(traced), metrics.Run(untraced)
    out = {}
    for name in sorted({s["name"] for s in t.ops}):
        a = [s["ms"] for s in t.named(name)]
        b = [s["ms"] for s in u.named(name)]
        if a and b:
            out[name] = (statistics.median(a), statistics.median(b))
    a, b = t.cycle_ms(), u.cycle_ms()
    if a and b:
        out["cycle (ops only)"] = (statistics.median(a), statistics.median(b))
    # what the client waits on per cycle, drains included
    a = [c["ms"] for c in t.cycles]
    b = [c["ms"] for c in u.cycles]
    if a and b:
        out["cycle (wall)"] = (statistics.median(a), statistics.median(b))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("traced")
    ap.add_argument("--untraced")
    ap.add_argument("--json")
    args = ap.parse_args()
    with open(args.traced) as fh:
        art = json.load(fh)
    if not art["traced"]:
        sys.exit("perfbench: not a traced artifact (run with --trace 1)")
    untraced_path = args.untraced or args.traced.replace("-t1.json", "-t0.json")
    untraced = None
    if os.path.exists(untraced_path) and untraced_path != args.traced:
        with open(untraced_path) as fh:
            untraced = json.load(fh)

    r = metrics.Run(art)
    cycles = max(1, len(r.cycles))
    selfs = metrics.self_times(art)
    total = sum(ms for _, ms in selfs.values())
    print(f"{art['workload']} seed {art['seed']}: {len(r.cycles)} cycles, "
          f"{len(r.ops)} calls, {total / 1000:.2f} s of spans")
    print(f"\n{'layer':22s} {'calls':>6s} {'self ms':>10s} {'ms/cycle':>9s} {'share':>6s}")
    for layer, (calls, ms) in sorted(selfs.items(), key=lambda kv: -kv[1][1]):
        print(f"{layer:22s} {calls:6d} {ms:10.1f} {ms / cycles:9.1f} {ms / total:6.1%}")

    print(f"\nSpark work per call, by layer")
    cols = metrics.COUNTERS
    print(f"{'layer':22s} " + " ".join(f"{c[:10]:>10s}" for c in cols))
    for layer in metrics.LAYERS:
        spans = [s for s in r.ops if metrics.layer_of(s["name"]) == layer]
        if spans:
            vals = [sum(s["ctr"].get(c, 0) for s in spans) / len(spans) for c in cols]
            print(f"{layer:22s} " + " ".join(f"{v:10.4g}" for v in vals))

    print(f"\nratios (numerator / base)")
    rat = metrics.ratios(art)
    for name, (num, den) in rat.items():
        if den:
            print(f"  {name:48s} {num / den:10.4g} = {num:.6g} / {den:.6g}")

    ovh = overhead(art, untraced) if untraced else {}
    if untraced:
        print(f"\ntracing overhead against {untraced_path} (traced / untraced median - 1)")
        for name, (a, b) in ovh.items():
            print(f"  {name:32s} {a:10.1f} ms {b:10.1f} ms {a / b - 1:+7.1%}")
    else:
        print(f"\nno untraced run at {untraced_path}: tracing overhead not measured")

    if args.json:
        with open(args.json, "w") as fh:
            json.dump({"self_ms": {k: {"calls": c, "ms": ms} for k, (c, ms) in selfs.items()},
                       "per_layer": metrics.per_layer(art),
                       "ratios": {n: {"value": (a / b if b else None), "num": a, "base": b}
                                  for n, (a, b) in rat.items()},
                       "overhead": {k: {"traced_ms": a, "untraced_ms": b, "frac": a / b - 1}
                                    for k, (a, b) in ovh.items()}}, fh, indent=1)


if __name__ == "__main__":
    main()
