#!/usr/bin/env python3
"""Interleaved A/B pairs of the benchmark between two checkouts.

    python3 tools/abpairs.py PARENT_DIR CHANGE_DIR --workload replay \
        [--workload tail ...] [--pairs 10] [--seed 1000] [--seconds 10] \
        [--trace 0] [--out runs.json]

Pair i runs `perfbench/run.py --seed SEED+i` in both checkouts, the parent
first in even pairs and the change first in odd ones, so a drift of the
host falls on both sides alike. It prints, per workload and metric, each
side's median and quartiles, the pairs the change wins (by the direction
BENCHMARK.json gives) and the parent's quartile spread, then the checks
failed on each side with the host's steal share (/proc/stat) during the
runs. Each checkout builds its own program on its first run.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def steal_total():
    v = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:9]]
    return v[7], sum(v)


def run(checkout, workload, seed, args):
    s0, t0 = steal_total()
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.exit(f"{checkout}: {' '.join(cmd)} exited {p.returncode}\n{p.stderr[-2000:]}")
    s1, t1 = steal_total()
    return dict(json.loads(lines[-1]), seed=seed, steal=(s1 - s0) / max(1, t1 - t0))


def quartiles(xs):
    return statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    bench = json.loads((Path(args.change) / "BENCHMARK.json").read_text())
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    runs = {w: {"parent": [], "change": []} for w in args.workload}
    for i in range(args.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for w in args.workload:
            for side in order:
                r = run(getattr(args, side), w, args.seed + i, args)
                runs[w][side].append(r)
                v = r["metrics"].get("items_per_s")
                print(f"pair {i} {w} {side}: failed {r['failed']}"
                      + (f", items_per_s {v['value']:.0f}" if v else ""), file=sys.stderr)
        if args.out:
            Path(args.out).write_text(json.dumps(runs, indent=1))
    for w, sides in runs.items():
        print(f"== {w}: {len(sides['parent'])} pairs")
        print(f"{'metric':42} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} wins  p.IQR")
        for m in sides["parent"][0]["metrics"]:
            a = [r["metrics"][m]["value"] for r in sides["parent"]]
            b = [r["metrics"][m]["value"] for r in sides["change"]]
            sign = 1 if better.get(m, "lower") == "higher" else -1
            wins = sum(sign * (y - x) > 0 for x, y in zip(a, b))
            qa, qb = quartiles(a), quartiles(b)
            fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
            print(f"{m:42} {fmt(qa):>30} {fmt(qb):>30} {wins:>4}  {qa[2] - qa[0]:.4g}")
        for side, rs in sides.items():
            steal = [r["steal"] for r in rs]
            print(f"{side}: failed {[r['failed'] for r in rs]} of {rs[0]['attempted']}, "
                  f"host steal median {statistics.median(steal):.4f} max {max(steal):.4f}")


if __name__ == "__main__":
    main()
