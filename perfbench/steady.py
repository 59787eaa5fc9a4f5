#!/usr/bin/env python3
"""Steadiness check: run one workload in two sets of repeated runs and print,
for each metric, each set's median and quartiles, the quartile spread as a
share of the median, and how far the second median moved from the first.

    python3 perfbench/steady.py --workload replay [--runs 10] [--sets 2] \
        [--seconds 10] [--trace 0] [--first-seed 1]

Every run gets its own seed. Each run's host steal share (from /proc/stat)
is printed next to it, so runs made under contention stand out. With
`--trace 1` the end-to-end figures of the traced runs are summarised too,
which gives the tracing overhead against an untraced set. The summary is
also written to `.bench_work/steady-<workload>-trace<n>.json`.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
E2E = ["items_per_s", "cpu_us_per_item", "setup_s", "retained_mb", "latency_p50_ms"]


def cpu_times():
    """(steal, total) jiffies of the whole host."""
    f = Path("/proc/stat").read_text().splitlines()[0].split()[1:]
    v = [int(x) for x in f[:8]]
    return v[7], sum(v)


def one_run(workload, seed, seconds, trace):
    s0, t0 = cpu_times()
    w0 = time.time()
    r = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    s1, t1 = cpu_times()
    if r.returncode != 0:
        sys.exit(f"run failed (seed {seed}):\n{r.stderr[-3000:]}")
    res = json.loads(r.stdout.strip().splitlines()[-1])
    values = {k: v["value"] for k, v in res["metrics"].items()}
    if trace:
        allm = json.loads((ROOT / ".bench_work" / workload / "all_metrics.json").read_text())
        values.update({f"traced:{k}": allm[k] for k in E2E if k in allm})
    return {"seed": seed, "correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"], "steal": (s1 - s0) / max(1, t1 - t0),
            "wall_s": time.time() - w0, "values": values}


def summary(runs):
    out = {}
    for k in runs[0]["values"]:
        xs = [r["values"][k] for r in runs]
        q1, q2, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
        med = statistics.median(xs)
        out[k] = {"median": med, "q1": q1, "q3": q3,
                  "spread": (q3 - q1) / med if med else 0.0}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    sets = []
    for s in range(a.sets):
        runs = []
        for i in range(a.runs):
            seed = a.first_seed + s * 1000 + i
            r = one_run(a.workload, seed, a.seconds, a.trace)
            runs.append(r)
            print(f"set {s + 1} seed {seed}: correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} steal={r['steal']:.3f} "
                  f"wall={r['wall_s']:.1f}s", file=sys.stderr)
        sets.append(runs)
    sums = [summary(runs) for runs in sets]
    print(f"{'metric':44} " + "  ".join(f"{'median':>11} {'q1':>11} {'q3':>11} {'spread':>7}"
                                          for _ in sums) + "   shift")
    for k in sums[0]:
        cols = "  ".join(f"{s[k]['median']:11.4g} {s[k]['q1']:11.4g} {s[k]['q3']:11.4g} "
                         f"{s[k]['spread']:7.3f}" for s in sums)
        shift = (sums[-1][k]["median"] / sums[0][k]["median"] - 1
                 if sums[0][k]["median"] else 0.0)
        print(f"{k:44} {cols}   {shift:+.3f}")
    for i, runs in enumerate(sets):
        share = [r["failed"] / r["attempted"] for r in runs]
        steal = [r["steal"] for r in runs]
        print(f"set {i + 1}: failed share {sorted(set(share))}, steal median "
              f"{statistics.median(steal):.3f} max {max(steal):.3f}, all correct "
              f"{all(r['correct'] for r in runs)}")
    out = ROOT / ".bench_work" / f"steady-{a.workload}-trace{a.trace}.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps({"sets": sets, "summary": sums}, indent=1))


if __name__ == "__main__":
    main()
