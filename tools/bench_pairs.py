#!/usr/bin/env python3
"""Alternating parent/change benchmark pairs from two checkouts.

    tools/bench_pairs.py --parent DIR --change DIR --workload NAME
                         [--pairs 10] [--seconds 10] [--seed 1] [--metric objects_per_s]
                         [--out FILE]

Runs `python3 perfbench/run.py` in each checkout, one JVM run per side per
pair. Pair i uses seed `--seed + i` on both sides, and the side that runs
first alternates (parent first on even pairs). Each checkout builds its own
sources into its own `.bench_build/`; make the parent checkout with
`git clone` or `git archive` of the parent commit.

Prints every pair, then each side's median and quartiles of the metric, the
pairs the change won (the metric's direction comes from the change's
BENCHMARK.json), whether the medians differ by more than the parent's
interquartile distance, and every calibration-drift warning a run printed.
A per-layer metric of BENCHMARK.json runs each side with `--trace 1`. Exits
non-zero when a run fails or reports incorrect output.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds, trace):
    """One benchmark run: (result JSON, drift warnings, error or None)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    warnings = [l for l in p.stderr.splitlines() if "calibration drifted" in l]
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if not lines:
        tail = "\n".join(p.stderr.splitlines()[-5:])
        return None, warnings, f"exit {p.returncode}, no result:\n{tail}"
    res = json.loads(lines[-1])
    err = None if p.returncode == 0 and res.get("correct") else f"exit {p.returncode}, correct={res.get('correct')}"
    return res, warnings, err


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else (xs[0],) * 3
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--metric", default="objects_per_s")
    ap.add_argument("--out", help="write every run's result JSON here")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    if a.metric not in metrics:
        raise SystemExit(f"bench_pairs: {a.metric} is not a metric of BENCHMARK.json")
    higher = metrics[a.metric]["better"] == "higher"
    trace = int(all(m["name"] != a.metric for m in spec["end_to_end"]))

    sides = {"parent": a.parent, "change": a.change}
    values = {"parent": [], "change": []}
    runs, warnings, errors = [], [], []
    for i in range(a.pairs):
        seed = a.seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {}
        for side in order:
            res, warn, err = run(sides[side], a.workload, seed, a.seconds, trace)
            warnings += [f"pair {i + 1} {side}: {w}" for w in warn]
            if err:
                errors.append(f"pair {i + 1} {side} (seed {seed}): {err}")
            if res is None:
                continue
            runs.append({"pair": i + 1, "side": side, "seed": seed, "result": res})
            pair[side] = res["metrics"][a.metric]["value"]
        if len(pair) == 2:
            for side in sides:
                values[side].append(pair[side])
            diff = (pair["change"] - pair["parent"]) * (1 if higher else -1)
            verdict = "win" if diff > 0 else "loss" if diff < 0 else "tie"
            print(f"pair {i + 1:2d} seed {seed:3d} {order[0]} first: parent {pair['parent']:.4g}  "
                  f"change {pair['change']:.4g}  {verdict}", flush=True)
        else:
            print(f"pair {i + 1:2d} seed {seed:3d}: incomplete", flush=True)

    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "metric": a.metric, "runs": runs}, f, indent=1)
    n = len(values["parent"])
    if n:
        for side in sides:
            q1, q2, q3 = quartiles(values[side])
            print(f"{side:6s} median {q2:.4g}  quartiles {q1:.4g} .. {q3:.4g}  (n={n})")
        wins = sum((c > p) if higher else (c < p) for p, c in zip(values["parent"], values["change"]))
        p1, pm, p3 = quartiles(values["parent"])
        cm = statistics.median(values["change"])
        gain = cm - pm if higher else pm - cm
        print(f"{a.metric} ({'higher' if higher else 'lower'} is better): change won {wins} of {n} pairs; "
              f"median gain {gain:+.4g} against the parent's interquartile distance {p3 - p1:.4g} "
              f"({'beyond' if gain > p3 - p1 else 'within'} it)")
    for w in warnings:
        print(f"WARNING {w}")
    for e in errors:
        print(f"ERROR {e}")
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()
