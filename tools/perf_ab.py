#!/usr/bin/env python3
"""Paired A/B runs of the repository benchmark between two checkouts.

Runs `perfbench/run.py --workload <w> --seed <s> --seconds <t> --trace 0`
once in each checkout per pair, one seed per pair, the side that goes
first alternating from pair to pair (pair 0: parent first). Each run
builds and runs from its own checkout; nothing under perfbench/ is
changed. Prints one line per run, then, for every end-to-end metric the
change checkout's BENCHMARK.json names, each side's median and
quartiles, the change's wins over its paired parent run, and whether
the median gap exceeds the parent's interquartile range; then, per op,
each side's median latency (build + exec) over the timed ops of the
complete pairs, read from the runs' ops.jsonl, so an A/B shows which op
moved:

    tools/perf_ab.py <parent-checkout> <change-checkout> --workload <w> --pairs <n>
        [--seed0 <first seed>] [--seconds <s>]

A run that exits non-zero or reports failed ops is shown, and its pair
is left out of the win count. Exit status: 0 when every run succeeded.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_one(checkout, workload, seed, seconds):
    """The result line of one benchmark run, or None and the error tail.
    The line gains `op_latencies`: {op name: [latency_s of each timed,
    error-free op]}, from the run's ops.jsonl."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        return None, "\n".join(p.stderr.splitlines()[-5:])
    res = json.loads(lines[-1])
    res["op_latencies"] = op_latencies(os.path.join(
        checkout, ".bench_build", "perfbench", "runs",
        f"{workload}-seed{seed}-trace0", "ops.jsonl"))
    return res, ""


def op_latencies(path):
    """{name: [build_s + exec_s]} of the timed (pass >= 0), error-free ops
    in one run's ops.jsonl; {} when the file cannot be read."""
    out = {}
    try:
        with open(path) as fh:
            for line in fh:
                o = json.loads(line)
                if o["pass"] >= 0 and not o["error"]:
                    out.setdefault(o["name"], []).append(o["build_s"] + o["exec_s"])
    except (OSError, ValueError, KeyError):
        return {}
    return out


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as fh:
        metrics = [(m["name"], m["better"]) for m in json.load(fh)["end_to_end"]]
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    pairs = []  # (seed, {side: result or None})
    ok = True
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {}
        for side in order:
            res, err = run_one(sides[side], args.workload, seed, args.seconds)
            if res is None or res["failed"]:
                ok = False
            if res is None:
                print(f"pair {i} seed {seed} {side:<6} RUN FAILED: {err}", flush=True)
            else:
                vals = " ".join(f"{n}={res['metrics'][n]['value']:.4g}" for n, _ in metrics)
                print(f"pair {i} seed {seed} {side:<6} failed={res['failed']} {vals}", flush=True)
            got[side] = res
        pairs.append((seed, got))

    good = [g for _, g in pairs
            if all(g[s] is not None and not g[s]["failed"] for s in sides)]
    print(f"\n{args.workload}: {len(good)}/{len(pairs)} complete pairs")
    print(f"{'metric':<16} {'side':<7} {'median':>10} {'q1':>10} {'q3':>10} {'iqr':>10}")
    for name, better in metrics:
        vals = {s: [g[s]["metrics"][name]["value"] for g in good] for s in sides}
        q = {s: quartiles(vals[s]) for s in sides}
        for s in sides:
            q1, med, q3 = q[s]
            print(f"{name:<16} {s:<7} {med:>10.4g} {q1:>10.4g} {q3:>10.4g} {q3 - q1:>10.4g}")
        wins = sum((c > p) if better == "higher" else (c < p)
                   for p, c in zip(vals["parent"], vals["change"]))
        gap = q["change"][1] - q["parent"][1]
        iqr = q["parent"][2] - q["parent"][0]
        rel = gap / q["parent"][1] if q["parent"][1] else float("nan")
        print(f"{name:<16} change wins {wins}/{len(good)}; median gap {gap:+.4g} "
              f"({rel:+.1%}); |gap| > parent IQR: {'yes' if abs(gap) > iqr else 'no'}")

    lat = {s: {} for s in sides}
    for g in good:
        for s in sides:
            for name, xs in g[s]["op_latencies"].items():
                lat[s].setdefault(name, []).extend(xs)
    names = sorted(set(lat["parent"]) | set(lat["change"]))
    if names:
        print(f"\n{'op median latency_s':<32} {'parent':>8} {'change':>8} {'change/parent':>14} {'n':>7}")
    for name in names:
        p, c = (lat[s].get(name, []) for s in ("parent", "change"))
        pm = statistics.median(p) if p else float("nan")
        cm = statistics.median(c) if c else float("nan")
        ratio = cm / pm if p and c and pm else float("nan")
        print(f"{name:<32} {pm:>8.3f} {cm:>8.3f} {ratio:>14.2f} {len(p):>3}/{len(c):<3}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
