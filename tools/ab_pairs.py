#!/usr/bin/env python3
"""Alternating parent/change pairs of the repo benchmark on one host.

    python3 tools/ab_pairs.py <parent_dir> <change_dir> --workload W --seeds a-b \
        [--trace 0|1] [--seconds 10] [--claim METRIC]

Each directory is a checkout holding `perfbench/` and `BENCHMARK.json`.
For every seed in a..b it runs `python3 perfbench/run.py` once in each
directory, parent first on even pair indexes and change first on odd ones,
so a slow drift of host load falls on both sides. Runs are sequential;
nothing else should be running while they measure.

Per pair it prints the end-to-end metrics named in the change's
BENCHMARK.json and each run's `cpu_steal_share` (hypervisor steal over busy
CPU time in the run's window). It ends with the medians of each side, the
parent's interquartile range, the change/parent ratio and how many pairs
the change won. With --trace 1 the end-to-end figures come from the traced
runs' reference line (they include the tracing overhead) and the per-layer
medians are printed as well.

With --claim METRIC it ends with a verdict line over the end-to-end
metrics. The claimed metric passes when the change is better in at least
9 of 10 pairs and its median beats the parent's median by more than the
parent's interquartile range. Every other end-to-end metric passes when
the change's median stays within the parent's median times (1 + bound),
in the metric's worse direction, with the bound read from BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

RUN_TIMEOUT_S = 1200


def seeds_of(spec):
    a, _, b = spec.partition("-")
    lo, hi = int(a), int(b or a)
    if hi < lo:
        raise argparse.ArgumentTypeError(f"empty seed range {spec}")
    return list(range(lo, hi + 1))


def run(checkout, workload, seed, seconds, trace):
    """One benchmark run; returns (end_to_end, per_layer, steal) or raises."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", trace]
    p = subprocess.run(cmd, cwd=checkout, stdin=subprocess.DEVNULL, capture_output=True, text=True,
                       timeout=RUN_TIMEOUT_S)
    lines = p.stdout.splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        raise RuntimeError(f"{checkout} seed {seed} exited {p.returncode}: {p.stderr.strip()[-500:]}")
    result = json.loads(lines[-1])
    if not result["correct"] or result["failed"]:
        raise RuntimeError(f"{checkout} seed {seed}: correct={result['correct']} failed={result['failed']}")
    steal, traced_e2e = None, None
    for line in lines:
        if line.startswith("reference "):
            steal = json.loads(line[len("reference "):])["cpu_steal_share"]
        elif line.startswith("traced end-to-end"):
            traced_e2e = json.loads(line[line.index("{"):])
    metrics = {n: m["value"] for n, m in result["metrics"].items()}
    if trace == "1":
        return traced_e2e, metrics, steal
    return metrics, {}, steal


def better(value, base, direction):
    return value < base if direction == "lower" else value > base


def iqr(xs):
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return q[2] - q[0]


def verdict(claim, metrics, got):
    """One line: the claimed metric's win rule, the others' bounds."""
    cells, ok = [], True
    for m in metrics:
        name, direction = m["name"], m["better"]
        ps = [r[0][name] for r in got["parent"]]
        cs = [r[0][name] for r in got["change"]]
        pm, cm = statistics.median(ps), statistics.median(cs)
        if name == claim:
            wins = sum(better(c, p, direction) for p, c in zip(ps, cs))
            gap = pm - cm if direction == "lower" else cm - pm
            passed = wins * 10 >= 9 * len(ps) and gap > iqr(ps)
            cells.append(f"{name} claimed: wins {wins}/{len(ps)}, median gap {fmt(gap)} vs parent IQR "
                         f"{fmt(iqr(ps))} {'ok' if passed else 'FAIL'}")
        else:
            limit = pm * (1 + m["bound"]) if direction == "lower" else pm * (1 - m["bound"])
            passed = cm <= limit if direction == "lower" else cm >= limit
            cells.append(f"{name} {fmt(cm)} {'<=' if direction == 'lower' else '>='} {fmt(limit)} "
                         f"{'ok' if passed else 'FAIL'}")
        ok = ok and passed
    return f"verdict {'PASS' if ok else 'FAIL'}: " + "; ".join(cells)


def fmt(x):
    return f"{x:.6g}" if isinstance(x, float) else str(x)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seeds_of, help="inclusive range a-b, or one seed")
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--seconds", default=10, type=int)
    ap.add_argument("--claim", help="end-to-end metric the change claims to improve")
    args = ap.parse_args()

    with open(os.path.join(args.change_dir, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.claim and args.claim not in [m["name"] for m in bench["end_to_end"]]:
        ap.error(f"--claim {args.claim} is not an end-to-end metric of BENCHMARK.json")
    e2e = [(m["name"], m["better"]) for m in bench["end_to_end"]]
    layers = [(m["name"], m["better"]) for m in bench.get("per_layer", [])]
    sides = {"parent": args.parent_dir, "change": args.change_dir}
    got = {"parent": [], "change": []}

    print("pair seed first  " + "  ".join(f"{n} (parent -> change)" for n, _ in e2e) + "  steal (parent, change)")
    for i, seed in enumerate(args.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            got[side].append(run(sides[side], args.workload, seed, args.seconds, args.trace))
        p, c = got["parent"][-1], got["change"][-1]
        cells = [f"{fmt(p[0][n])} -> {fmt(c[0][n])}" for n, _ in e2e]
        print(f"{i + 1:>4} {seed:>4} {order[0]:<6} " + "  ".join(cells) +
              f"  {p[2]:.3f}, {c[2]:.3f}", flush=True)

    n = len(args.seeds)
    steals = [r[2] for side in got.values() for r in side]
    print(f"\n{args.workload}, {n} pairs, seeds {args.seeds[0]}-{args.seeds[-1]}, --seconds {args.seconds}, "
          f"--trace {args.trace}; steal {min(steals):.3f}-{max(steals):.3f}")

    def summary(names, idx):
        print(f"{'metric':<44} {'parent':>12} {'parent IQR':>12} {'change':>12} {'ratio':>8} {'wins':>6}")
        for name, direction in names:
            ps = [r[idx][name] for r in got["parent"] if name in r[idx]]
            cs = [r[idx][name] for r in got["change"] if name in r[idx]]
            if len(ps) != n or len(cs) != n or not any(ps + cs):
                continue  # missing, or a layer this workload does not touch
            pm, cm = statistics.median(ps), statistics.median(cs)
            wins = sum(better(c, p, direction) for p, c in zip(ps, cs))
            ratio = f"{cm / pm:.3f}" if pm else "-"
            print(f"{name:<44} {fmt(pm):>12} {fmt(iqr(ps)):>12} {fmt(cm):>12} {ratio:>8} {wins:>3}/{n}")

    summary(e2e, 0)
    if args.trace == "1":
        print()
        summary(layers, 1)
    if args.claim:
        print()
        print(verdict(args.claim, bench["end_to_end"], got))


if __name__ == "__main__":
    main()
