"""Collect run sets and compare them metric by metric.

    # ten seeds of every workload; results in DIR/<workload>/<seed>.json
    python3 perfbench/compare.py collect DIR --seeds 1-10 [--trace 1]

    # parent and change alternated; results in DIR/set0 and DIR/set1
    python3 perfbench/compare.py collect DIR --checkout PARENT --checkout CHANGE

    # one set: median, quartiles and spread against each metric's bound
    python3 perfbench/compare.py report DIR

    # two sets: the above for each, plus the change in median and the
    # win fraction over runs paired by seed
    python3 perfbench/compare.py report DIR/set0 DIR/set1

    # tracing overhead: traced minus untraced median, per end-to-end metric
    python3 perfbench/compare.py overhead DIR/untraced DIR/traced

With two ``--checkout`` roots the runs alternate which side goes first
from one seed to the next.  Quartiles are ``statistics.quantiles(values,
n=4)``; the spread is their distance as a share of the median.  A set
whose spread exceeds the bound is "unresolved" for that metric: the
bound cannot separate a regression from noise there.  A gain is claimed
only when the change wins at least nine tenths of the pairs (ties count
for neither side) and the medians differ by more than the first set's
quartile distance.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def load_spec(root: str = ROOT) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def parse_seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def collect(args) -> None:
    checkouts = [os.path.abspath(c) for c in (args.checkout or [ROOT])]
    spec = load_spec(checkouts[0])
    labels = ["."] if len(checkouts) == 1 else [f"set{i}" for i in range(len(checkouts))]
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    for workload in workloads:
        for i, seed in enumerate(parse_seeds(args.seeds)):
            order = list(range(len(checkouts)))
            if i % 2:
                order.reverse()
            for k in order:
                out_dir = os.path.join(args.dir, labels[k], workload)
                os.makedirs(out_dir, exist_ok=True)
                cmd = spec["command"] + [
                    "--workload", workload, "--seed", str(seed),
                    "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace),
                ]
                t0 = time.monotonic()
                proc = subprocess.run(cmd, cwd=checkouts[k], capture_output=True, text=True, timeout=900)
                wall = time.monotonic() - t0
                with open(os.path.join(out_dir, f"{seed}.log"), "w") as fh:
                    fh.write(proc.stdout + proc.stderr)
                last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
                if proc.returncode != 0 or not last.startswith("{"):
                    print(f"{labels[k]} {workload} seed {seed}: exit {proc.returncode}", file=sys.stderr)
                    continue
                with open(os.path.join(out_dir, f"{seed}.json"), "w") as fh:
                    fh.write(last + "\n")
                print(f"{labels[k]} {workload} seed {seed} ({wall:.0f} s): {last}", flush=True)


def load_set(path: str) -> dict[str, dict[int, dict]]:
    """{workload: {seed: result}} from one collected set."""
    out: dict[str, dict[int, dict]] = {}
    for workload in sorted(os.listdir(path)):
        wdir = os.path.join(path, workload)
        if not os.path.isdir(wdir):
            continue
        for f in os.listdir(wdir):
            if f.endswith(".json"):
                with open(os.path.join(wdir, f)) as fh:
                    out.setdefault(workload, {})[int(f[:-5])] = json.load(fh)
    return out


def summary(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else float("inf")}


def values(runs: dict[int, dict], metric: str) -> dict[int, float]:
    return {s: r["metrics"][metric]["value"] for s, r in runs.items() if metric in r["metrics"]}


def report(args) -> int:
    spec = load_spec()
    metrics = spec["end_to_end"] if not args.per_layer else spec["per_layer"]
    sets = [load_set(p) for p in args.sets]
    bad = 0
    for workload in sorted(set().union(*sets)):
        print(f"== {workload}")
        for i, s in enumerate(sets):
            runs = s.get(workload, {})
            failed = sum(r["failed"] for r in runs.values())
            attempted = sum(r["attempted"] for r in runs.values())
            print(f"   set {i}: {len(runs)} runs, {failed} of {attempted} operations failed")
            bad += failed > 0
        for m in metrics:
            name, bound = m["name"], m.get("bound")
            per_set = [values(s.get(workload, {}), name) for s in sets]
            if not all(per_set):
                continue
            sums = [summary(list(v.values())) for v in per_set]
            cells = []
            for sm in sums:
                status = ""
                if bound is not None and sm["spread"] > bound:
                    status, bad = " UNRESOLVED", bad + 1
                cells.append(f"median {sm['median']:.5g} [q1 {sm['q1']:.5g}, q3 {sm['q3']:.5g}] "
                             f"spread {sm['spread']:.3f}{status}")
            line = f"  {name} ({m['unit']}, {m['better']} is better"
            line += f", bound {bound})" if bound is not None else ")"
            print(line)
            for i, c in enumerate(cells):
                print(f"     set {i}: {c}")
            if len(sets) == 2:
                verdict, failed = compare_pair(per_set[0], per_set[1], sums[0], sums[1], m)
                bad += failed
                print(f"     set 1 vs set 0: {verdict}")
    return 1 if bad else 0


def compare_pair(a: dict, b: dict, sa: dict, sb: dict, m: dict) -> tuple[str, int]:
    """Change ``b`` against parent ``a`` by the rules in the module doc."""
    sign = 1.0 if m["better"] == "lower" else -1.0
    worse_by = sign * (sb["median"] - sa["median"]) / sa["median"]
    pairs = sorted(set(a) & set(b))
    wins = sum(1 for s in pairs if sign * (b[s] - a[s]) < 0)
    losses = sum(1 for s in pairs if sign * (b[s] - a[s]) > 0)
    frac = wins / len(pairs) if pairs else 0.0
    text = f"median worse by {worse_by:+.3f}, wins {wins}/{len(pairs)} ({frac:.2f}), losses {losses}"
    bound = m.get("bound")
    gain = frac >= 0.9 and abs(sb["median"] - sa["median"]) > sa["q3"] - sa["q1"]
    if gain:
        return text + " -> GAIN", 0
    if bound is None:
        return text, 0
    if worse_by > bound:
        return text + f" -> REGRESSION (bound {bound})", 1
    if sa["spread"] > bound:
        if all(sign * (x - y) < 0 for x in b.values() for y in a.values()):
            return text + " -> better in every run", 0
        return text + " -> unresolved (spread above bound)", 1
    return text + " -> within bound", 0


def overhead(args) -> None:
    spec = load_spec()
    untraced, traced = load_set(args.untraced), load_set(args.traced)
    for workload in sorted(set(untraced) & set(traced)):
        print(f"== {workload}")
        for m in spec["end_to_end"]:
            u = values(untraced[workload], m["name"])
            t = values(traced[workload], f"traced.{m['name']}")
            if u and t:
                mu, mt = statistics.median(u.values()), statistics.median(t.values())
                print(f"  {m['name']}: untraced {mu:.5g}, traced {mt:.5g}, "
                      f"overhead {mt - mu:+.5g} {m['unit']} ({(mt - mu) / mu:+.1%})")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = p.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("dir")
    c.add_argument("--seeds", default="1-10")
    c.add_argument("--workloads", default=None, help="comma-separated; default all")
    c.add_argument("--trace", type=int, default=0)
    c.add_argument("--checkout", action="append", help="repository root to run; repeat for two")
    r = sub.add_parser("report")
    r.add_argument("sets", nargs="+")
    r.add_argument("--per-layer", action="store_true")
    o = sub.add_parser("overhead")
    o.add_argument("untraced")
    o.add_argument("traced")
    args = p.parse_args(argv)
    if args.cmd == "collect":
        collect(args)
        return 0
    if args.cmd == "overhead":
        overhead(args)
        return 0
    if len(args.sets) > 2:
        p.error("report takes one or two sets")
    return report(args)


if __name__ == "__main__":
    raise SystemExit(main())
