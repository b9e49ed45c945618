#!/usr/bin/env python3
"""Interleaved A/B of two checkouts on their own benchmark.

    python3 tools/ab.py --parent DIR --change DIR --workload serve \
        [--workload maintain] --seeds 3-12 [--trace 0] [--out runs.jsonl]
    python3 tools/ab.py --report runs.jsonl [--change DIR]

For every seed it runs `python3 perfbench/run.py` once in each checkout
(each side runs its own copy of the harness and engine), alternating which
side goes first from one pair to the next so slow drift of the machine
does not favour one side. Every run lasts the `run_seconds` that the
change checkout's BENCHMARK.json fixes. Each run's last-line JSON and its
wall time are kept (appended to --out as one JSON object per run). Per
workload and metric it prints both sides' medians and quartiles, the per-pair
change/parent ratios, how many pairs the change won, and whether the
median gain exceeds the parent's interquartile range. The direction of
each metric ("better": lower/higher) is read from the change checkout's
BENCHMARK.json; the run wall time is reported as `wall_s` (lower is
better). Exits 1 if any run is not correct. `--report` re-reads the runs
an earlier invocation appended to its --out file (all of them, pairing
each workload's parent and change runs by seed) and prints the report
without running anything.
"""
import argparse
import json
import os
import subprocess
import sys
import time


def seeds_arg(s):
    out = []
    for part in s.split(","):
        if "-" in part:
            a, b = part.split("-")
            out += list(range(int(a), int(b) + 1))
        else:
            out.append(int(part))
    return out


def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty list."""
    xs = sorted(xs)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def run_one(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    wall = time.time() - t0
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        res = {"correct": False, "error": p.stdout[-2000:]}
    if p.returncode != 0:
        res["correct"] = False
    return res, wall


def load_bench(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return json.load(f)


def directions(bench):
    d = {m["name"]: m["better"]
         for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}
    d["wall_s"] = "lower"
    return d


def report(workload, pairs, better):
    """pairs: list of (parent_run, change_run), run = (result, wall)."""
    print(f"\n== {workload}: {len(pairs)} pairs")
    names = []
    for (pr, _), (cr, _) in pairs:
        for n in list(pr.get("metrics", {})) + list(cr.get("metrics", {})):
            if n not in names:
                names.append(n)
    names.append("wall_s")

    def value(run, name):
        res, wall = run
        if name == "wall_s":
            return wall
        m = res.get("metrics", {}).get(name)
        return None if m is None else m["value"]

    for name in names:
        vals = [(value(p, name), value(c, name)) for p, c in pairs]
        vals = [(a, b) for a, b in vals if a is not None and b is not None]
        if not vals:
            continue
        pa, ch = [a for a, _ in vals], [b for _, b in vals]
        ratios = [b / a if a else float("nan") for a, b in vals]
        lower = better.get(name, "lower") == "lower"
        wins = sum(1 for a, b in vals if (b < a if lower else b > a))
        pq1, pmed, pq3 = (quantile(pa, q) for q in (0.25, 0.5, 0.75))
        cq1, cmed, cq3 = (quantile(ch, q) for q in (0.25, 0.5, 0.75))
        gain = (pmed - cmed) if lower else (cmed - pmed)
        beyond = gain > (pq3 - pq1)
        print(f"{name:28s} parent {pmed:12.4f} [{pq1:.4f}, {pq3:.4f}]  "
              f"change {cmed:12.4f} [{cq1:.4f}, {cq3:.4f}]  "
              f"({'lower' if lower else 'higher'} is better)")
        print(f"{'':28s} ratios change/parent "
              + " ".join(f"{r:.3f}" for r in ratios)
              + f"  median {quantile(ratios, 0.5):.3f}; change won "
              f"{wins}/{len(vals)}; median gain "
              f"{'exceeds' if beyond else 'within'} the parent IQR")


def report_file(path, better):
    """Report every (workload, seed) pair recorded in a --out file."""
    runs = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            runs.setdefault(r["workload"], {}).setdefault(r["seed"], {})[
                r["side"]] = (r["result"], r["wall_s"])
    incorrect = 0
    for workload, by_seed in runs.items():
        pairs = [(s["parent"], s["change"]) for _, s in sorted(by_seed.items())
                 if "parent" in s and "change" in s]
        incorrect += sum(1 for p in pairs for res, _ in p
                         if not res.get("correct"))
        report(workload, pairs, better)
    if incorrect:
        print(f"\n[ab] {incorrect} run(s) were not correct")
    return 1 if incorrect else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent")
    ap.add_argument("--change", default=".")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seeds", type=seeds_arg)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    ap.add_argument("--report")
    a = ap.parse_args()
    if a.report:
        sys.exit(report_file(a.report, directions(load_bench(a.change))))
    if not (a.parent and a.workload and a.seeds):
        ap.error("--parent, --workload and --seeds are required to run")
    sides = {"parent": os.path.abspath(a.parent),
             "change": os.path.abspath(a.change)}
    bench = load_bench(sides["change"])
    better = directions(bench)
    incorrect = 0
    for workload in a.workload:
        pairs = []
        for i, seed in enumerate(a.seeds):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            runs = {}
            for side in order:
                res, wall = run_one(sides[side], workload, seed,
                                    bench["run_seconds"], a.trace)
                runs[side] = (res, wall)
                ok = bool(res.get("correct"))
                incorrect += 0 if ok else 1
                print(f"[ab] {workload} seed {seed} {side}: correct {ok}, "
                      f"wall {wall:.1f} s", flush=True)
                if a.out:
                    with open(a.out, "a") as f:
                        f.write(json.dumps({
                            "workload": workload, "seed": seed, "side": side,
                            "first": order[0], "wall_s": wall,
                            "result": res}) + "\n")
            pairs.append((runs["parent"], runs["change"]))
        report(workload, pairs, better)
    if incorrect:
        print(f"\n[ab] {incorrect} run(s) were not correct")
        sys.exit(1)


if __name__ == "__main__":
    main()
