#!/usr/bin/env python3
"""Compare two checkouts on the repository benchmark, interleaved.

    python3 tools/bench_ab.py --a <parent checkout> --b <change checkout> \
        --workloads lake_serve,sap_nightly,llm_corpus --seeds 101-110 \
        [--seconds 10] [--out runs.jsonl]

For every workload and seed it runs `python3 bench/run.py --workload W
--seed S --seconds T --trace 0` once in each checkout. The two runs of a
pair follow each other, and the side that runs first alternates from pair
to pair, so slow drift of the host favours neither side. Each run is a
separate JVM; the pairs of one workload run back to back.

Printed per workload and end-to-end metric (the `end_to_end` list of the
checkout A's BENCHMARK.json): each side's median and quartiles, the change
of the median, the parent's IQR, and how many pairs B won (ties count for
neither side). A gain is claimed only when B wins at least 9/10 of the
pairs and the medians differ by more than A's IQR; a worsening is marked
when B's median is worse than A's by more than the metric's bound. Runs
that are not `correct` or report failures are listed and counted. Every
run's result line is appended to --out (JSON lines) when given.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run(checkout, workload, seed, seconds):
    cmd = [sys.executable, "bench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{checkout}: {workload} seed {seed} exited {p.returncode}\n{p.stderr[-2000:]}")
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--a", required=True, help="parent checkout (the baseline)")
    ap.add_argument("--b", required=True, help="change checkout")
    ap.add_argument("--workloads", default="sap_nightly,lake_serve,llm_corpus")
    ap.add_argument("--seeds", default="101-110", help="e.g. 101-110 or 3,5,8")
    ap.add_argument("--seconds", type=int, default=None,
                    help="run length (default: run_seconds of A's BENCHMARK.json)")
    ap.add_argument("--out", default=None, help="append every run's result line here")
    a = ap.parse_args()
    with open(os.path.join(a.a, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    metrics = bench["end_to_end"]
    seeds = parse_seeds(a.seeds)
    out = open(a.out, "a") if a.out else None
    for workload in a.workloads.split(","):
        pairs = []
        for i, seed in enumerate(seeds):
            order = [("A", a.a), ("B", a.b)] if i % 2 == 0 else [("B", a.b), ("A", a.a)]
            got = {}
            for side, checkout in order:
                got[side] = run(checkout, workload, seed, seconds)
                if out:
                    out.write(json.dumps({"workload": workload, "seed": seed, "side": side,
                                          "first": order[0][0], "result": got[side]}) + "\n")
                    out.flush()
            pairs.append((seed, got["A"], got["B"]))
            print(f"{workload} seed {seed} done ({order[0][0]} first)", file=sys.stderr)
        print(f"\n## {workload}: {len(pairs)} pairs, seeds {a.seeds}, --seconds {seconds}")
        for side, idx in (("A", 1), ("B", 2)):
            bad = [(p[0], p[idx]["failed"]) for p in pairs
                   if not p[idx]["correct"] or p[idx]["failed"]]
            if bad:
                print(f"{side}: runs not correct or with failures (seed, failed): {bad}")
        print("| metric | A median [q1, q3] | B median [q1, q3] | change | A IQR | B wins | verdict |")
        print("|---|---|---|---|---|---|---|")
        for m in metrics:
            name, lower = m["name"], m["better"] == "lower"
            xa = [p[1]["metrics"][name]["value"] for p in pairs]
            xb = [p[2]["metrics"][name]["value"] for p in pairs]
            qa, qb = quartiles(xa), quartiles(xb)
            wins = sum(1 for va, vb in zip(xa, xb) if (vb < va if lower else vb > va))
            iqr = qa[2] - qa[0]
            gap = (qa[1] - qb[1]) if lower else (qb[1] - qa[1])
            rel = (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
            worse = -rel if not lower else rel
            if wins * 10 >= 9 * len(pairs) and gap > iqr:
                verdict = "gain"
            elif worse > m["bound"]:
                verdict = "WORSE than bound"
            else:
                verdict = "within bound"
            print(f"| {name} | {qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}] | "
                  f"{qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}] | {rel:+.1%} | {iqr:.4g} | "
                  f"{wins}/{len(pairs)} | {verdict} |")
        sys.stdout.flush()
    if out:
        out.close()


if __name__ == "__main__":
    main()
