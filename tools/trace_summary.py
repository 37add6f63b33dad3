#!/usr/bin/env python3
"""Print the spans of a benchmark trace with their Spark jobs.

    python3 tools/trace_summary.py <trace.jsonl> [--span NAME]
    python3 tools/trace_summary.py --compare BEFORE.jsonl AFTER.jsonl [--span NAME]

The trace is the JSON-lines file `bench/run.py --trace 1` writes under
bench/target/traces/ (one span per line, with the jobs tagged to it).
For every span, or only those named NAME, it prints the span's wall
time, then one line per job: its label, wall time, summed task time,
shuffle bytes and start offset from the span's start. Spans of the same
name print in trace order.

--compare prints one line per span name with the median per call, over
that name's spans, of its self time (wall time minus its child spans),
job count, gap time (self time no job of its own covers) and summed
task time, before and after side by side: the per-layer before/after
table of a performance change. These are the numbers the traced run
reports as <span>.self_ms, .jobs, .gap_ms and .task_ms, as medians
instead of means.
"""
import argparse
import json
import statistics
import sys


def fmt_ms(x):
    return f"{x:9.1f}"


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def union(ivs):
    out = []
    for lo, hi in sorted(iv for iv in ivs if iv[1] > iv[0]):
        if out and lo <= out[-1][1]:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])
    return out


def minus(base, cut):
    out, at = [], base[0]
    for lo, hi in union(cut):
        if lo > at:
            out.append((at, min(lo, base[1])))
        at = max(at, hi)
    if at < base[1]:
        out.append((at, base[1]))
    return [iv for iv in out if iv[1] > iv[0]]


def overlap(a, b):
    return sum(max(0.0, min(x[1], y[1]) - max(x[0], y[0])) for x in a for y in b)


def per_call(spans):
    """name -> list of (self_ms, jobs, gap_ms, task_ms), one per span,
    computed as the benchmark's tracer does."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        self_iv = minus((lo, hi), [(c["start_ms"], c["end_ms"]) for c in kids.get(s["span"], [])])
        jobs = s.get("jobs", [])
        job_iv = union([(j["start_ms"], hi if j["end_ms"] < 0 else j["end_ms"]) for j in jobs])
        self_ms = sum(b - a for a, b in self_iv)
        out.setdefault(s["name"], []).append(
            (self_ms, len(jobs), self_ms - overlap(self_iv, job_iv), sum(j["task_ms"] for j in jobs)))
    return out


def compare(before_path, after_path, span):
    before, after = per_call(load(before_path)), per_call(load(after_path))
    names = sorted(set(before) | set(after))
    if span:
        names = [n for n in names if n == span]
        if not names:
            print(f"no span named {span}", file=sys.stderr)
            return 1
    cols = ("self_ms", "jobs", "gap_ms", "task_ms")
    print(f"{'span':<44} {'calls':>9}" + "".join(f" {c + ' before':>15} {'after':>9}" for c in cols))
    for n in names:
        b, a = before.get(n, []), after.get(n, [])
        line = f"{n:<44} {f'{len(b)}/{len(a)}':>9}"
        for i in range(len(cols)):
            med = [f"{statistics.median(x[i] for x in side):9.1f}" if side else f"{'-':>9}"
                   for side in (b, a)]
            line += f" {med[0]:>15} {med[1]:>9}"
        print(line)
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("trace", nargs="?", help="trace file (JSON lines)")
    ap.add_argument("--compare", nargs=2, metavar=("BEFORE", "AFTER"),
                    help="two trace files: per span name, median self/jobs/gap/task per call")
    ap.add_argument("--span", help="only the spans with this name")
    args = ap.parse_args()
    if args.compare:
        return compare(args.compare[0], args.compare[1], args.span)
    if not args.trace:
        ap.error("give a trace file, or --compare BEFORE AFTER")
    spans = load(args.trace)
    if args.span:
        spans = [s for s in spans if s["name"] == args.span]
        if not spans:
            print(f"no span named {args.span}", file=sys.stderr)
            return 1
    for s in spans:
        jobs = s.get("jobs", [])
        print(f"{s['name']} (span {s['span']}): wall {s['end_ms'] - s['start_ms']:.1f} ms, "
              f"{len(jobs)} job(s)")
        if not jobs:
            continue
        print(f"  {'job':>5} {'wall_ms':>9} {'task_ms':>9} {'shuffle_B':>10} {'start_ms':>9}  label")
        for j in jobs:
            print(f"  {j['job']:>5} {fmt_ms(j['end_ms'] - j['start_ms'])} {fmt_ms(j['task_ms'])} "
                  f"{j['shuffle_bytes']:>10} {fmt_ms(j['start_ms'] - s['start_ms'])}  "
                  f"{j['label'] or '(none)'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
