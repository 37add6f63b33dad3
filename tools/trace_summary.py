#!/usr/bin/env python3
"""Print the spans of a benchmark trace with their Spark jobs.

    python3 tools/trace_summary.py <trace.jsonl> [--span NAME]

The trace is the JSON-lines file `bench/run.py --trace 1` writes under
bench/target/traces/ (one span per line, with the jobs tagged to it).
For every span, or only those named NAME, it prints the span's wall
time, then one line per job: its label, wall time, summed task time,
shuffle bytes and start offset from the span's start. Spans of the same
name print in trace order, so a before/after pair of traces gives the
per-layer job tables side by side.
"""
import argparse
import json
import sys


def fmt_ms(x):
    return f"{x:9.1f}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("trace", help="trace file (JSON lines)")
    ap.add_argument("--span", help="only the spans with this name")
    args = ap.parse_args()
    with open(args.trace) as f:
        spans = [json.loads(line) for line in f if line.strip()]
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
