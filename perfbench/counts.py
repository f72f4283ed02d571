#!/usr/bin/env python3
"""Compare the deterministic counts of two traced runs of one workload.

Usage: python3 perfbench/counts.py <run dir A> <run dir B>

Run dirs are the .perfbench/runs/<run>/ directories two
`run.py --trace 1` runs with the same seed leave behind. Prints, per
count, whether it repeated exactly: per op (warm-up and first timed
pass, from spans.jsonl) and per pass (the per_layer medians in
result.json). Exits 1 when a count that the benchmark documents as
repeating differs.
"""
import json
import os
import sys

# counts README.md documents as repeating exactly run to run
REPEATING = ["construct.jobs", "execute.jobs", "execute.stages",
             "execute.tasks", "storage.files_written",
             "storage.index_files", "storage.generations"]
# counts that may differ (timing-dependent) and are shown for reference
OTHER = ["construct.tasks", "stream.batches", "storage.bytes_written",
         "storage.index_bytes", "execute.shuffle_write_bytes",
         "execute.input_rows"]


def spans(run_dir):
    """(pass, op) -> {count name: value} for the first two passes."""
    out = {}
    with open(os.path.join(run_dir, "spans.jsonl")) as fh:
        for line in fh:
            s = json.loads(line)
            if s["pass"] > 1:
                continue
            out[(s["pass"], s["op"])] = {
                "construct.jobs": s["construct"]["jobs"],
                "construct.tasks": s["construct"]["tasks"],
                "execute.jobs": s["execute"]["jobs"],
                "execute.stages": s["execute"]["stages"],
                "execute.tasks": s["execute"]["tasks"]}
    return out


def main():
    a, b = sys.argv[1], sys.argv[2]
    ra = json.load(open(os.path.join(a, "result.json")))
    rb = json.load(open(os.path.join(b, "result.json")))
    bad = []
    for name in REPEATING + OTHER:
        va, vb = ra["per_layer"][name], rb["per_layer"][name]
        same = va == vb
        print(f"{name:28s} {va:>14} {vb:>14} "
              f"{'same' if same else 'DIFFERS'}")
        if not same and name in REPEATING:
            bad.append(name)
    sa, sb = spans(a), spans(b)
    for key in sorted(set(sa) & set(sb)):
        for name, va in sa[key].items():
            vb = sb[key][name]
            if va != vb:
                print(f"pass {key[0]} {key[1]}: {name} {va} vs {vb}")
                if name in REPEATING:
                    bad.append(f"{key[1]} {name}")
    print("all documented counts repeated" if not bad
          else f"differing: {', '.join(bad)}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
