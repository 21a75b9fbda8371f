#!/usr/bin/env python3
"""Self-test: the count metrics of a traced run repeat exactly.

Runs each workload traced twice with one seed and compares, item by item
(registry entry, migrated table, schema-plane pass), the counts that do not
depend on the host: Spark jobs, stages and tasks; rows, files and bytes
written; tables parsed and EWI markers emitted. It also runs the workload
once untraced and prints the tracing overhead as the traced operation time
minus the untraced one.

    python3 perfbench/selftest.py [--seed 7] [--workloads estate_migrate,query_mix]

Exits 0 when every count repeats, 1 otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNT_KEYS = ("jobs", "jobs_in_build", "stages", "tasks", "rows_written",
              "files_written", "bytes_written", "tables", "ewi_markers")


def _run(workload: str, seed: int, trace: int):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", "1", "--trace",
           str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} run failed ({p.returncode}): "
                           f"{p.stderr[-2000:]}")
    result = json.loads(lines[-1])
    info = json.loads(next(ln for ln in reversed(lines)
                           if ln.startswith("info "))[5:])
    return result, info


def _counts(trace_file: str) -> dict:
    with open(trace_file) as fh:
        items = json.load(fh)["items"]
    return {item: {k: v for k, v in vals.items() if k in COUNT_KEYS}
            for item, vals in items.items()}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=7)
    p.add_argument("--workloads", default="estate_migrate,query_mix")
    args = p.parse_args(argv)

    ok = True
    for w in args.workloads.split(","):
        counts = []
        traced_op = None
        for i in range(2):
            result, info = _run(w, args.seed, 1)
            if not result["correct"]:
                print(f"{w}: traced run {i} reported failed steps")
                ok = False
            counts.append(_counts(info["trace_file"]))
            traced_op = statistics.fmean(info["op_s"])
        _, untraced = _run(w, args.seed, 0)
        same = counts[0] == counts[1] and bool(counts[0])
        ok &= same
        print(f"{w}: counts {'repeat' if same else 'DIFFER'} over "
              f"{len(counts[0])} items; tracing overhead "
              f"{traced_op - statistics.fmean(untraced['op_s']):+.3f} s on a "
              f"{statistics.fmean(untraced['op_s']):.3f} s operation")
        if not same:
            for item in sorted(set(counts[0]) | set(counts[1])):
                a, b = counts[0].get(item), counts[1].get(item)
                if a != b:
                    print(f"  {item}: {a} != {b}")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
