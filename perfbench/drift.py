#!/usr/bin/env python3
"""Does pass time drift upward within one process, and is it program state?

    python3 perfbench/drift.py --workload tpch --passes 8 [--clear] [--mult 2]

Runs ``--passes`` untimed-checked passes of a workload in one process,
each on a fresh input path (as ``run.py`` does), and prints per pass its
run index, wall time and the sizes of the program's per-path memos
(``__spark_entry__._PLAN_MEMO``, ``session._TABLE_MEMO``).  With
``--clear`` those memos are emptied between passes, which removes the
program state that grows with every new path; comparing the slope of the
two runs separates that state from machine noise.  Results are in NOTES.md.
"""

from __future__ import annotations

import argparse
import gc
import statistics
import sys
import time

import run


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(run.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--passes", type=int, default=8)
    ap.add_argument("--clear", action="store_true")
    ap.add_argument("--mult", type=float, help="override the input multiple")
    args = ap.parse_args()
    args.trace = 0

    b = run.Bench(args)
    b.inputs()
    b.rss.start()
    b.start_program()
    for i in range(run.WARMUP_PASSES):
        b.run_pass(-run.WARMUP_PASSES + i, "warmup")
    walls = []
    for i in range(1, args.passes + 1):
        if args.clear:
            b.entry._PLAN_MEMO.clear()
            b.session._TABLE_MEMO.clear()
            gc.collect()
        t = time.perf_counter()
        b.run_pass(i, "plain")
        walls.append(time.perf_counter() - t)
        print(f"# memo sizes plan={len(b.entry._PLAN_MEMO)} table={len(b.session._TABLE_MEMO)} "
              f"stage={len(b.entry._DEDUP_STAGE_MEMO)}")
    _, failed = b.finish()
    n = len(walls)
    xs = range(n)
    slope = statistics.linear_regression(xs, walls).slope if n > 1 else 0.0
    print(f"# clear={args.clear} walls={[round(w, 3) for w in walls]} "
          f"slope_s_per_pass={slope:.4f} first_half={statistics.median(walls[:n // 2]):.3f} "
          f"second_half={statistics.median(walls[n // 2:]):.3f} failed={failed}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
