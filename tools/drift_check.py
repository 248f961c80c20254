#!/usr/bin/env python3
"""Isolated re-runs of bench queries whose round-over-round numbers
drifted — the evidence tool behind the BENCH "pinned as noise" notes.

For each named query: time `repeats` runs through
dic_a1_spark.runner.timed in one session warmed by runner.warm_up (the
in-bench numbers share the session with 77 other queries and whatever
else runs alongside), and print min/median/max.

    python tools/drift_check.py [--sf-dir /root/testdata/sf0.1]
        [--repeats 4] name [name ...]
"""

from __future__ import annotations

import argparse
import statistics
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--repeats", type=int, default=4)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from dic_a1_spark.registry import all_queries
    from dic_a1_spark.runner import timed, warm_up
    from dic_a1_spark.session import get_spark

    spark = get_spark(app_name="dic_a1_spark-drift-check")
    qs = all_queries()
    warm_up(spark, lambda: qs[args.names[0]](spark, args.sf_dir))
    for name in args.names:
        ts = [
            timed(spark, lambda: qs[name](spark, args.sf_dir))[0]
            for _ in range(args.repeats)
        ]
        print(
            f"{name}: min={min(ts):.3f} med={statistics.median(ts):.3f} "
            f"max={max(ts):.3f} (n={args.repeats})",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
