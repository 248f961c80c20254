#!/usr/bin/env python3
"""Scale smoke: run the heavy operators on a corpus amplified N-fold
beyond the bench scale factor, and report wall-clock scaling.

The oracle gate proves correctness at sf0.01 and the bench measures
sf0.1; this script stresses the same plans at 10-50x that size (by
replicating `documents` with perturbed ids — a plan-shape stressor, not a
statistical one) to catch anything that degrades super-linearly: a join
whose candidate space explodes, an aggregate whose state stops fitting,
a window over a low-cardinality key. Usage:

    python tools/scale_smoke.py [--factor 20] [--sf-dir /root/testdata/sf0.1]

Prints one JSON line per operator with rows_in/rows_out/seconds, each
timed by dic_a1_spark.runner.timed (cache cleared, build included) after
runner.warm_up.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=20)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from dic_a1_spark.operators.chisq import chi2_topk
    from dic_a1_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_label_groups,
    )
    from dic_a1_spark.runner import amplified_table, timed, warm_up
    from dic_a1_spark.session import get_spark

    spark = get_spark(app_name="dic_a1_spark-scale-smoke")
    # Eager localCheckpoint: materialized once, outside every timer, and
    # not a cache entry, so the cache clear inside timed() keeps it.
    _, docs = amplified_table(spark, args.sf_dir, "documents", "doc_id", args.factor)
    docs = docs.localCheckpoint()
    rows_in = docs.count()

    def chisq():
        return chi2_topk(docs.withColumnRenamed("lang", "category"))

    warm_up(spark, chisq)

    def run(name, build):
        sec, rows_out, _ = timed(spark, build)
        print(
            json.dumps(
                {
                    "op": name,
                    "factor": args.factor,
                    "rows_in": rows_in,
                    "rows_out": rows_out,
                    "sec": sec,
                }
            ),
            flush=True,
        )

    run("chisq_top75", chisq)
    run(
        "dedup_exact_groups_amplified",
        lambda: docs.groupBy(F.md5(F.encode("text", "UTF-8")).alias("h")).agg(
            F.count("*").alias("n")
        ),
    )
    run("minhash_candidates_pairwise", lambda: minhash_candidate_pairs(docs))
    # The scale path: group labels via label propagation — linear in the
    # doc-bucket edge count with convergence early-exit, immune to the
    # quadratic pair blowup above (note rows_out: groups vs pairs).
    run(
        "minhash_groups_labelprop",
        lambda: minhash_label_groups(docs).select("group_id").distinct(),
    )
    spark.stop()


if __name__ == "__main__":
    main()
