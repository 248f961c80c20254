#!/usr/bin/env python3
"""Amplified-scale core-scaling probe (VERDICT r12 item 8).

At sf0.1 every bench query is fixed-overhead bound, so the driver's
8-vs-32-core ratios sit at ~1 for the whole set and parallel scaling is
unmeasurable. This probe times the DATA-BOUND families (dedup ladder,
chisq, neardup) over the 50x amplified corpus (~250K docs / vectors —
the tools/scale_bench.py corpus) at local[8] and local[32], writing
CORESCALE.json with per-query ratios. "Scales with cores" becomes a
measured claim where the data is big enough to show it.

    python tools/core_scaling_probe.py [--work-dir /tmp/dic_a1_scale]

Reuses scale_bench's amplified parquet if already present (writes it
otherwise); each run is its own subprocess so the JVM is fresh and
`local[N]` is honest. The core counts run in ABBA order (32, 8, 8, 32)
and each query's time is the mean of its two runs, so neither count
gets the page cache or a drifting host to itself.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

PROBE_QUERIES = [
    "chisq_top75",
    "dedup_minhash_pairs",
    "dedup_minhash_groups",
    "dedup_simhash_pairs",
    "dedup_minhash_md5_groups",
    "embedding_neardup_blocked_fast",
    "embedding_neardup_groups",
]


def _ensure_amplified(work_dir: str, sf_dir: str, factor: int) -> None:
    docs = Path(work_dir) / "documents.parquet"
    emb = Path(work_dir) / "embeddings.parquet"
    if docs.exists() and emb.exists():
        return
    from dic_a1_spark.runner import amplified_table
    from dic_a1_spark.session import get_spark

    spark = get_spark(app_name="corescale-amplify")
    _, docs_amp = amplified_table(spark, sf_dir, "documents", "doc_id", factor)
    docs_amp.repartitionByRange(64, "doc_id").write.mode("overwrite").parquet(
        str(docs)
    )
    _, emb_amp = amplified_table(spark, sf_dir, "embeddings", "vec_id", factor)
    emb_amp.repartitionByRange(64, "vec_id").write.mode("overwrite").parquet(
        str(emb)
    )
    # TPC-H / events tables copied intact so loaders resolve.
    import shutil

    for f in Path(sf_dir).glob("*.parquet"):
        tgt = Path(work_dir) / f.name
        if not tgt.exists():
            shutil.copy(f, tgt)
    spark.stop()


def _warm_page_cache(work_dir: str) -> None:
    """Read every input file once, so the first timed core count does not
    pay cold reads that the later ones skip."""
    for f in sorted(Path(work_dir).rglob("*")):
        if f.is_file():
            with open(f, "rb") as fh:
                while fh.read(1 << 24):
                    pass


def _child(work_dir: str) -> None:
    from dic_a1_spark.registry import all_queries
    from dic_a1_spark.runner import timed, warm_up
    from dic_a1_spark.session import get_spark

    spark = get_spark(app_name="corescale-child")
    qs = all_queries()
    warm_up(spark, lambda: qs["chisq_top75"](spark, work_dir))
    out = {
        name: timed(spark, lambda: qs[name](spark, work_dir))[0]
        for name in PROBE_QUERIES
    }
    print("CORESCALE_CHILD " + json.dumps(out))
    spark.stop()


def _run_child(cpus: str, work_dir: str) -> dict:
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    try:
        p = subprocess.run(
            [sys.executable, __file__, "--child", "--work-dir", work_dir],
            env=env,
            capture_output=True,
            text=True,
            check=True,
        )
    except subprocess.CalledProcessError as e:
        sys.stderr.write(e.stderr)
        raise SystemExit(f"local[{cpus}] child failed (exit {e.returncode})") from e
    line = [
        ln for ln in p.stdout.splitlines() if ln.startswith("CORESCALE_CHILD ")
    ][-1]
    return json.loads(line.removeprefix("CORESCALE_CHILD "))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--work-dir", default="/tmp/dic_a1_scale")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--factor", type=int, default=50)
    ap.add_argument("--out", default=str(Path(_REPO) / "CORESCALE.json"))
    ap.add_argument("--child", action="store_true")
    args = ap.parse_args()

    if args.child:
        _child(args.work_dir)
        return

    os.makedirs(args.work_dir, exist_ok=True)
    _ensure_amplified(args.work_dir, args.sf_dir, args.factor)
    _warm_page_cache(args.work_dir)

    runs: dict[str, list[dict]] = {"32": [], "8": []}
    for cpus in ("32", "8", "8", "32"):
        runs[cpus].append(_run_child(cpus, args.work_dir))
        print(f"local[{cpus}]:", runs[cpus][-1])
    results = {
        cpus: {q: round(sum(r[q] for r in rs) / len(rs), 3) for q in PROBE_QUERIES}
        for cpus, rs in runs.items()
    }

    ratios = {
        q: round(results["8"][q] / results["32"][q], 2)
        for q in PROBE_QUERIES
        if results["32"].get(q)
    }
    payload = {
        "corpus": f"{args.factor}x amplified {args.sf_dir} (scale_bench layout)",
        "cpus_hi": 32,
        "cpus_lo": 8,
        "sec_32": results["32"],
        "sec_8": results["8"],
        "ratio_8_over_32": ratios,
        "note": (
            "ratio ~= cores ratio (4.0) = data-bound parallel scaling; "
            "~1 = fixed-overhead bound at this size (the sf0.1 bench's "
            "regime for every query)."
        ),
    }
    Path(args.out).write_text(json.dumps(payload, indent=2) + "\n")
    print("wrote", args.out)


if __name__ == "__main__":
    main()
