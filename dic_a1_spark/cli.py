"""CLI entry point — the Spark-native replacement for the reference's
main.sh orchestration (env-var runner switching, path plumbing, timing;
reference src/main.sh:18-50,84-86).

Usage:
    python -m dic_a1_spark.cli chisq --input reviews.json --output outdir \
        [--stopwords stopwords.txt] [--top-k 75] [--master local[32]]
    python -m dic_a1_spark.cli bench [--sf-dir /root/testdata/sf0.1]

Local vs cluster is config-only (same code): pass --master, or omit it and
submit via spark-submit with the cluster master.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _cmd_chisq(args: argparse.Namespace) -> int:
    from dic_a1_spark.operators.reviews import run_pipeline
    from dic_a1_spark.session import get_spark

    spark = get_spark(app_name="dic_a1_spark-chisq", master=args.master)
    t0 = time.perf_counter()
    lines = run_pipeline(
        spark,
        reviews_path=args.input,
        output_dir=args.output,
        stopwords_path=args.stopwords,
        k=args.top_k,
    )
    elapsed = time.perf_counter() - t0
    print(
        json.dumps(
            {
                "output_lines": len(lines),
                "output_dir": args.output,
                "elapsed_sec": round(elapsed, 3),
            }
        )
    )
    spark.stop()
    return 0


def _cmd_query(args: argparse.Namespace) -> int:
    from dic_a1_spark.registry import all_queries
    from dic_a1_spark.runner import timed
    from dic_a1_spark.session import get_spark

    qs = all_queries()
    if args.name == "list" or args.name not in qs:
        for name in sorted(qs):
            print(name)
        return 0 if args.name == "list" else 2

    spark = get_spark(app_name=f"dic_a1_spark-{args.name}", master=args.master)
    sec, n, df = timed(spark, lambda: qs[args.name](spark, args.sf_dir))
    sample = df.limit(min(args.limit or 10, 10)).collect()
    print(
        json.dumps(
            {
                "query": args.name,
                "rows": n,
                "elapsed_sec": sec,
                "sample": [r.asDict() for r in sample],
            },
            default=str,
        )
    )
    spark.stop()
    return 0


def _cmd_explain(args: argparse.Namespace) -> int:
    from dic_a1_spark.plans.explain import formatted_plan, plan_audit
    from dic_a1_spark.registry import all_queries
    from dic_a1_spark.session import get_spark

    qs = all_queries()
    if args.name not in qs:
        print(f"unknown query {args.name!r}; try: python -m dic_a1_spark.cli query list")
        return 2
    spark = get_spark(app_name=f"dic_a1_spark-explain-{args.name}")
    df = qs[args.name](spark, args.sf_dir)
    audit = plan_audit(df)
    if args.full:
        print(formatted_plan(df))
    print(json.dumps({"query": args.name, **audit}))
    spark.stop()
    return 0


def _cmd_bench(args: argparse.Namespace) -> int:
    import os
    import subprocess
    from pathlib import Path

    env = dict(os.environ)
    if args.sf_dir:
        env["SPARK_GRAFT_SF_DIR"] = args.sf_dir
    bench = Path(__file__).resolve().parent.parent / "bench.py"
    return subprocess.call([sys.executable, str(bench)], env=env)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="dic_a1_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    p_chisq = sub.add_parser("chisq", help="reviews chi-square pipeline")
    p_chisq.add_argument("--input", required=True, help="reviews JSON path/glob")
    p_chisq.add_argument("--output", required=True, help="output directory")
    p_chisq.add_argument("--stopwords", default=None, help="stopwords file")
    p_chisq.add_argument("--top-k", type=int, default=75)
    p_chisq.add_argument("--master", default=None, help="Spark master override")
    p_chisq.set_defaults(fn=_cmd_chisq)

    p_bench = sub.add_parser("bench", help="run the benchmark harness")
    p_bench.add_argument("--sf-dir", default=None)
    p_bench.set_defaults(fn=_cmd_bench)

    p_query = sub.add_parser("query", help="run a registered query by name")
    p_query.add_argument("name", help="query name, or 'list' to enumerate")
    p_query.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p_query.add_argument("--limit", type=int, default=10, help="sample row cap")
    p_query.add_argument("--master", default=None)
    p_query.set_defaults(fn=_cmd_query)

    p_explain = sub.add_parser(
        "explain", help="plan audit (pushdown/broadcast/exchanges) for a query"
    )
    p_explain.add_argument("name")
    p_explain.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p_explain.add_argument("--full", action="store_true", help="print full plan")
    p_explain.set_defaults(fn=_cmd_explain)

    args = parser.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
