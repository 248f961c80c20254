"""Benchmark of the dic_a1_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Each run is one fresh process driving one
workload in a closed loop (one caller, operations back to back) on
``local[N]`` with N = the CPUs this process may use. The run:

1. generates the workload's inputs from ``--seed`` (cached per seed under
   ``.perfbench_work/``);
2. sets the session up three times (the first launches the JVM, the next
   two stop the session, drop the package's modules and start again on the
   same JVM) and reports the median as ``setup_s``;
3. times the fixed control job, runs the workload's untimed warm-up pass
   (if its config asks for one), then times a fixed number of whole passes,
   ``round(--seconds / pass_estimate_s)`` and at least one, clearing
   Spark's cache before every operation;
4. times the control job again, stops Spark and waits for every process it
   started;
5. checks every measured operation's result against an expectation
   computed without the program (cached per seed).

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end metrics of ``BENCHMARK.json``; with ``--trace 1`` they
are its per-layer metrics, read from spans around the calls, the Spark
status stores (by job group) and ``/proc``. Spans are written to
``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
SETUP_ROUNDS = 3
# Control job: rows hashed and grouped; sized for 1-2 s on a 4-core host.
CONTROL_ROWS = 28_000_000

sys.path.insert(0, str(HERE))

import layers  # noqa: E402
import workloads  # noqa: E402


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _configure_env(cpus: int) -> None:
    """Point Spark, the JVM and Python's temp files into the work
    directory, size ``local[N]`` to the usable CPUs and put the checkout on
    the Python workers' path (pandas UDFs import the package there)."""
    tmp = WORK / "tmp"
    for d in (tmp, WORK / "spark-local", WORK / "warehouse"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(WORK / "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


# ---------------------------------------------------------------------------
# Set-up, control job, teardown
# ---------------------------------------------------------------------------


def _setup_round(tr: layers.Tracer, cpus: int, round_no: int) -> tuple[object, dict]:
    with tr.span("setup", round=round_no) as total:
        with tr.span("session.get_spark") as s_spark:
            from dic_a1_spark.session import get_spark

            spark = get_spark(app_name="perfbench")
        with tr.span("registry.all_queries") as s_reg:
            from dic_a1_spark import registry

            registry.all_queries()
        with tr.span("session.first_job") as s_job:
            spark.range(0, 100_000, 1, cpus).selectExpr("id % 101 AS k").groupBy("k").count().collect()
        with tr.span("session.python_workers") as s_py:
            from pyspark.sql import functions as F

            ident = F.pandas_udf(lambda s: s, "long")
            spark.range(0, 4096, 1, cpus).select(ident("id").alias("x")).agg(F.sum("x")).collect()
    return spark, {
        "total": total.seconds, "get_spark": s_spark.seconds, "all_queries": s_reg.seconds,
        "first_job": s_job.seconds, "python_workers": s_py.seconds,
    }


def _control(spark, tr: layers.Tracer, cpus: int) -> float:
    """The host control: a fixed JVM-only hash + shuffle aggregate that no
    change to the package touches."""
    from pyspark.sql import functions as F

    with tr.span("host.control") as s:
        (spark.range(0, CONTROL_ROWS, 1, cpus)
         .select((F.xxhash64("id") % 4096).alias("k"), F.hash("id").alias("h"))
         .groupBy("k").agg(F.sum("h"), F.count("*")).collect())
    return s.seconds


def _shutdown(spark) -> None:
    """Stop Spark, close the JVM and wait for it and its Python workers."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    family = [pid for pid, _, _ in layers.tree(proc.pid)] if proc else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 20
    for pid in family:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


# ---------------------------------------------------------------------------
# Measured loop
# ---------------------------------------------------------------------------


def _measure(wl, spark, tr: layers.Tracer, probe, jvm_pid: int, seconds: float):
    """Run whole passes for about ``seconds``. The pass count is fixed from
    ``seconds`` and the workload's configured pass estimate (at least one),
    so every run of a workload times the same work. Returns the passes as
    lists of per-op records."""
    n_passes = max(1, round(seconds / wl.pass_estimate_s))
    passes: list[list[dict]] = []
    for k in range(n_passes):
        with tr.span("pass", index=k):
            passes.append([
                _one_op(wl, spark, tr, probe, jvm_pid, f"{k}.{i}.{name}", name)
                for i, name in enumerate(wl.pass_order())
            ])
    return passes


def _one_op(wl, spark, tr, probe, jvm_pid, tag, name) -> dict:
    spark.catalog.clearCache()
    if probe is not None:
        probe.tag(tag)
        ex0 = probe.last_execution_id()
        cpu0 = layers.python_cpu_s(layers.tree(jvm_pid))
    rec = {"name": name, "seconds": None, "build_s": 0.0, "digest": None}
    try:
        with tr.span("op", query=name, tag=tag):
            op = wl.run(spark, name, tr)
        rec.update(seconds=op.seconds, build_s=op.build_s, digest=op.digest)
    except Exception:
        traceback.print_exc()
        return rec
    if probe is not None:
        rec["stats"] = probe.group_stats(tag, ex0)
        rec["stats"]["py_cpu_s"] = layers.python_cpu_s(layers.tree(jvm_pid)) - cpu0
        rec["phases"] = layers.plan_phases(op.df) if op.df is not None else {}
        probe.clear_group()
    return rec


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------


def _p(values: list[float], q: int) -> float:
    """q-th percentile (inclusive interpolation); the value itself for one
    sample."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _end_to_end(wl, passes, setups, peak_rss) -> dict:
    lat = [r["seconds"] for p in passes for r in p if r["seconds"] is not None]
    pass_s = [sum(r["seconds"] or 0.0 for r in p) for p in passes]
    return {
        "setup_s": statistics.median(s["total"] for s in setups),
        "pass_s": statistics.median(pass_s),
        "op_p50_s": _p(lat, 50),
        "op_p90_s": _p(lat, 90),
        "items_per_s": wl.items_per_pass() * len(passes) / sum(pass_s),
        "peak_rss_mb": peak_rss,
    }


def _per_layer(wl, passes, setups, controls, cache_left, prefix, cores, queries) -> dict:
    med = statistics.median
    per_pass = []
    for p in passes:
        agg: dict[str, float] = {"wall": sum(r["seconds"] or 0.0 for r in p)}
        for r in p:
            agg["build"] = agg.get("build", 0.0) + r["build_s"]
            for k, v in r.get("stats", {}).items():
                if k != "job_s":
                    agg[k] = agg.get(k, 0.0) + v
            for k, v in r.get("phases", {}).items():
                agg["ph_" + k] = agg.get("ph_" + k, 0.0) + v
        per_pass.append(agg)

    def pm(key: str) -> float:
        return med(a.get(key, 0.0) for a in per_pass)

    ops = [r for p in passes for r in p]
    jobs = [s for r in ops for s in r.get("stats", {}).get("job_s", [])]
    mb = 2.0**20
    build_s = pm("build") if isinstance(wl, workloads.RegistryQueries) else prefix.get("build_s", 0.0)
    out = {
        "session.get_spark_s": med(s["get_spark"] for s in setups),
        "session.first_job_s": med(s["first_job"] for s in setups),
        "session.python_workers_s": med(s["python_workers"] for s in setups),
        "session.cold_start_s": setups[0]["total"],
        "registry.all_queries_s": med(s["all_queries"] for s in setups),
        "sources.input_mb": pm("input_b") / mb,
        "sources.read_amplification": pm("input_b") / wl.input_bytes,
        "sources.parse_s": prefix.get("parse_s", 0.0),
        "functions.tokenize_s": prefix.get("tokenize_s", 0.0),
        "operators.chisq.score_s": prefix.get("score_s", 0.0),
        "sinks.write_s": prefix.get("write_s", 0.0),
        "operators.build_s": build_s,
        "operators.execute_s": pm("wall") - build_s,
        "plans.analyze_s": pm("ph_analysis"),
        "plans.optimize_s": pm("ph_optimization"),
        "plans.physical_s": pm("ph_planning"),
        "exec.jobs": pm("jobs"),
        "exec.stages": pm("stages"),
        "exec.tasks": pm("tasks"),
        "exec.run_s": pm("run_s"),
        "exec.cpu_s": pm("cpu_s"),
        "exec.gc_s": pm("gc_s"),
        "exec.shuffle_write_mb": pm("shuffle_write_b") / mb,
        "exec.shuffle_read_mb": pm("shuffle_read_b") / mb,
        "exec.spill_mb": pm("spill_b") / mb,
        "exec.core_busy": pm("run_s") / (pm("wall") * cores),
        "python.worker_cpu_s": pm("py_cpu_s"),
        "python.arrow_mb": pm("arrow_b") / mb,
        "iterate.jobs_per_query": pm("jobs") / max(1, len(passes[0])),
        "iterate.job_p50_s": med(jobs) if jobs else 0.0,
        "cache.rdds_left": float(cache_left[0]),
        "cache.mb_left": cache_left[1],
        "host.control_s": med(controls),
        "workload.ops": float(len(ops)),
        "workload.passes": float(len(passes)),
    }
    for q in queries:
        times = [r["seconds"] for r in ops if r["name"] == q and r["seconds"] is not None]
        out[f"operators.{q}.s"] = med(times) if times else 0.0
    return out


def _reviews_prefixes(wl, spark, tr: layers.Tracer) -> dict:
    """Prefix timings of the reviews pipeline's public functions: the JSON
    parse alone, parse + tokenize + stopword removal, the three chi-square
    collects, and formatting + writing the output. Tokenize and score are
    reported as their time beyond the shorter prefix."""
    from pyspark.sql import functions as F

    from dic_a1_spark.functions.text import explode_tokens
    from dic_a1_spark.operators.chisq import format_golden_lines, remove_stopwords_df
    from dic_a1_spark.operators.reviews import reviews_chisq, reviews_to_docs
    from dic_a1_spark.sources.readers import read_stopwords
    from dic_a1_spark.sources.sinks import format_counters_line

    spark.catalog.clearCache()
    with tr.span("sources.parse") as s_parse:
        docs = reviews_to_docs(spark, wl.reviews)
        docs.groupBy("category").agg(F.count("*"), F.sum(F.length("text"))).collect()
    spark.catalog.clearCache()
    with tr.span("functions.tokenize") as s_tok:
        docs = reviews_to_docs(spark, wl.reviews)
        tok = remove_stopwords_df(explode_tokens(docs), read_stopwords(spark, wl.stopwords))
        tok.groupBy("category").agg(F.count("*")).collect()
    spark.catalog.clearCache()
    with tr.span("operators.chisq.score") as s_score:
        with tr.span("operators.build") as s_build:
            topk, vocab, counters = reviews_chisq(spark, wl.reviews, wl.stopwords)
        topk_rows = topk.collect()
        vocab_words = [r["word"] for r in vocab.collect()]
        crows = counters.collect()
    with tr.span("sinks.write") as s_write:
        out = wl.out + "-prefix"
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, "chisq_output.txt"), "w", encoding="utf-8") as fh:
            fh.write("\n".join(format_golden_lines(topk_rows, vocab_words)) + "\n")
        total = crows[0]["n_total"] if crows else 0
        with open(os.path.join(out, "counters.txt"), "w", encoding="utf-8") as fh:
            fh.write(format_counters_line(total, {r["category"]: r["cat_n"] for r in crows}) + "\n")
    return {
        "parse_s": s_parse.seconds,
        "tokenize_s": max(0.0, s_tok.seconds - s_parse.seconds),
        "score_s": max(0.0, s_score.seconds - s_tok.seconds),
        "write_s": s_write.seconds,
        "build_s": s_build.seconds,
    }


# ---------------------------------------------------------------------------


def main(argv=None) -> int:
    args = _args(argv)
    if not (ROOT / "dic_a1_spark" / "__init__.py").is_file():
        print(f"error: no dic_a1_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cfg = json.loads((HERE / "config.json").read_text())
    cpus = len(os.sched_getaffinity(0))
    WORK.mkdir(exist_ok=True)
    _configure_env(cpus)
    sys.path.insert(0, str(ROOT))

    wl = workloads.build(args.workload, cfg, str(WORK), args.seed)
    wl.prepare()
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tr = layers.Tracer(run_id, enabled=bool(args.trace))

    setups = []
    spark = None
    for k in range(SETUP_ROUNDS):
        if spark is not None:
            # Later rounds start a new session on the same JVM and import
            # the package afresh, so import-time work counts in every round.
            spark.stop()
            for mod in [m for m in sys.modules if m.split(".")[0] == "dic_a1_spark"]:
                del sys.modules[mod]
        spark, info = _setup_round(tr, cpus, k)
        setups.append(info)
    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    try:
        wl.load()
        controls = [_control(spark, tr, cpus)]
        with tr.span("warmup"):
            wl.warmup(spark)
        probe = layers.SparkProbe(spark) if args.trace else None
        with tr.span("measure"):
            passes = _measure(wl, spark, tr, probe, jvm_pid, args.seconds)
        peak_rss = layers.peak_rss_mb(layers.tree(jvm_pid))
        controls.append(_control(spark, tr, cpus))
        spark.catalog.clearCache()
        cache_left = layers.SparkProbe(spark).cache_left()
        prefix = _reviews_prefixes(wl, spark, tr) if args.trace and args.workload == "reviews_chisq" else {}
    finally:
        _shutdown(spark)

    expected = wl.expected()
    ops = [r for p in passes for r in p]
    failed = 0
    for r in ops:
        if r["digest"] != expected[r["name"]]:
            failed += 1
            print(f"check failed: {r['name']}: got {r['digest']}, expected {expected[r['name']]}",
                  file=sys.stderr)

    e2e = _end_to_end(wl, passes, setups, peak_rss)
    if args.trace:
        queries = [q for w in workloads.WORKLOADS if w != "reviews_chisq" for q in cfg[w]["queries"]]
        values = _per_layer(wl, passes, setups, controls, cache_left, prefix,
                            cpus, queries)
        chosen = spec["per_layer"]
        traces = WORK / "traces"
        traces.mkdir(exist_ok=True)
        (traces / f"{run_id}.json").write_text(json.dumps(
            {"spans": tr.dump(), "ops": [{k: v for k, v in r.items() if k != "digest"} for r in ops]}))
    else:
        values = e2e
        chosen = spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in chosen}

    print(f"{args.workload} seed={args.seed} local[{cpus}] passes={len(passes)} ops={len(ops)} "
          f"failed={failed} control_s={statistics.median(controls):.3f}")
    for k, v in e2e.items():
        print(f"  {k} = {v:.4f}")
    if args.workload == "reviews_chisq":
        print(f"  reviews_per_s = {e2e['items_per_s']:.0f} (reference cluster: ~55000)")
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
