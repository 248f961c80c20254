#!/usr/bin/env python3
"""Timed amplified-corpus benchmark — the steady-state throughput number.

bench.py times the headline queries at sf0.1 (~5K documents), where fixed
Spark job overhead (~0.3-0.5 s) dominates and docs/sec says nothing about
engine throughput. This tool amplifies `documents` N-fold (default 50x ->
~250K docs), MATERIALIZES the amplified corpus to parquet once (so
amplification cost is excluded from every timed run), then times each
headline document query on its first, cold-cache materialization and
reports per-query docs/sec.

The chisq_top75 number is the one comparable to the reference baseline
(~55K reviews/s end-to-end for its 56 GB cluster run — BASELINE.md).

Usage:
    python tools/scale_bench.py [--factor 50] [--sf-dir /root/testdata/sf0.1]
                                [--work-dir /tmp/dic_a1_scale]
                                [--out SCALEBENCH.json]

Writes the JSON artifact to --out and prints it as one line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
from functools import reduce
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

# Registered document-only queries timed at amplified scale. Every text has
# `factor` exact copies, so the dedup ladder is stressed adversarially
# (every LSH bucket is hot) rather than flattered.
HEADLINE_DOC_QUERIES = [
    "chisq_top75",
    "chisq_doc_frequency",
    "dedup_exact_groups",
    "dedup_tokenset_groups",
    "dedup_minhash_pairs",
    "dedup_simhash_pairs",
    "text_token_stats",
    "text_quality_score",
    "text_lang_id",
    "doc_fingerprint",
    "text_tfidf_top_terms",
    "text_bigram_topk",
    "text_bpe_token_count",
    # group-level near-dup (label propagation) — the linear-cost scale path
    # where pair enumeration is inherently quadratic on duplicate clusters
    "dedup_minhash_groups",
    "dedup_simhash_groups",
    # oracle-gated LSH (md5-affine family) — the hash-verified twin of
    # dedup_minhash_pairs. The simhash md5 twin is NOT amplified here:
    # with `factor` exact copies per doc its identical-signature pairs
    # are C(factor,2)-quadratic (measured 364M rows / 94 s at 250K docs)
    # — the same output-bound class as the skipped exact-Jaccard run;
    # the amplified SimHash story is the production pairs/groups above.
    "dedup_minhash_md5_pairs",
    # curation tranche: broadcast decontamination, stratified hash
    # rebalance, map-only chunking, and the composed pipeline
    "decontam_ngram_overlap",
    "decontam_ngram_overlap_fast",
    "curation_pipeline",
    "lang_rebalance_sample",
    "doc_chunk_windows",
    "doc_pack_bins",
    "doc_pack_concat",
    "doc_split_assign",
    "text_repetition_ratio",
    "text_token_freq_items",
    # round-4 tranche: map-only PII scrubbing, URL rollup, broadcast
    # incremental dedup, and the corpus-shape diagnostics
    "text_pii_scrub",
    "text_url_domains",
    "dedup_incremental_keep",
    "dedup_incremental_minhash",
    "doc_length_histogram",
    "text_ngram_vocab",
    "docsim_tfidf_topk",
    "dedup_repeated_ngrams",
    # round-5 tranche: unigram-LM scoring, Bloom decontamination (the
    # constant-broadcast fast path), domain quotas, outlier flags
    "text_unigram_surprisal",
    "decontam_bloom",
    "domain_quota_cap",
    "quality_outlier_zscore",
    "corpus_hygiene_pipeline",
    # round-6 tranche: corpus line dedup (adversarial here — every line
    # recurs `factor` times, so ~everything is boilerplate and the
    # kept-filter join runs at full tilt), leakage-safe splits over
    # factor-sized tokenset groups, deterministic sampling, and the
    # domain-census mixture planners
    "line_dedup_kept",
    "line_dedup_stats",
    "split_leakage_safe_assign",
    "sample_per_group_hash",
    "domain_mix_allocation",
    "mix_epoch_plan",
    "vocab_topv_oov",
    "corpus_datacard",
    # ExactSubstr span dedup (adversarial here: every window recurs
    # `factor` times, so every hit row survives the census and the
    # interval merge runs over the entire window stream — one maximal
    # span per doc)
    "substr_dup_spans",
    "substr_dup_stats",
    # winnowing selection (window-min over the amplified gram stream),
    # DSIR scoring (bucket census + broadcast-weight join at full fan-in),
    # and the perplexity decile census (value-census ranks, no global
    # sort — the amplified corpus stresses the per-value row_number)
    "winnow_fingerprints",
    "dsir_logratio_weights",
    "ppl_decile_census",
    # content-defined chunking: zero-exchange map pass + one census
    # aggregation (adversarial here: the amplified corpus multiplies
    # every chunk `factor` times, so the census sees maximal dup mass)
    "cdc_chunks",
    "cdc_stats",
    # PMI collocations (pair census at full amplified fan-in) and the
    # one-pass Heaps curve
    "colloc_pair_census",
    "vocab_growth_curve",
    # spark.ml library yardstick (rep-collapsed MinHashLSH): adversarial
    # here — every doc has `factor` exact copies, so the post-join pair
    # expansion is the C(factor,2)-quadratic cost center, same class as
    # dedup_simhash_pairs on this corpus
    "ml_minhash_neardups",
    # round-7 tranche: BM25 scoring (map-only tf + query-sized broadcast
    # stats at full corpus fan-in), BPE induction (the amplified corpus
    # multiplies the word census weights, vocabulary stays bounded),
    # per-source diversity censuses, broadcast taxonomy labeling, linear
    # quality inference, and the retrieval->packing composition
    "bm25_topk",
    "bm25_batch_topk",
    "bpe_merges",
    "diversity_simpson",
    "diversity_distinct_ngrams",
    "taxonomy_doc_topics",
    "qlin_doc_scores",
    "rag_context_pack",
    "index_postings",
    "source_overlap_matrix",
    # round 8: token budgets under the induced BPE vocabulary and
    # best-of-cluster representative selection (adversarial here: every
    # doc has `factor` exact copies, so every group is factor-deep)
    "bpe_corpus_token_counts",
    "repselect_best_of_group",
    "repselect_gain",
    "index_compression",
    # round 9 twins (VERDICT r9 item 7): the corpus-side vocabulary-fit
    # panel (same census as bpe_corpus_token_counts, different rollup)
    # and the postings-compression sizing rollup
    "bpe_corpus_compression",
    "index_compression_summary",
    # round 11: real container-header parsing — map-only hex/conv field
    # extraction over synthesized PNG/WAV payloads (no Python, no shuffle;
    # amplified cost is pure scan + projection throughput)
    "multimodal_header_meta",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=50)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--work-dir", default="/tmp/dic_a1_scale")
    ap.add_argument("--out", default=str(Path(_REPO) / "SCALEBENCH.json"))
    # Exact-Jaccard with the hot-shingle ceiling. 0 skips it: on THIS
    # amplified corpus every doc has `factor` exact copies, so the true
    # near-dup pair count itself is C(factor,2)-quadratic and pair
    # enumeration cost is output-bound no matter the ceiling (the ceiling
    # guards against viral-shingle FALSE candidates, a different failure
    # mode — unit-tested in tests/test_dedup.py). Group-level dedup
    # (dedup_minhash_groups) is the linear-cost path benchmarked instead.
    ap.add_argument("--jaccard-ceiling", type=int, default=0)
    # Embeddings amplification factor. Embedding queries are timed over
    # n_base x embed_factor vectors; the blocked near-dup runs with a
    # SCALE-SIZED codebook (target ~200 vectors per block) — growing the
    # centroid count with the corpus is the documented scale path, while
    # the registered query keeps the fixed IVF_K its oracle states.
    ap.add_argument("--embed-factor", type=int, default=50)
    # Events-stream and trade-graph amplification (round-8: the r7
    # verdict asked for amplified rows for the events/graph families).
    # Events replicate USERS (event_id AND user_id offset per replica):
    # volume scales through population growth, keeping per-user stream
    # lengths — the quantity the sessionization/attribution windows sort
    # by — at their realistic size. The trade graph replicates lineitem
    # ROWS with keys unchanged: dims stay fixed and the discovery join's
    # fan-in scales, which is what 100 TB of trade volume looks like.
    ap.add_argument("--events-factor", type=int, default=50)
    ap.add_argument("--graph-factor", type=int, default=20)
    # BPE merge induction past demo depth (registered queries run 6
    # rounds — the oracle's unroll). One measured run at 32 rounds over
    # the amplified corpus evidences that per-round cost stays
    # vocabulary-sized (census + 1-row checkpoint + map-only replace)
    # once the single corpus census is paid. 0 skips.
    ap.add_argument("--bpe-rounds", type=int, default=32)
    args = ap.parse_args()

    from dic_a1_spark.registry import all_queries
    from dic_a1_spark.runner import amplified_table, timed, warm_up
    from dic_a1_spark.session import get_spark
    from dic_a1_spark.sources.readers import load_table, table_rowcount

    spark = get_spark(app_name="dic_a1_spark-scale-bench")
    wd = args.work_dir

    def record(out: dict, name: str, build, n: int, rate_key: str) -> dict:
        sec, rows_out, _ = timed(spark, build)
        out[name] = {
            "sec": sec,
            "rows_out": rows_out,
            rate_key: round(n / sec, 1) if sec > 0 else None,
        }
        print(f"# {name}: {sec}s, {rows_out} rows", file=sys.stderr, flush=True)
        return out[name]

    # Materialize the amplified corpus once; timed runs then scan parquet
    # exactly like any other sf_dir. Repartition before writing — the
    # crossJoin against a broadcast range preserves the source's (single)
    # partition, and one parquet file under maxPartitionBytes would make
    # every timed scan single-threaded.
    # Range-partition the amplified writes on the id column: round-robin
    # repartition scatters ids across every file, so row-group min/max
    # stats never prune and id predicates (e.g. decontam's benchmark
    # slice) decode the whole corpus. Range layout is the data layout a
    # real corpus store would use.
    docs_path = os.path.join(wd, "documents.parquet")
    _, docs_amp = amplified_table(spark, args.sf_dir, "documents", "doc_id", args.factor)
    docs_amp.repartitionByRange(64, "doc_id").write.mode("overwrite").parquet(
        docs_path
    )
    n_docs = table_rowcount(wd, "documents")

    emb_path = os.path.join(wd, "embeddings.parquet")
    n_vec_base, emb_amp = amplified_table(
        spark, args.sf_dir, "embeddings", "vec_id", args.embed_factor
    )
    emb_amp.repartitionByRange(64, "vec_id").write.mode("overwrite").parquet(
        emb_path
    )
    n_vecs = table_rowcount(wd, "embeddings")

    qs = all_queries()
    names = [n for n in HEADLINE_DOC_QUERIES if n in qs]

    warm_up(spark, lambda: qs[names[0]](spark, wd))
    queries: dict[str, dict] = {}
    for name in names:
        record(queries, name, lambda: qs[name](spark, wd), n_docs, "docs_per_sec")

    if args.jaccard_ceiling > 0:
        from dic_a1_spark.operators.dedup import (
            _with_shingles,
            jaccard_pairs_from_index,
        )

        record(
            queries,
            f"dedup_jaccard_pairs_ceiling{args.jaccard_ceiling}",
            lambda: jaccard_pairs_from_index(
                _with_shingles(load_table(spark, wd, "documents")),
                max_shingle_df=args.jaccard_ceiling,
            ),
            n_docs,
            "docs_per_sec",
        )

    # Embedding queries over the amplified vector corpus. The registered
    # fixed-K blocked near-dup is OMITTED on purpose: with K=8 blocks its
    # pair count is quadratic in corpus size (the whole reason the scale
    # path grows K); the scale-sized run below is the honest number.
    from dic_a1_spark.operators.similarity import (
        NEARDUP_NPROBE,
        embedding_neardup_blocked,
    )

    emb_queries: dict[str, dict] = {}
    for name in [
        "ivf_assignments",
        "ivf_assignments_fast",
        "knn_cosine_bruteforce",
        "knn_cosine_ivf",
        "embedding_quantize_int8",
        "knn_cosine_quantized",
        "knn_cosine_quantized_fast",
        "embedding_pq_codes",
        "embedding_pq_codes_fast",
        "knn_cosine_pq",
        "knn_cosine_pq_fast",
        # round 8: embedding decontamination (bipartite blocked ANN,
        # data-sized codebook from the registered query)
        "embdecontam_flagged",
        "embdecontam_summary",
        # round 11: deterministic Lloyd's k-means (hash-gated) — per
        # round one K-row broadcast + Arrow-batched K x n distance pass
        # + exact-integer groupBy; cost is ITERS x the ivf_assignments
        # shape
        "ml_kmeans_clusters",
    ]:
        record(emb_queries, name, lambda: qs[name](spark, wd), n_vecs, "vecs_per_sec")

    scaled_k = max(8, min(n_vec_base, n_vecs * NEARDUP_NPROBE // 200))
    record(
        emb_queries,
        f"embedding_neardup_blocked_k{scaled_k}",
        lambda: embedding_neardup_blocked(spark, wd, ivf_k=scaled_k),
        n_vecs,
        "vecs_per_sec",
    )

    # SemDeDup at scale: the registered fixed-K query is quadratic inside
    # clusters (like blocked near-dup), so the honest scale number grows
    # K with the corpus — same sizing formula as scaled_k above — via the
    # bit-identical matmul assignment twin.
    from dic_a1_spark.operators.semdedup import semdedup_keep

    record(
        emb_queries,
        f"semdedup_keep_k{scaled_k}",
        lambda: semdedup_keep(spark, wd, ivf_k=scaled_k),
        n_vecs,
        "vecs_per_sec",
    )

    # Group assignment over the verified pair graph: the registered query
    # sizes its own codebook from the data (same formula as scaled_k), so
    # it runs here unmodified — label propagation cost is linear in the
    # verified edge count plus per-iteration shuffles.
    record(
        emb_queries,
        "embedding_neardup_groups",
        lambda: qs["embedding_neardup_groups"](spark, wd),
        n_vecs,
        "vecs_per_sec",
    )

    # --- events stream at amplified scale -------------------------------
    import shutil

    from pyspark.sql import functions as F

    ev = load_table(spark, args.sf_dir, "events")
    n_ev_base = ev.count()
    max_user = int(ev.agg(F.max("user_id")).first()[0])
    ev_amp = (
        ev.crossJoin(
            F.broadcast(
                spark.range(args.events_factor).withColumnRenamed("id", "rep")
            )
        )
        .withColumn(
            "event_id", F.col("event_id") + F.col("rep") * F.lit(n_ev_base * 10)
        )
        .withColumn(
            "user_id", F.col("user_id") + F.col("rep") * F.lit(max_user + 10)
        )
        .drop("rep")
    )
    ev_path = os.path.join(wd, "events.parquet")
    ev_amp.repartitionByRange(64, "user_id", "ts").write.mode(
        "overwrite"
    ).parquet(ev_path)
    n_events = table_rowcount(wd, "events")

    event_queries: dict[str, dict] = {}
    for name in [
        "events_session_windows",
        "events_attribution",
        "events_attribution_rollup",
        "events_hourly_anomaly",
        "events_seasonal_deviation",
        "events_dow_hour_profile",
    ]:
        record(
            event_queries, name, lambda: qs[name](spark, wd), n_events, "events_per_sec"
        )

    # --- trade graph at amplified fan-in --------------------------------
    # graph_* discover their edges from lineitem/orders/customer/supplier;
    # copy the dims unchanged and replicate the fact rows.
    for t in ("region", "nation", "customer", "supplier", "part", "orders"):
        src = Path(args.sf_dir) / f"{t}.parquet"
        dst = Path(wd) / f"{t}.parquet"
        if dst.is_dir():
            shutil.rmtree(dst)
        shutil.copy(src, dst)
    li = load_table(spark, args.sf_dir, "lineitem")
    n_li_base = li.count()
    li_amp = li.crossJoin(
        F.broadcast(spark.range(args.graph_factor).select(F.lit(1).alias("_r")))
    ).drop("_r")
    li_path = os.path.join(wd, "lineitem.parquet")
    li_amp.repartition(64).write.mode("overwrite").parquet(li_path)
    n_li = table_rowcount(wd, "lineitem")

    graph_queries: dict[str, dict] = {}
    for name in ["graph_nation_edges", "graph_degree_census", "graph_pagerank"]:
        record(
            graph_queries, name, lambda: qs[name](spark, wd), n_li, "lineitems_per_sec"
        )

    # --- BM25 batch fan-out flatness ---------------------------------------
    # Batch scoring pays ONE tagged corpus fold regardless of B. The
    # plan-shape test pins the exchange count; this measures the
    # wall-clock consequence on the amplified corpus: B=3 (the registered
    # batch) vs B=12 must be near-flat, not ~4x.
    from pyspark.sql import Window

    from dic_a1_spark.operators.bm25 import BM25_BATCH, BM25_BATCH_K, _scored_batch

    _FANOUT_VOCAB = [
        "dup", "hash", "key", "scan", "filter", "merge",
        "stream", "batch", "window", "join", "vector", "table",
    ]

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))

    def _batch_topk_sec(batch) -> tuple[float, int]:
        return timed(
            spark,
            lambda: _scored_batch(load_table(spark, wd, "documents"), batch)
            .withColumn("rank", F.row_number().over(w).cast("bigint"))
            .where(F.col("rank") <= BM25_BATCH_K),
        )[:2]

    big_batch = tuple(
        (
            f"q{i:02d}",
            tuple(_FANOUT_VOCAB[(i + j) % len(_FANOUT_VOCAB)] for j in range(3)),
        )
        for i in range(12)
    )
    # A single unrepeated timing with B=3 always first lets residual
    # JVM/codegen warm-up land on the B=3 run and bias the b12/b3 ratio
    # optimistically flat: discard one warm-up pass, then take the median
    # of 3 repeats per width.
    _batch_topk_sec(BM25_BATCH)  # discarded JVM/codegen warm-up

    def _median_topk_sec(batch) -> tuple[float, int]:
        reps = [_batch_topk_sec(batch) for _ in range(3)]
        return statistics.median(s for s, _ in reps), reps[0][1]

    sec_b3, rows_b3 = _median_topk_sec(BM25_BATCH)
    sec_b12, rows_b12 = _median_topk_sec(big_batch)
    bm25_fanout = {
        "note": (
            "one tagged corpus fold regardless of B (r8 re-shape): "
            "wall-clock must stay ~flat in batch width, not scale ~B; "
            "median of 3 repeats per width after a discarded warm-up"
        ),
        "b3": {"sec": sec_b3, "rows_out": rows_b3},
        "b12": {"sec": sec_b12, "rows_out": rows_b12},
        "b12_over_b3": round(sec_b12 / sec_b3, 2) if sec_b3 > 0 else None,
    }
    print(
        f"# bm25_batch_fanout: B=3 {sec_b3}s, B=12 {sec_b12}s "
        f"(ratio {bm25_fanout['b12_over_b3']})",
        file=sys.stderr,
        flush=True,
    )

    # --- BPE induction past demo depth -----------------------------------
    bpe_row = None
    if args.bpe_rounds > 0:
        from dic_a1_spark.operators.bpe import _rounds

        def deep_merges():
            _, tops = _rounds(spark, wd, n_rounds=args.bpe_rounds)
            return reduce(lambda a, b: a.unionByName(b), tops)

        bpe_row = {
            "rounds": args.bpe_rounds,
            **record(
                {},
                f"bpe_merges_rounds{args.bpe_rounds}",
                deep_merges,
                n_docs,
                "docs_per_sec",
            ),
        }

    result = {
        "metric": "amplified-corpus throughput",
        "factor": args.factor,
        "base_sf_dir": args.sf_dir,
        "n_docs": n_docs,
        "n_vecs": n_vecs,
        "unit": "docs/sec",
        "chisq_docs_per_sec": queries.get("chisq_top75", {}).get("docs_per_sec"),
        "total_sec": round(
            sum(q["sec"] for q in queries.values())
            + sum(q["sec"] for q in emb_queries.values())
            + sum(q["sec"] for q in event_queries.values())
            + sum(q["sec"] for q in graph_queries.values()),
            2,
        ),
        "queries": queries,
        "embedding_queries": emb_queries,
        "events_factor": args.events_factor,
        "n_events": n_events,
        "event_queries": event_queries,
        "graph_factor": args.graph_factor,
        "n_lineitems": n_li,
        "graph_queries": graph_queries,
        "bpe_deep_run": bpe_row,
        "bm25_batch_fanout": bm25_fanout,
    }
    with open(args.out, "w") as f:
        json.dump(result, f, indent=2)
        f.write("\n")
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
