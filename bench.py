#!/usr/bin/env python3
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query is timed by dic_a1_spark.runner.timed: cold cache, warm JVM
and Python workers, first materialization, plan construction included
(iterative operators run jobs while they build).
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The flagship chi-square pipeline plus representative relational, events,
# dedup, similarity and curation workloads, by registry name. The
# 16-round label-propagation certifiers (dedup_simhash_md5_groups,
# dedup_ladder_report) are left to the hostile sweep: too heavy for a
# wall-clock set.
HEADLINE = [
    "chisq_top75",
    "chisq_doc_frequency",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "join_sort_merge_facts",
    "agg_rollup",
    "window_running_total",
    "events_session_windows",
    "events_tumbling_hour",
    "text_token_stats",
    "dedup_exact_groups",
    "dedup_minhash_pairs",
    "dedup_simhash_pairs",
    "knn_cosine_bruteforce",
    "embedding_neardup_blocked",
    "sql_top_returned_customers",
    "events_asof_click_before_purchase",
    "events_range_join_error_clicks",
    "q4_late_shipment_priority",
    "q13_order_count_distribution",
    "q19_bracketed_revenue",
    "text_bigram_topk",
    "text_tfidf_top_terms",
    "q9_product_profit",
    "q21_sole_late_supplier",
    "decontam_ngram_overlap",
    "decontam_ngram_overlap_fast",
    "doc_chunk_windows",
    "dedup_minhash_md5_pairs",
    "dedup_simhash_groups",
    "ivf_assignments_fast",
    "embedding_neardup_blocked_fast",
    "dedup_minhash_md5_groups",
    "embedding_neardup_groups",
    "curation_pipeline",
    "doc_pack_bins",
    "text_pii_scrub",
    "dedup_incremental_keep",
    "knn_cosine_quantized",
    "doc_length_histogram",
    "docsim_tfidf_topk",
    "dedup_repeated_ngrams",
    "events_funnel_depth",
    "dedup_incremental_minhash",
    "lsh_recall_report",
    "text_unigram_surprisal",
    "decontam_bloom",
    "domain_quota_cap",
    "quality_outlier_zscore",
    "knn_cosine_quantized_fast",
    "corpus_hygiene_pipeline",
    "dedup_simhash_md5_pairs",
    "embedding_pq_codes",
    "embedding_pq_codes_fast",
    "knn_cosine_pq",
    "line_dedup_kept",
    "semdedup_keep",
    "knn_cosine_pq_fast",
    "substr_dup_spans",
    "winnow_fingerprints",
    "dsir_selected",
    "ppl_decile_census",
    "cdc_stats",
    "colloc_pmi_topk",
    "bm25_batch_topk",
    "bpe_merges",
    "graph_pagerank",
    "diversity_simpson",
    "taxonomy_doc_topics",
    "qlin_doc_scores",
    "rag_context_pack",
    "index_postings",
    "events_attribution_rollup",
    "source_overlap_matrix",
    "bpe_corpus_token_counts",
    "embdecontam_flagged",
    "repselect_best_of_group",
    "index_compression",
]


def main() -> None:
    from dic_a1_spark.operators.chisq import chi2_topk
    from dic_a1_spark.registry import all_queries
    from dic_a1_spark.runner import amplified_table, timed, warm_up
    from dic_a1_spark.session import get_spark

    spark = get_spark(app_name="dic_a1_spark-bench")
    qs = all_queries()
    names = [n for n in HEADLINE if n in qs]

    warm_up(spark, lambda: qs[names[0]](spark, SF_DIR))
    timings = {
        name: timed(spark, lambda: qs[name](spark, SF_DIR))[0] for name in names
    }

    # Reference-comparable throughput: documents/second through the full
    # chi-square pipeline (the reference reports ~55K reviews/s end to end
    # on its 56 GB cluster run, BASELINE.md). At sf0.1 fixed job overhead
    # dominates, so the flagship is also timed over a 50x corpus. The
    # crossJoin keeps the source's single partition, hence the
    # repartition; the eager localCheckpoint materializes the corpus
    # outside the timer and, not being a cache entry, survives the cache
    # clear that opens timed().
    n_docs, amp = amplified_table(spark, SF_DIR, "documents", "doc_id", 50)
    amp = amp.repartition(64).withColumnRenamed("lang", "category").localCheckpoint()
    n_amp = n_docs * 50
    amp_sec = timed(spark, lambda: chi2_topk(amp))[0]

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline query wall-clock",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "timing": "cold-cache, warm-JVM, first materialization",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "chisq_docs_per_sec": (
                    round(n_docs / timings["chisq_top75"], 1)
                    if timings.get("chisq_top75")
                    else None
                ),
                "chisq_docs_per_sec_amplified": round(n_amp / amp_sec, 1),
                "n_docs_amplified": n_amp,
            },
            # Compact: readers that keep only the tail of the output lose
            # a line much past 2,000 chars.
            separators=(",", ":"),
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
