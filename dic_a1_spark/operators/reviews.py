"""End-to-end Amazon-reviews chi-square pipeline — the reference's actual
workload (reviews JSON in, 23-line golden text out), Spark-native.

This is the production shape of what operators/chisq.py exposes over the
driver's `documents` table: same math, but fed from line-delimited reviews
JSON with the reference's exact tolerance and default semantics, a
file-backed stopword list (broadcast anti-join), the counters side-channel
as an in-DAG aggregate, and the reference's raw-text output format.

Reference trace (SURVEY.md §3): the whole two-job mrjob flow
(wordCountJob.py + wordCountWrapper.py + chiSquaredJob.py + main.sh
plumbing) collapses into one scan, one shuffle aggregate and one Spark
action. As the reference's stage 1 counts reviews per category in the same
pass that builds the (word, category) histogram, every review here emits
one marker row (word NULL) beside its distinct words, so the single
``groupBy(word, category)`` yields the document frequencies and, through
the marker rows, the per-category and global review counts. The top-k rows
and the counter rows then come back to the driver in one collect.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dic_a1_spark.config import CHI2_TOP_K, STOPWORDS
from dic_a1_spark.functions.text import tokens_nonempty
from dic_a1_spark.operators.chisq import (
    chi2_from_counts,
    format_golden_lines,
    remove_stopwords_df,
    top_k_per_category,
    vocab_union,
)
from dic_a1_spark.sources.readers import read_reviews_json, read_stopwords
from dic_a1_spark.sources.sinks import format_counters_line


def reviews_to_docs(spark: SparkSession, reviews_path: str) -> DataFrame:
    """Reviews JSON -> (doc_id, category, text) with reference semantics:
    malformed lines silently skipped, category default 'Unknown', text
    default '' (reference src/wordCountJob.py:62-72)."""
    return read_reviews_json(spark, reviews_path).select(
        F.monotonically_increasing_id().alias("doc_id"),
        F.col("category"),
        F.col("reviewText").alias("text"),
    )


def reviews_chisq(
    spark: SparkSession,
    reviews_path: str,
    stopwords_path: str | None = None,
    k: int = CHI2_TOP_K,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (topk, vocab, counters) DataFrames for the reviews corpus,
    all three built from one marked (word, category) aggregate: each review
    contributes its distinct non-stopwords and one marker row with word
    NULL, so the marker rows count the reviews of each category, those
    without any word included.

    Counters (total + per-category review counts) are exact in-DAG
    aggregates — the Spark replacement for the reference's Hadoop counter
    side channel (src/wordCountWrapper.py:32-50), which is retry-safe where
    Spark accumulators would not be."""
    words = F.array_distinct(tokens_nonempty(F.col("reviewText")))
    marker = F.array(F.lit(None).cast("string"))
    tok = read_reviews_json(spark, reviews_path).select(
        "category", F.explode(F.concat(words, marker)).alias("word")
    )
    if stopwords_path is not None:
        # NULL never matches in the anti join, so the markers survive.
        tok = remove_stopwords_df(tok, read_stopwords(spark, stopwords_path))
    else:
        word = F.col("word")
        tok = tok.where(word.isNull() | ~word.isin(list(STOPWORDS)))
    wc = tok.groupBy("word", "category").agg(F.count("*").alias("n"))
    # Aggregate the whole frame rather than filter it on word: a filter
    # would be pushed below the aggregate and split the plan into two scans.
    cat = wc.groupBy("category").agg(
        F.sum(F.when(F.col("word").isNull(), F.col("n"))).alias("cat_n")
    )
    # Marker rows have word_n = N, so their c + d = 0 and the zero-margin
    # filter drops them from the scores.
    topk = top_k_per_category(chi2_from_counts(wc, cat), k)
    total = cat.agg(F.sum("cat_n").alias("n_total"))
    counters = cat.crossJoin(F.broadcast(total)).select("category", "cat_n", "n_total")
    return topk, vocab_union(topk), counters


def run_pipeline(
    spark: SparkSession,
    reviews_path: str,
    output_dir: str,
    stopwords_path: str | None = None,
    k: int = CHI2_TOP_K,
) -> list[str]:
    """Full job: compute, write golden-format output + counters.txt, and
    return the output lines. Mirrors main.sh's artifact layout: a result
    text file (22 category lines + union vocabulary line, reference
    src/chiSquaredJob.py:110-127) and the counters side file
    (src/wordCountWrapper.py:49-50).

    One JSON scan and one Spark action: the top-k rows and the counter rows
    are collected together as one NULL-padded union, and the vocabulary
    line is derived on the driver from the top-k words. Both files are
    byte-stable: categories are written sorted."""
    topk, _, counters = reviews_chisq(spark, reviews_path, stopwords_path, k)
    rows = (
        topk.select("category", "word", "chi2")
        .unionByName(counters, allowMissingColumns=True)
        .collect()
    )
    topk_rows = [r for r in rows if r["cat_n"] is None]
    crows = sorted((r for r in rows if r["cat_n"] is not None), key=lambda r: r["category"])
    lines = format_golden_lines(topk_rows, [r["word"] for r in topk_rows])

    os.makedirs(output_dir, exist_ok=True)
    with open(os.path.join(output_dir, "chisq_output.txt"), "w") as fh:
        fh.write("\n".join(lines) + "\n")

    total = crows[0]["n_total"] if crows else 0
    per_cat = {r["category"]: r["cat_n"] for r in crows}
    with open(os.path.join(output_dir, "counters.txt"), "w") as fh:
        fh.write(format_counters_line(total, per_cat) + "\n")
    return lines
