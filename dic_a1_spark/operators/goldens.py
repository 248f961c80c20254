"""Golden parity: reproduce the reference's checked-in devset outputs
bit-for-bit from its own stage-1 artifacts.

The reference repo ships the devset run's intermediate and final outputs
(src/output/amazon_reviews_chiotp/wordcount/part-0000[0-31] and
chisq/part-00000) but NOT the devset input (git-LFS-missing,
.MISSING_LARGE_BLOBS) and NOT the devset counters (src/data/counters.txt
holds the full-cluster run's counters). This module closes that gap:

- a Spark reader for the reference's stage-1 text format
  (``"word"\\t{"Category": n, ...}`` JSON-KV lines, the mrjob JSONProtocol
  sink — reference src/chiSquaredJob.py:69-77 re-parses these by hand);
- an **exact-integer** chi-square (the reference computes
  ``N*(A*D-B*C)**2 / ((A+B)*(A+C)*(B+D)*(C+D))`` in arbitrary-precision
  Python ints with one final true division, src/chiSquaredJob.py:93; at
  devset magnitudes the products exceed 2^53, so double arithmetic is NOT
  bit-identical — this path does the same int math in an Arrow-batched
  pandas UDF, distributed and exact);
- the devset counters, **recovered** from the goldens themselves: with
  A and B known from the stage-1 histograms, each golden chi2 value is one
  equation in the two unknowns (N, cat_n). Solving any category's first
  golden word gives integer solutions; N = 78,829 is the unique total that
  satisfies every category simultaneously, and the recovered per-category
  counts reproduce ALL 22 golden top-75 dicts to the last float bit
  (verified in tests/test_golden_parity.py). They also round-match the
  full-run counters / 1000, confirming the devset is a ~0.1% sample.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    MapType,
    StringType,
)

from dic_a1_spark.config import CHI2_TOP_K
from dic_a1_spark.operators.chisq import top_k_per_category

#: Devset total review count, recovered as described in the module docstring.
DEVSET_TOTAL = 78829

#: Devset per-category review counts (the wrapper-side counters of the
#: reference's devset run, never checked in). Recovered from the golden
#: chi2 equations; each value also equals round(full_count / 1000) of
#: src/data/counters.txt within rounding.
DEVSET_CATEGORY_COUNTS: dict[str, int] = {
    "Apps_for_Android": 2638,
    "Automotive": 1374,
    "Baby": 916,
    "Beauty": 2023,
    "Book": 22507,
    "CDs_and_Vinyl": 3749,
    "Cell_Phones_and_Accessorie": 3447,
    "Clothing_Shoes_and_Jewelry": 5749,
    "Digital_Music": 836,
    "Electronic": 7825,
    "Grocery_and_Gourmet_Food": 1297,
    "Health_and_Personal_Care": 2982,
    "Home_and_Kitche": 4254,
    "Kindle_Store": 3205,
    "Movies_and_TV": 4607,
    "Musical_Instrument": 500,
    "Office_Product": 1243,
    "Patio_Lawn_and_Garde": 994,
    "Pet_Supplie": 1235,
    "Sports_and_Outdoor": 3269,
    "Tools_and_Home_Improvement": 1926,
    "Toys_and_Game": 2253,
}


def read_wordcount_kv(spark: SparkSession, path: str) -> DataFrame:
    """Read reference stage-1 output (``"word"\\t{json-histogram}`` lines)
    into tidy ``(word, category, n)``.

    The reference's stage 2 re-parses these lines per-mapper with
    ``split('\\t', 1)`` + ``json.loads`` (src/chiSquaredJob.py:69-77);
    here the same parse is two ``from_json`` calls plus a map explode —
    JVM-side, splittable, no Python in the scan path.
    """
    raw = spark.read.text(path)
    # from_json can't target a bare STRING; wrap the JSON string literal in
    # [] and decode as a one-element array (handles \" and \uXXXX escapes
    # exactly as json.loads does).
    word = F.from_json(
        F.concat(F.lit("["), F.substring_index("value", "\t", 1), F.lit("]")),
        ArrayType(StringType()),
    )[0]
    hist = F.from_json(
        F.expr("substring(value, instr(value, '\t') + 1)"),
        MapType(StringType(), LongType()),
    )
    return (
        raw.where(F.col("value").contains("\t"))
        .select(word.alias("word"), F.explode(hist).alias("category", "n"))
        .where(F.col("word").isNotNull())
    )


def chi2_exact(
    hist: DataFrame,
    total: int,
    cat_counts: dict[str, int],
) -> DataFrame:
    """(category, word, chi2) with the reference's exact arithmetic.

    ``hist`` is tidy ``(word, category, n)``. The contingency cells are
    built with Spark longs (all < 2^63); the chi-square itself runs in an
    Arrow-batched pandas UDF over Python ints — arbitrary precision, one
    correctly-rounded float division at the end, exactly like reference
    src/chiSquaredJob.py:84-93. Used for golden parity; the analytic fast
    path (operators.chisq.chi2_scores) stays in pure Column doubles.
    """
    spark = hist.sparkSession
    cat_df = F.broadcast(
        spark.createDataFrame(
            [(c, int(n)) for c, n in cat_counts.items()], ["category", "cat_n"]
        )
    )

    @F.pandas_udf(DoubleType())
    def chi2_int(a_s, wn_s, cn_s, nt_s):  # pragma: no cover - runs on executors
        import pandas as pd

        out = []
        for a, wn, cn, nt in zip(a_s, wn_s, cn_s, nt_s):
            A = int(a)
            B = int(wn) - A
            C = int(cn) - A
            D = int(nt) - A - B - C
            if (A + B) == 0 or (A + C) == 0 or (B + D) == 0 or (C + D) == 0:
                out.append(None)
                continue
            out.append(
                int(nt) * (A * D - B * C) ** 2 / ((A + B) * (A + C) * (B + D) * (C + D))
            )
        return pd.Series(out, dtype="float64")

    word_win = Window.partitionBy("word")
    return (
        hist.withColumn("word_n", F.sum("n").over(word_win))
        .join(cat_df, "category")
        .withColumn("n_total", F.lit(int(total)))
        .select(
            "category",
            "word",
            chi2_int("n", "word_n", "cat_n", "n_total").alias("chi2"),
        )
        .where(F.col("chi2").isNotNull())
    )


def golden_topk(
    hist: DataFrame,
    total: int,
    cat_counts: dict[str, int],
    k: int = CHI2_TOP_K,
) -> DataFrame:
    """(category, word, chi2, rank): top-k per category under exact math,
    deterministic tiebreak (word asc) — reference src/chiSquaredJob.py:105
    relies on Python's stable sort instead."""
    return top_k_per_category(chi2_exact(hist, total, cat_counts), k)


# --- driver surface (r10, VERDICT item 6) ---------------------------------
# The byte-parity harness above was pytest-only; these two entries put the
# same evidence under the driver's DuckDB hash gate. Both are pinned to the
# reference's checked-in devset artifacts (read-only), NOT to sf_dir — the
# goldens exist at exactly one scale, so the sf_dir argument is ignored.

import os  # noqa: E402

#: Reference checkout root — overridable so a machine without the checkout
#: (or with it elsewhere) degrades these two entries to ABSENT instead of
#: failing every driver run / full-registry sweep (ADVICE r10).
REF_ROOT = os.environ.get("DIC_A1_REFERENCE_ROOT", "/root/reference")

#: Reference devset output root (checked-in artifacts, read-only).
REF_OUT = f"{REF_ROOT}/src/output/amazon_reviews_chiotp"

#: Both entries need the stage-1 parts AND the final answer file; register
#: them only when the artifacts are actually present.
REF_AVAILABLE = os.path.isdir(f"{REF_OUT}/wordcount") and os.path.isfile(
    f"{REF_OUT}/chisq/part-00000"
)


def goldens_stage1_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tidy (word, category, n) decoded from the reference's OWN stage-1
    wordcount artifacts (32 JSON-KV text parts). The oracle re-parses the
    same lines in DuckDB (read_csv + JSON->MAP explode), so the driver hash
    certifies our splittable JVM-side decoder against an independent parse
    of the reference's bytes. 273 K tidy rows on the devset."""
    return read_wordcount_kv(spark, f"{REF_OUT}/wordcount/part-*")


def goldens_chisq_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(category, word, chi2): our distributed exact-int chi-square + top-75
    over the reference's stage-1 artifacts, hash-gated against the
    reference's FINAL answer file (chisq/part-00000, 22x75 cells). The
    oracle side is a parse of the reference's Python-repr dict lines — so a
    green row is bit-for-bit parity with the reference's own output, not
    with a reimplementation."""
    hist = read_wordcount_kv(spark, f"{REF_OUT}/wordcount/part-*")
    return golden_topk(hist, DEVSET_TOTAL, DEVSET_CATEGORY_COUNTS).select(
        "category", "word", "chi2"
    )


QUERIES = (
    {
        "goldens_stage1_histogram": goldens_stage1_histogram,
        "goldens_chisq_lines": goldens_chisq_lines,
    }
    if REF_AVAILABLE
    else {}
)

# DuckDB oracles over the reference artifacts themselves. Notes:
# - quote=''/escape='' disables CSV quote handling (words may contain ");
#   real tabs inside words are impossible (JSON escapes them as \t).
# - null_padding covers the final vocab line of the chisq file (no \t);
#   the `d IS NOT NULL` filter then drops it.
# - the chisq dict lines are Python repr; no golden word contains ' or "
#   (asserted in tests/test_golden_parity.py), so a single-quote ->
#   double-quote replace yields valid JSON and DuckDB's strtod parses the
#   repr'd doubles back to identical bits.
_ORACLES_ALL = {
    "goldens_stage1_histogram": f"""
        SELECT json_extract_string(t.word, '$') AS word,
               e.key AS category,
               e.value AS n
        FROM read_csv('{REF_OUT}/wordcount/part-*',
                      delim=chr(9), header=false, quote='', escape='',
                      columns={{'word': 'VARCHAR', 'hist': 'VARCHAR'}}) t,
             unnest(map_entries(CAST(t.hist::JSON AS MAP(VARCHAR, BIGINT)))) AS u(e)
    """,
    "goldens_chisq_lines": f"""
        SELECT t.category, e.key AS word, e.value AS chi2
        FROM read_csv('{REF_OUT}/chisq/part-00000',
                      delim=chr(9), header=false, quote='', escape='',
                      columns={{'category': 'VARCHAR', 'd': 'VARCHAR'}},
                      null_padding=true, auto_detect=false) t,
             unnest(map_entries(CAST(replace(t.d, chr(39), chr(34))::JSON
                                     AS MAP(VARCHAR, DOUBLE)))) AS u(e)
        WHERE t.d IS NOT NULL
    """,
}

ORACLES = _ORACLES_ALL if REF_AVAILABLE else {}
