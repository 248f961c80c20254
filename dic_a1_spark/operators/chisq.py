"""Chi-square discriminative-term pipeline — the engine's flagship.

Rebuilds the reference's entire two-job MapReduce flow (SURVEY.md §3) as
ONE lazy DataFrame DAG:

  reference stage 1 (src/wordCountJob.py): tokenize -> per-doc dedup ->
      stopword filter -> doc-frequency per (word, category)
  counters side channel (src/wordCountWrapper.py:32-50): per-category and
      global totals -> here an in-DAG aggregate broadcast-joined back
  reference stage 2 (src/chiSquaredJob.py): chi2 per (word, category) ->
      top-75 per category -> union vocabulary -> formatted lines

Physical shape (what Catalyst produces, verified via .explain):
  - one shuffle for groupBy(word, category)  [partial agg map-side first]
  - one shuffle for the per-word window sum  [repartition on word]
  - broadcast joins for category totals (22-ish rows) and the global total
  - one shuffle for the per-category top-k window (tiny input: one row per
    surviving (word, category))
At 100 TB the only data-proportional shuffles are the first two, and both
carry pre-aggregated (word, category, n) rows — the same ~330 MB-scale
intermediate the reference reports, not raw text.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dic_a1_spark.config import (
    CHI2_TOP_K,
    DUCKDB_WS_REGEX,
    duckdb_lower_sql,
    duckdb_token_char_class,
    sql_stopword_list,
)
from dic_a1_spark.functions.text import (
    chi2_expr,
    explode_tokens,
    remove_stopwords,
    zero_margin_filter,
)
from dic_a1_spark.sources.readers import load_table


def doc_frequency(
    docs: DataFrame,
    id_col: str = "doc_id",
    category_col: str = "category",
    text_col: str = "text",
) -> DataFrame:
    """(word, category, n) where n = number of documents in the category
    containing the word (document frequency — reference stage-1 semantics,
    src/wordCountJob.py:75-99). Tokens are deduped per document BEFORE the
    explode, so ``count(*)`` is the doc frequency and the shuffle carries
    the minimum rows. Spark's hash aggregate does partial (map-side) then
    final aggregation automatically — the reference's hand-written combiner
    (src/wordCountJob.py:81-89) is free here."""
    tok = explode_tokens(
        docs.select(id_col, category_col, text_col), text_col=text_col
    )
    tok = remove_stopwords(tok)
    return tok.groupBy("word", category_col).agg(F.count("*").alias("n"))


def category_totals(docs: DataFrame, category_col: str = "category") -> DataFrame:
    """(category, cat_n) — the reference's per-category Hadoop counters
    (src/wordCountJob.py:68) as an exact, retry-safe aggregate."""
    return docs.groupBy(category_col).agg(F.count("*").alias("cat_n"))


def chi2_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    category_col: str = "category",
    text_col: str = "text",
) -> DataFrame:
    """(category, word, chi2) for every non-degenerate (word, category) of
    a documents frame: doc frequencies and category totals, each from its
    own column-pruned scan, scored by ``chi2_from_counts``."""
    # NULL-category docs are excluded from the ENTIRE contingency
    # universe (the engine-side analogue of the reference's
    # malformed-record skip, src/chiSquaredJob.py field-missing guard):
    # keeping them would leak their word counts into the per-word window
    # (computed BELOW the category join) while the category join drops
    # their rows — the inconsistent-cells fork the r9 NULL-corpus sweep
    # caught. The oracle applies the same lang IS NOT NULL filter.
    docs = docs.where(F.col(category_col).isNotNull())
    wc = doc_frequency(docs, id_col, category_col, text_col)
    cat = category_totals(docs, category_col)
    return chi2_from_counts(wc, cat, category_col)


def chi2_from_counts(
    wc: DataFrame, cat: DataFrame, category_col: str = "category"
) -> DataFrame:
    """(category, word, chi2) from doc frequencies ``wc`` (word,
    category_col, n) and category totals ``cat`` (category_col, cat_n) —
    the contingency cells and score shared by every chi-square caller.

    Contingency cells (reference src/chiSquaredJob.py:84-93):
      A = docs in category with word            = n
      B = docs in other categories with word    = word_n - n
      C = docs in category without word         = cat_n - n
      D = everything else                       = N - A - B - C
    The per-word total (B's ingredient) is a window sum over the already
    (word, category)-aggregated frame; category totals and the global count
    join back via broadcast — the Spark-native form of the reference's
    counters.txt distributed-cache map-side join (src/chiSquaredJob.py:37-57).
    Tables with a zero margin are dropped, as the reference skips them.
    """
    # Derive the global total from the category totals (sum of 22-ish rows)
    # instead of another scan of the corpus.
    total = cat.agg(F.sum("cat_n").alias("n_total"))

    word_win = Window.partitionBy("word")
    scored = (
        wc.withColumn("word_n", F.sum("n").over(word_win))
        .join(F.broadcast(cat), category_col)
        .crossJoin(F.broadcast(total))
    )
    a = F.col("n").cast("double")
    b = (F.col("word_n") - F.col("n")).cast("double")
    c = (F.col("cat_n") - F.col("n")).cast("double")
    d = (
        F.col("n_total") - F.col("word_n") - F.col("cat_n") + F.col("n")
    ).cast("double")
    n = F.col("n_total").cast("double")
    return (
        scored.where(zero_margin_filter(a, b, c, d))
        .select(
            F.col(category_col).alias("category"),
            "word",
            chi2_expr(a, b, c, d, n).alias("chi2"),
        )
    )


def chi2_topk(
    docs: DataFrame,
    k: int = CHI2_TOP_K,
    id_col: str = "doc_id",
    category_col: str = "category",
    text_col: str = "text",
) -> DataFrame:
    """(category, word, chi2, rank): top-k discriminative words per
    category, chi2 descending. The reference relies on Python's stable sort
    for ties (src/chiSquaredJob.py:105); here the tiebreak is explicit
    (word ascending) so results are deterministic on any cluster."""
    return top_k_per_category(chi2_scores(docs, id_col, category_col, text_col), k)


def top_k_per_category(chi: DataFrame, k: int = CHI2_TOP_K) -> DataFrame:
    """(category, word, chi2, rank) for the k best-scoring words of each
    category of a (category, word, chi2) frame; ties break word ascending."""
    rank_win = Window.partitionBy("category").orderBy(F.desc("chi2"), F.asc("word"))
    return chi.withColumn("rank", F.row_number().over(rank_win)).where(
        F.col("rank") <= k
    )


def vocab_union(topk: DataFrame) -> DataFrame:
    """(word): sorted distinct union of all categories' top words
    (reference src/chiSquaredJob.py:120,127)."""
    return topk.select("word").distinct().orderBy("word")


def remove_stopwords_df(
    tokens: DataFrame, stopwords: DataFrame, word_col: str = "word"
) -> DataFrame:
    """File-backed stopword removal as a broadcast LEFT ANTI join — the
    idiomatic Spark form of the reference's distributed-cache set lookup
    (src/wordCountJob.py:41-48,77). The stopword side is tiny; broadcast
    keeps the probe map-side, no shuffle."""
    sw = F.broadcast(stopwords.withColumnRenamed(stopwords.columns[0], word_col))
    return tokens.join(sw, word_col, "left_anti")


def format_golden_lines(topk_rows, vocab_words) -> list[str]:
    """Render the reference's stage-2 raw output (src/chiSquaredJob.py:110-127):
    22 ``category\\t{'word': chi2, ...}`` lines (chi2 descending, Python
    repr) + one final ``['word', ...]`` union line. Driver-side on purpose:
    the funneled result is ≤ a few dozen rows (reference funnels via a
    single reducer; here it's a collect of an already-tiny frame)."""
    by_cat: dict[str, list[tuple[str, float]]] = {}
    for row in topk_rows:
        by_cat.setdefault(row["category"], []).append((row["word"], row["chi2"]))
    lines = []
    for cat in sorted(by_cat):
        ordered = sorted(by_cat[cat], key=lambda t: (-t[1], t[0]))
        lines.append(f"{cat}\t{dict(ordered)!s}")
    lines.append(str(sorted({w for w in vocab_words})))
    return lines


# ---------------------------------------------------------------------------
# Driver contract: queries + DuckDB oracles over the `documents` table
# (doc_id, text, lang, source, n_chars); `lang` plays the category role.
# ---------------------------------------------------------------------------

_CHARCLASS = duckdb_token_char_class().replace("'", "''")
_STOPLIST = sql_stopword_list()

# Shared oracle CTEs: tokenization with per-doc dedup, mirroring
# functions.text exactly (lower -> charclass->space -> split -> distinct).
_TOK_CTE = f"""
tok AS (
    SELECT DISTINCT doc_id, lang AS category, word
    FROM (
        SELECT doc_id, lang,
               unnest(regexp_split_to_array(
                   regexp_replace({duckdb_lower_sql("text")},
                                  '{_CHARCLASS}', ' ', 'g'),
                   '{DUCKDB_WS_REGEX}')) AS word
        FROM documents
    )
    WHERE word <> '' AND word NOT IN ({_STOPLIST})
),
wc AS (
    SELECT word, category, count(*) AS n FROM tok GROUP BY word, category
)
"""

_CHI_CTE = f"""
{_TOK_CTE},
cat AS (SELECT lang AS category, count(*) AS cat_n FROM documents
        WHERE lang IS NOT NULL GROUP BY lang),
tot AS (SELECT count(*) AS n_total FROM documents WHERE lang IS NOT NULL),
cells AS (
    SELECT wc.category, wc.word,
           CAST(wc.n AS DOUBLE) AS a,
           CAST(SUM(wc.n) OVER (PARTITION BY wc.word) - wc.n AS DOUBLE) AS b,
           CAST(cat.cat_n - wc.n AS DOUBLE) AS c,
           CAST(tot.n_total - SUM(wc.n) OVER (PARTITION BY wc.word)
                - cat.cat_n + wc.n AS DOUBLE) AS d,
           CAST(tot.n_total AS DOUBLE) AS nt
    FROM wc JOIN cat USING (category) CROSS JOIN tot
),
chi AS (
    SELECT category, word,
           (nt * ((a*d - b*c) * (a*d - b*c))) / (((a+b) * (a+c)) * ((b+d) * (c+d))) AS chi2
    FROM cells
    WHERE (a+b) <> 0 AND (a+c) <> 0 AND (b+d) <> 0 AND (c+d) <> 0
)
"""


def _q_doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumnRenamed(
        "lang", "category"
    )
    return doc_frequency(docs)


def _q_category_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumnRenamed(
        "lang", "category"
    )
    return category_totals(docs)


def _q_chi2_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumnRenamed(
        "lang", "category"
    )
    return chi2_scores(docs)


def _q_chi2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumnRenamed(
        "lang", "category"
    )
    return chi2_topk(docs)


def _q_vocab_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumnRenamed(
        "lang", "category"
    )
    return vocab_union(chi2_topk(docs))


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "chisq_doc_frequency": _q_doc_frequency,
    "chisq_category_totals": _q_category_totals,
    "chisq_scores": _q_chi2_scores,
    "chisq_top75": _q_chi2_topk,
    "chisq_vocab_union": _q_vocab_union,
}

ORACLES: dict[str, str] = {
    "chisq_doc_frequency": f"WITH {_TOK_CTE} SELECT word, category, n FROM wc",
    "chisq_category_totals": (
        "SELECT lang AS category, count(*) AS cat_n FROM documents GROUP BY lang"
    ),
    "chisq_scores": f"WITH {_CHI_CTE} SELECT category, word, chi2 FROM chi",
    "chisq_top75": f"""
        WITH {_CHI_CTE},
        ranked AS (
            SELECT category, word, chi2,
                   CAST(row_number() OVER (
                       PARTITION BY category ORDER BY chi2 DESC, word ASC
                   ) AS INTEGER) AS rank
            FROM chi
        )
        SELECT category, word, chi2, rank FROM ranked WHERE rank <= {CHI2_TOP_K}
    """,
    "chisq_vocab_union": f"""
        WITH {_CHI_CTE},
        ranked AS (
            SELECT category, word, chi2,
                   row_number() OVER (
                       PARTITION BY category ORDER BY chi2 DESC, word ASC
                   ) AS rank
            FROM chi
        )
        SELECT DISTINCT word FROM ranked WHERE rank <= {CHI2_TOP_K} ORDER BY word
    """,
}
