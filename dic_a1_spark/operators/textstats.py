"""Text analysis over the `documents` table — the training-data-pipeline
operators (language ID, quality scoring, token counting, fingerprinting)
layered on the same tokenizer the chi-square pipeline uses.

Everything is built-in Column expressions (JVM-side, codegen'd); no Python
UDFs anywhere. At 100 TB these are embarrassingly parallel map-only plans —
no shuffle except the final aggregates, so they scale linearly with input
splits.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dic_a1_spark.config import SPARK_WS_REGEX, sql_stopword_list, duckdb_tokenset_md5_sql
from dic_a1_spark.functions.text import tokens_nonempty
from dic_a1_spark.sources.readers import load_table

# Marker words for the n-gram-free language-ID heuristic. Deterministic and
# engine-neutral: score = how many marker words of each language appear;
# argmax with a fixed precedence order breaks ties. (Real corpora would use
# char n-gram profiles — same plan shape, bigger marker table.)
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is"),
    "de": ("der", "die", "und", "nicht"),
    "es": ("el", "la", "que", "los"),
    "fr": ("le", "les", "des", "est"),
    "zh": ("de", "shi", "le", "bu"),
}

_STOPLIST = sql_stopword_list()


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token accounting: counts, distinct counts, lengths."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_nonempty(F.col("text"))
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.length("text").alias("text_len"),
        F.length(F.regexp_replace("text", SPARK_WS_REGEX, "")).alias(
            "n_nonspace_chars"
        ),
    )


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality features: stopword ratio, mean token length,
    distinct ratio, and a composite score. All ratios are a single division
    of exact integers, so cross-engine floats match bit-exactly."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_nonempty(F.col("text"))
    n = F.size(toks).cast("double")
    n_stop = F.size(
        F.filter(toks, lambda w: w.isin(*_stop_list()))
    ).cast("double")
    n_distinct = F.size(F.array_distinct(toks)).cast("double")
    total_len = F.length(F.regexp_replace("text", SPARK_WS_REGEX, "")).cast("double")
    return d.select(
        "doc_id",
        F.when(n > 0, n_stop / n).otherwise(F.lit(0.0)).alias("stopword_ratio"),
        F.when(n > 0, n_distinct / n).otherwise(F.lit(0.0)).alias("distinct_ratio"),
        F.when(n > 0, total_len / n).otherwise(F.lit(0.0)).alias("mean_token_len"),
        (n >= 20).cast("int").alias("len_ok"),
    )


def _stop_list():
    from dic_a1_spark.config import STOPWORDS

    return [F.lit(w) for w in STOPWORDS]


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID: per-language hit counts over the token set,
    argmax with fixed precedence (en > de > es > fr > zh, then 'und' for
    no hits). Compared against the table's labeled lang column."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(tokens_nonempty(F.col("text")))
    scores = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(m) for m in markers])))
        for lang, markers in _LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    # reversed precedence: later when() wins earlier in the chain, so build
    # from lowest precedence up and let the first match take it.
    for lang in reversed(list(_LANG_MARKERS)):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("predicted_lang"),
        best.alias("marker_hits"),
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: md5 + sha256 of the raw text, and an order-
    insensitive token-set fingerprint (md5 of the sorted distinct tokens) —
    the cheap exact-dedup key for shuffled-word duplicates."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.array_sort(F.array_distinct(tokens_nonempty(F.col("text"))))
    return d.select(
        "doc_id",
        F.md5(F.encode("text", "UTF-8")).alias("md5_text"),
        F.sha2(F.encode("text", "UTF-8"), 256).alias("sha256_text"),
        F.md5(F.encode(F.concat_ws(" ", toks), "UTF-8")).alias("md5_tokenset"),
    )


def text_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profiling per source: doc counts, token totals, vocabulary
    size (exact distinct across the source)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_nonempty(F.col("text"))
    per_doc = d.select("source", F.explode(F.array_distinct(toks)).alias("word"))
    # LEFT join FROM the doc census: a source whose documents are all
    # token-free has no exploded word rows at all, and the former inner
    # join dropped it while the oracle (grouping the documents table
    # directly) kept it with vocab_size 0 (r9 degenerate-corpus sweep).
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(toks)).alias("total_tokens"),
        )
        .join(
            per_doc.groupBy("source").agg(
                F.countDistinct("word").alias("vocab_size")
            ),
            "source",
            "left",
        )
        .select(
            "source",
            F.coalesce("vocab_size", F.lit(0)).alias("vocab_size"),
            "n_docs",
            "total_tokens",
        )
    )


def docs_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling — the reproducible way to sample at
    scale (rand()-based sampling changes under retries and repartitioning;
    a content-keyed hash never does). Keeps docs whose md5(doc_id) starts
    with a fixed nibble: an exact, engine-neutral 1/16 systematic sample."""
    d = load_table(spark, sf_dir, "documents")
    return d.where(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "a"
    ).select("doc_id", "lang", "source", "n_chars")


def docs_grouped_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language n_chars quartiles via grouped applyInPandas — the
    engine's 'custom reducer' escape hatch (SURVEY.md §2.9: the analogue of
    an mrjob reducer), exercised where built-ins could also do the job so
    the Arrow grouped-map path itself is oracle-gated.

    The quartile rule is percentile_disc (smallest element with cumulative
    distribution >= p), implemented index-exactly in pandas so DuckDB's
    percentile_disc is a bit-identical twin. State per group = one sorted
    column — fine for dimension-bounded groups; for heavy groups prefer the
    built-in percentile_approx (see events_approx_stats)."""
    import math

    import pandas as pd

    def quartiles(pdf: pd.DataFrame) -> pd.DataFrame:
        # NULL n_chars members are excluded from the DISTRIBUTION but
        # still counted in n_docs — exactly DuckDB's percentile_disc
        # (skips NULLs) next to count(*) (keeps them). Without the
        # dropna a NaN sorts last and q3 lands on it (r9 NULL-corpus
        # sweep fork).
        xs = pdf["n_chars"].dropna().sort_values().to_numpy()
        n = len(xs)

        def disc(p: float):
            if n == 0:
                return None
            return xs[max(0, math.ceil(p * n) - 1)]

        return pd.DataFrame(
            {
                "lang": [pdf["lang"].iloc[0]],
                "n_docs": [len(pdf)],
                "q1_chars": [disc(0.25)],
                "median_chars": [disc(0.5)],
                "q3_chars": [disc(0.75)],
            }
        )

    d = load_table(spark, sf_dir, "documents").select("lang", "n_chars")
    return d.groupBy("lang").applyInPandas(
        quartiles,
        "lang string, n_docs long, q1_chars long, median_chars long, q3_chars long",
    )


def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite keep/drop decision per document — the C4-style cleaning
    gate a training-data pipeline runs before dedup. Each signal is its own
    flag column (auditable: you can aggregate drop reasons), `keep` is
    their conjunction. Map-only plan: scales with input splits, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_nonempty(F.col("text"))
    n = F.size(toks).cast("double")
    n_stop = F.size(F.filter(toks, lambda w: w.isin(*_stop_list()))).cast("double")
    n_distinct = F.size(F.array_distinct(toks)).cast("double")
    flag_len = (F.size(toks) >= 10).cast("int")
    flag_stop = ((n > 0) & (n_stop / n <= 0.6)).cast("int")
    flag_distinct = ((n > 0) & (n_distinct / n >= 0.3)).cast("int")
    flag_chars = (F.length("text") >= 50).cast("int")
    return d.select(
        "doc_id",
        flag_len.alias("flag_min_tokens"),
        flag_stop.alias("flag_stopword_ratio"),
        flag_distinct.alias("flag_distinct_ratio"),
        flag_chars.alias("flag_min_chars"),
        (flag_len * flag_stop * flag_distinct * flag_chars).alias("keep"),
    )


def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF-IDF: top 10 terms per source by group document frequency x
    inverse corpus document frequency.

    tf(word, source) = docs in source containing word; idf(word) =
    ln(N / df(word)). The same tidy (word, group, n) frame the chi-square
    pipeline aggregates — one explode-groupBy shuffle plus a per-word
    window sum; the global N broadcasts. ln is computed on exact integer
    ratios in both engines."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "source", F.explode(F.array_distinct(tokens_nonempty(F.col("text")))).alias("word")
    ).where(F.col("word") != "")
    tf = tok.groupBy("word", "source").agg(F.count("*").alias("tf"))
    word_win = Window.partitionBy("word")
    # Global N stays in the DAG as a 1-row aggregate broadcast into the
    # scored frame (the chisq total pattern) — no driver-side action, no
    # extra eager pass over documents, and the query composes lazily.
    n_docs = d.agg(F.count("*").cast("double").alias("n_docs"))
    scored = (
        tf.withColumn("df", F.sum("tf").over(word_win))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "word",
            "source",
            "tf",
            F.round(
                F.col("tf").cast("double")
                * F.log(F.col("n_docs") / F.col("df").cast("double")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("source", "word", "tf", "tfidf", "rank")
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "docs_hash_sample": docs_hash_sample,
    "docs_grouped_quartiles": docs_grouped_quartiles,
    "text_quality_filter": text_quality_filter,
    "text_tfidf_top_terms": text_tfidf_top_terms,
    "text_token_stats": text_token_stats,
    "text_quality_score": text_quality_score,
    "text_lang_id": text_lang_id,
    "doc_fingerprint": doc_fingerprint,
    "text_source_profile": text_source_profile,
}

from dic_a1_spark.config import DUCKDB_WS_REGEX, duckdb_tokens_sql  # noqa: E402

# Engine-neutral tokenization for the oracles: identical normalize chain.
_TOKS = duckdb_tokens_sql()
_TSMD5 = duckdb_tokenset_md5_sql()

_MARKER_SQL = {
    lang: "[" + ", ".join(f"'{m}'" for m in markers) + "]"
    for lang, markers in _LANG_MARKERS.items()
}

_SCORE_SQL = {
    lang: f"len(list_intersect(list_distinct({_TOKS}), {arr}))"
    for lang, arr in _MARKER_SQL.items()
}

_BEST_SQL = "greatest(" + ", ".join(_SCORE_SQL.values()) + ")"

_PRED_SQL = "'und'"
for _lang in reversed(list(_LANG_MARKERS)):
    _PRED_SQL = (
        f"CASE WHEN {_SCORE_SQL[_lang]} = {_BEST_SQL} THEN '{_lang}' ELSE {_PRED_SQL} END"
    )
_PRED_SQL = f"CASE WHEN {_BEST_SQL} = 0 THEN 'und' ELSE {_PRED_SQL} END"

ORACLES: dict[str, str] = {
    "docs_hash_sample": """
        SELECT doc_id, lang, source, n_chars
        FROM documents
        WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'a'
    """,
    "docs_grouped_quartiles": """
        SELECT lang, count(*) AS n_docs,
               percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars) AS q1_chars,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars) AS median_chars,
               percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars) AS q3_chars
        FROM documents GROUP BY lang
    """,
    "text_quality_filter": f"""
        WITH feat AS (
            SELECT doc_id,
                   len({_TOKS}) AS n,
                   len(list_filter({_TOKS}, w -> w IN ({_STOPLIST}))) AS n_stop,
                   len(list_distinct({_TOKS})) AS n_distinct,
                   length(text) AS n_chars
            FROM documents
        ),
        flags AS (
            SELECT doc_id,
                   CAST(n >= 10 AS INTEGER) AS flag_min_tokens,
                   CAST(n > 0 AND CAST(n_stop AS DOUBLE) / CAST(n AS DOUBLE) <= 0.6
                        AS INTEGER) AS flag_stopword_ratio,
                   CAST(n > 0 AND CAST(n_distinct AS DOUBLE) / CAST(n AS DOUBLE) >= 0.3
                        AS INTEGER) AS flag_distinct_ratio,
                   CAST(n_chars >= 50 AS INTEGER) AS flag_min_chars
            FROM feat
        )
        SELECT doc_id, flag_min_tokens, flag_stopword_ratio,
               flag_distinct_ratio, flag_min_chars,
               flag_min_tokens * flag_stopword_ratio
                   * flag_distinct_ratio * flag_min_chars AS keep
        FROM flags
    """,
    "text_tfidf_top_terms": f"""
        WITH tok AS (
            SELECT doc_id, source, unnest(list_distinct({_TOKS})) AS word
            FROM documents
        ),
        tf AS (
            SELECT word, source, count(*) AS tf
            FROM tok WHERE word <> '' GROUP BY 1, 2
        ),
        tot AS (SELECT count(*) AS n FROM documents),
        scored AS (
            SELECT word, source, tf,
                   round(CAST(tf AS DOUBLE)
                         * ln(CAST(n AS DOUBLE)
                              / CAST(sum(tf) OVER (PARTITION BY word) AS DOUBLE)),
                         6) AS tfidf
            FROM tf CROSS JOIN tot
        ),
        ranked AS (
            SELECT source, word, tf, tfidf,
                   CAST(row_number() OVER (
                       PARTITION BY source ORDER BY tfidf DESC, word ASC
                   ) AS INTEGER) AS rank
            FROM scored
        )
        SELECT source, word, tf, tfidf, rank FROM ranked WHERE rank <= 10
    """,
    "text_token_stats": f"""
        SELECT doc_id,
               CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
               CAST(len(list_distinct({_TOKS})) AS INTEGER) AS n_distinct_tokens,
               CAST(length(text) AS INTEGER) AS text_len,
               CAST(length(regexp_replace(text, '{DUCKDB_WS_REGEX}', '', 'g'))
                   AS INTEGER) AS n_nonspace_chars
        FROM documents
    """,
    "text_quality_score": f"""
        SELECT doc_id,
               CASE WHEN len({_TOKS}) > 0
                    THEN CAST(len(list_filter({_TOKS}, w -> w IN ({_STOPLIST}))) AS DOUBLE)
                         / CAST(len({_TOKS}) AS DOUBLE)
                    ELSE 0.0 END AS stopword_ratio,
               CASE WHEN len({_TOKS}) > 0
                    THEN CAST(len(list_distinct({_TOKS})) AS DOUBLE)
                         / CAST(len({_TOKS}) AS DOUBLE)
                    ELSE 0.0 END AS distinct_ratio,
               CASE WHEN len({_TOKS}) > 0
                    THEN CAST(length(regexp_replace(text, '{DUCKDB_WS_REGEX}', '', 'g')) AS DOUBLE)
                         / CAST(len({_TOKS}) AS DOUBLE)
                    ELSE 0.0 END AS mean_token_len,
               CAST(len({_TOKS}) >= 20 AS INTEGER) AS len_ok
        FROM documents
    """,
    "text_lang_id": f"""
        SELECT doc_id, lang AS labeled_lang,
               {_PRED_SQL} AS predicted_lang,
               CAST({_BEST_SQL} AS INTEGER) AS marker_hits
        FROM documents
    """,
    "doc_fingerprint": f"""
        SELECT doc_id,
               md5(text) AS md5_text,
               sha256(text) AS sha256_text,
               {_TSMD5}
                   AS md5_tokenset
        FROM documents
    """,
    "text_source_profile": f"""
        WITH per_doc AS (
            SELECT source, unnest(list_distinct({_TOKS})) AS word FROM documents
        )
        SELECT d.source,
               (SELECT CAST(count(DISTINCT word) AS BIGINT) FROM per_doc p
                 WHERE p.source = d.source) AS vocab_size,
               count(*) AS n_docs,
               CAST(sum(len({_TOKS})) AS BIGINT) AS total_tokens
        FROM documents d GROUP BY d.source
    """,
}


# ---------------------------------------------------------------------------
# Round-4 additions: corpus shape diagnostics.


def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two histogram of document token counts — the corpus-shape
    table a packing/chunking stage is tuned against (CHUNK_WIDTH,
    PACK_CAPACITY in operators/curation.py). Bucket b holds docs with
    n_tokens in [2^(b-1), 2^b); bucket = bit-length of n_tokens, computed
    as length(bin(n)) — pure integer/string semantics that Spark and
    DuckDB share exactly, unlike floor(log2(n)) whose float rounding
    flips at power-of-two boundaries. One map pass plus a
    |buckets|-sized aggregate: nothing here shuffles more than ~60 rows
    at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    n = F.size(tokens_nonempty(F.col("text")))
    bucketed = d.select(
        F.when(n == 0, F.lit(0)).otherwise(F.length(F.bin(n))).alias("bucket"),
        n.alias("n_tokens"),
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .select(
            "bucket",
            F.expr(
                "CASE WHEN bucket = 0 THEN 0L ELSE shiftleft(1L, bucket - 1) END"
            ).alias("lo_tokens"),
            "n_docs",
            "total_tokens",
            "min_tokens",
            "max_tokens",
        )
    )


def text_ngram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source shingle-vocabulary profile: occurrences (per-doc
    distinct), exact distinct vocabulary, and an HLL estimate held to a
    10% certificate band (the sketches.py pattern: the emitted verdict is
    engine-neutral, so the sketch guarantee itself is hash-gated). At
    100 TB the exact COUNT(DISTINCT) is the column you delete first —
    the HLL twin is the scale path, and this query certifies the swap is
    safe by computing both while the corpus still fits."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("source", tokens_nonempty(F.col("text")).alias("toks")).where(
        F.size("toks") >= 3
    )
    sh = toks.select(
        "source",
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(1, size(toks) - 2),"
                " i -> concat(toks[i-1], ' ', toks[i], ' ', toks[i+1])))"
            )
        ).alias("shingle"),
    )
    agg = sh.groupBy("source").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("shingle").alias("n_distinct"),
        F.approx_count_distinct("shingle", rsd=0.02).alias("approx_distinct"),
    )
    # Certificate posture (the sketches.py pattern): the oracle cannot
    # recompute Spark's HLL, so it asserts hll_in_band = TRUE while the
    # exact n_distinct column is value-verified. The 10% band at
    # rsd=0.02 is a 5-sigma margin — P(spurious FALSE) ~ 3e-7 per group,
    # while a genuinely broken sketch (>10% off) flips the column to
    # FALSE and hash-mismatches the oracle's TRUE, so the check is not
    # vacuous.
    return agg.select(
        "source",
        "n_occurrences",
        "n_distinct",
        (
            F.abs(F.col("approx_distinct") - F.col("n_distinct"))
            <= F.col("n_distinct").cast("double") * 0.10
        ).alias("hll_in_band"),
    )


QUERIES["doc_length_histogram"] = doc_length_histogram
QUERIES["text_ngram_vocab"] = text_ngram_vocab

ORACLES["doc_length_histogram"] = f"""
    WITH n AS (SELECT CAST(len({_TOKS}) AS INTEGER) AS n_tokens FROM documents),
    b AS (
        SELECT n_tokens,
               CASE WHEN n_tokens = 0 THEN 0
                    ELSE CAST(length(bin(n_tokens)) AS INTEGER) END AS bucket
        FROM n
    )
    SELECT bucket,
           CASE WHEN bucket = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(1 AS BIGINT) << (bucket - 1) END AS lo_tokens,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           min(n_tokens) AS min_tokens,
           max(n_tokens) AS max_tokens
    FROM b GROUP BY bucket
"""

ORACLES["text_ngram_vocab"] = f"""
    WITH toks AS (
        SELECT source, {_TOKS} AS a FROM documents WHERE len({_TOKS}) >= 3
    ),
    sh AS (
        SELECT source, list_distinct(list_transform(range(1, len(a) - 1),
            i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS shingles
        FROM toks
    ),
    flat AS (SELECT source, unnest(shingles) AS shingle FROM sh)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT shingle) AS BIGINT) AS n_distinct,
           -- certificate column: 10% band at rsd=0.02 is ~5 sigma, so a
           -- healthy sketch is TRUE w.p. 1 - 3e-7; a broken one goes
           -- FALSE on the Spark side and fails the hash (see query)
           TRUE AS hll_in_band
    FROM flat GROUP BY source
"""


# --- round 6: language-ID confusion matrix -----------------------------


def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the marker-word language ID against the
    table's labels: one row per (labeled, predicted) pair with the count
    and a correctness flag — the quality report a pipeline publishes
    before trusting lang-id for filtering or rebalancing decisions.
    Composition over the certified text_lang_id subtree; dimension-sized
    output (|langs|^2 at most)."""
    pred = text_lang_id(spark, sf_dir)
    return (
        pred.groupBy("labeled_lang", "predicted_lang")
        .agg(F.count("*").alias("n_docs"))
        .select(
            "labeled_lang",
            "predicted_lang",
            "n_docs",
            (F.col("labeled_lang") == F.col("predicted_lang")).alias("correct"),
        )
    )


QUERIES["lang_confusion_matrix"] = lang_confusion_matrix

ORACLES["lang_confusion_matrix"] = f"""
    WITH pred AS ({ORACLES["text_lang_id"]})
    SELECT labeled_lang, predicted_lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           (labeled_lang = predicted_lang) AS correct
    FROM pred
    GROUP BY labeled_lang, predicted_lang
"""


def lang_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility: chars per token — the metric a
    tokenizer evaluation publishes per language (high fertility = the
    vocab under-serves that language). One partial-agg census; the
    ratio is a single division of exact bigint sums."""
    d = load_table(spark, sf_dir, "documents")
    per = d.select(
        "lang",
        F.size(tokens_nonempty(F.col("text"))).cast("bigint").alias("n_tok"),
        F.col("n_chars").cast("bigint").alias("n_ch"),
    ).where(F.col("n_tok") > 0)
    # the n_tok > 0 guard keeps an all-empty-text language from dividing
    # by zero, where Spark (NULL) and DuckDB (inf) diverge — and drops
    # NULL-text rows on both sides identically (reviewer-flagged)
    return per.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.sum("n_ch").cast("bigint").alias("total_chars"),
        F.round(
            F.sum("n_ch").cast("double") / F.sum("n_tok").cast("double"), 4
        ).alias("chars_per_token"),
    )


QUERIES["lang_token_fertility"] = lang_token_fertility

ORACLES["lang_token_fertility"] = f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len({_TOKS})) AS BIGINT) AS total_tokens,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(CAST(sum(n_chars) AS DOUBLE)
                 / CAST(sum(len({_TOKS})) AS DOUBLE), 4)
               AS chars_per_token
    FROM documents
    WHERE len({_TOKS}) > 0
    GROUP BY lang
"""
