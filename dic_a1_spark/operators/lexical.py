"""Sparse lexical similarity and cross-document repeated n-gram
profiling — the token-space complement of the embedding ladder
(operators/similarity.py) and the shingle dedup ladder (operators/
dedup.py).

Two operators a training-data pipeline runs that neither ladder covers:

  * `docsim_tfidf_topk` — top-k most lexically similar document pairs
    under idf-weighted cosine, via an inverted-index equi-join (never
    all-pairs). The rarity weighting is what distinguishes it from
    dedup_jaccard_pairs: two docs sharing rare vocabulary rank above two
    docs sharing stopword-adjacent filler.
  * `dedup_repeated_ngrams` — per-document fraction of token 8-gram
    positions that recur in OTHER documents: the cheap distributed
    stand-in for exact-substring dedup (Lee et al. 2021 use offline
    suffix arrays; the Spark-native shape is gram-hash grouping). Docs
    that are mostly built from cross-document boilerplate get flagged
    even when no single whole-document near-dup exists.

Float-parity design: idf weights are INTEGER-quantized (bit-length of
N/df) so every similarity numerator/denominator is an exact integer sum —
aggregation order can't perturb a bit, unlike summing ln(N/df) doubles,
where Spark's partial aggregation order and DuckDB's would have to agree.
The single division + sqrt at the end is one IEEE-754 chain both engines
execute identically (the operators/quantize.py argument).

Scale notes:
  - the inverted index drops terms with df > DOCSIM_DF_CEILING before
    pair generation — the viral-term guard from dedup.py's hot-shingle
    ceiling; candidate count is bounded by sum over terms of C(df,2)
    with df capped;
  - per-doc weights/norms are dimension-one aggregates; pair scoring is
    a partial-agg'd groupBy over (doc1, doc2) hits only;
  - the repeated-n-gram pass is the decontam hits-only shape turned
    corpus-vs-corpus: grams with a single (doc, multiplicity) never
    leave their partial aggregate. This exact pass is the yardstick —
    at 100 TB you run it per-shard or behind the frequency prune, and
    the output stays one row per document either way.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dic_a1_spark.config import duckdb_tokens_sql
from dic_a1_spark.functions.text import tokenize
from dic_a1_spark.sources.readers import load_table

# Terms present in more than this many documents are dropped from the
# inverted index before pair generation (viral-term candidate guard).
DOCSIM_DF_CEILING = 200
DOCSIM_TOP_K = 3
# Minimum integer-weighted cosine for a pair to be reported at all.
DOCSIM_MIN_SIM = 0.05

GRAM_WIDTH = 8  # token 8-grams, the repeated-substring stand-in


def _tokens(col: Column) -> Column:
    return F.filter(tokenize(col), lambda w: w != "")


def _doc_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term) with per-doc DISTINCT word-3-gram shingle terms.

    Shingles, not raw tokens: the driver corpus has a 31-word vocabulary,
    so every TOKEN is a viral term (df ~ 0.75N — nothing would survive
    any df ceiling, and without one the inverted index is all-pairs).
    Shingle space is combinatorial (27K distinct at sf0.1, max df 25),
    which is also the realistic regime: real corpora weight phrases, not
    stopword-dense unigrams, for similarity."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", _tokens(F.col("text")).alias("toks")).where(
        F.size("toks") >= 3
    )
    return toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(1, size(toks) - 2),"
                " i -> concat(toks[i-1], ' ', toks[i], ' ', toks[i+1])))"
            )
        ).alias("term"),
    )


def docsim_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K lexically-similar partners per document under integer-
    quantized idf-weighted cosine.

    weight(t) = bit_length(⌊N / df(t)⌋) — a staircase idf growing ~log2
    with rarity whose squares sum EXACTLY in both engines.
    sim(d1,d2) = sum_{t in both} w(t)^2 / (|d1| * |d2|)
    where |d| = sqrt(sum_{t in d} w(t)^2).

    The posting list and its weighted form are PERSISTED: they feed the
    doc count, the df table, norms, and both sides of the pair join —
    without the persists each consumer re-runs tokenize+shingle from the
    scan (measured as 16 scans / 15 exchanges in the unpersisted plan;
    100 TB would tokenize the corpus eight times). Pairs are scored and
    threshold-filtered ONCE, then the surviving rows fan out to both
    rank directions through a 2-element generator."""
    from pyspark import StorageLevel

    # The posting list is the frame every branch reads (doc count, df
    # table, weighting join) — persist it so the corpus is tokenized
    # exactly once; the n_docs action doubles as cache materialization.
    terms = _doc_terms(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    n_docs = terms.select("doc_id").distinct().count()
    df_tbl = terms.groupBy("term").agg(F.count("*").alias("df"))
    # No broadcast hint on df_tbl: its size is the shingle VOCABULARY
    # (corpus-proportional — 27K rows at sf0.1, far larger at 100 TB).
    # AQE broadcasts it while it fits and falls back to a shuffle join
    # when it doesn't; a hard hint would pin the unscalable plan.
    #
    # r13 restructure (guide §2.3 "aggregate before you shuffle" / §3.3):
    # the pair census used to SELF-JOIN the weighted posting list on the
    # term STRING (both sides shuffled by a ~30-byte word-3-gram key,
    # then C(df,2) joined rows per term). Instead, group the postings
    # once per term — sorted doc-id ARRAY plus the term's weight — and
    # generate each term's doc pairs locally from the array. The posting
    # stream crosses the wire ONCE (and at 100 TB, where df_tbl joins as
    # sort-merge, the groupBy reuses that join's term partitioning —
    # zero extra exchanges); the term string never enters the pair
    # stream. Bounded by construction: collect_set runs AFTER the df
    # ceiling, so an array holds <= DOCSIM_DF_CEILING ids (the two-pass
    # viral-term guard is unchanged). Pair values are identical: sorted
    # ascending ids make doc1 < doc2 by construction, and dot is the
    # same exact integer sum over the same (term, pair) hits.
    weighted = (
        terms.join(df_tbl, "term")
        .where(F.col("df") <= DOCSIM_DF_CEILING)
        .withColumn(
            # floor() in BOTH engines: Spark's double->long cast truncates
            # while DuckDB's rounds, so the cast must never see a fraction
            "w", F.length(F.bin(F.floor(F.lit(n_docs) / F.col("df"))))
        )
        .select("doc_id", "term", (F.col("w") * F.col("w")).cast("long").alias("w2"))
    )
    postings = (
        weighted.groupBy("term")
        .agg(
            F.sort_array(F.collect_set("doc_id")).alias("ds"),
            F.min("w2").alias("w2"),  # w2 is constant per term
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    norms = (
        postings.select(F.explode("ds").alias("doc_id"), "w2")
        .groupBy("doc_id")
        .agg(F.sum("w2").alias("sum_w2"))
    )
    shared = (
        postings.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) ->"
                    " transform(slice(ds, i + 2, size(ds)),"
                    " y -> named_struct('doc1', x, 'doc2', y))))"
                )
            ).alias("p"),
            "w2",
        )
        .groupBy(F.col("p.doc1").alias("doc1"), F.col("p.doc2").alias("doc2"))
        .agg(F.sum("w2").alias("dot"))
    )
    # Norms are |docs|-sized (corpus-proportional), so — like df_tbl
    # above — NO broadcast hint: a hard hint would pin a plan that OOMs
    # the moment the corpus outgrows the broadcast limit. AQE broadcasts
    # while norms fits and falls back to a shuffle join at scale; the
    # join keys are already the pair frame's grouping keys, so the
    # sort-merge fallback is cheap. Score each unordered pair ONCE,
    # filter to survivors (sim is symmetric), and only then emit both
    # directions — a generator over a 2-element struct array, so the
    # expensive pair subtree is never duplicated.
    scored = (
        shared.join(
            norms.withColumnRenamed("doc_id", "doc1").withColumnRenamed(
                "sum_w2", "n1"
            ),
            "doc1",
        )
        .join(
            norms.withColumnRenamed("doc_id", "doc2").withColumnRenamed(
                "sum_w2", "n2"
            ),
            "doc2",
        )
        .withColumn(
            "raw_sim",
            F.col("dot").cast("double")
            / (F.sqrt(F.col("n1").cast("double")) * F.sqrt(F.col("n2").cast("double"))),
        )
        .where(F.col("raw_sim") >= DOCSIM_MIN_SIM)
    )
    sym = scored.select(
        F.explode(
            F.array(
                F.struct(F.col("doc1").alias("d"), F.col("doc2").alias("p")),
                F.struct(F.col("doc2").alias("d"), F.col("doc1").alias("p")),
            )
        ).alias("e"),
        "raw_sim",
    ).select(F.col("e.d").alias("doc1"), F.col("e.p").alias("doc2"), "raw_sim")
    w = Window.partitionBy("doc1").orderBy(F.desc("raw_sim"), F.asc("doc2"))
    return (
        sym.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= DOCSIM_TOP_K)
        .select(
            F.col("doc1").alias("doc_id"),
            F.col("doc2").alias("partner_id"),
            F.round("raw_sim", 4).alias("sim"),
            "rnk",
        )
    )


def dedup_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate profile: of the document's token-8-gram
    POSITIONS (with multiplicity), how many carry a gram that also
    appears in at least one OTHER document. Documents shorter than
    GRAM_WIDTH tokens have no positions and are excluded (they cannot
    carry cross-document substrings)."""
    from pyspark import StorageLevel

    d = load_table(spark, sf_dir, "documents")
    # One persisted gram-array pass (the decontam_ngram_overlap pattern,
    # curation.py:62): the exploded stream feeds three consumers — the
    # cross-doc filter, the hit counts, and the position totals — and
    # without the persist each re-runs tokenize+slide from the scan.
    gram_arrays = (
        d.select("doc_id", _tokens(F.col("text")).alias("toks"))
        .where(F.size("toks") >= GRAM_WIDTH)
        .select(
            "doc_id",
            F.expr(
                f"transform(sequence(1, size(toks) - {GRAM_WIDTH - 1}),"
                f" i -> concat_ws(' ', slice(toks, i, {GRAM_WIDTH})))"
            ).alias("grams"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    grams = gram_arrays.select("doc_id", F.explode("grams").alias("gram"))
    # (gram -> appears in >= 2 distinct docs), hits-only
    cross = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("gram")
    )
    dup_hits = (
        grams.join(cross, "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup_positions"))
    )
    # position totals come map-side from the persisted arrays — no
    # aggregation of exploded rows needed
    base = gram_arrays.select(
        "doc_id", F.size("grams").cast("long").alias("n_positions")
    )
    frac = F.col("n_dup_positions") / F.col("n_positions")
    return (
        base.join(dup_hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_positions",
            F.coalesce("n_dup_positions", F.lit(0)).alias("n_dup_positions"),
        )
        .select(
            "doc_id",
            "n_positions",
            "n_dup_positions",
            F.round(frac, 4).alias("dup_fraction"),
            (frac >= 0.5).alias("mostly_boilerplate"),
        )
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "docsim_tfidf_topk": docsim_tfidf_topk,
    "dedup_repeated_ngrams": dedup_repeated_ngrams,
}

_TOKS = duckdb_tokens_sql()

ORACLES: dict[str, str] = {
    "docsim_tfidf_topk": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS} AS a FROM documents WHERE len({_TOKS}) >= 3
        ),
        terms AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(range(1, len(a) - 1),
                       i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2]))) AS term
            FROM toks
        ),
        n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM terms),
        dfs AS (SELECT term, count(*) AS df FROM terms GROUP BY term),
        weighted AS (
            SELECT t.doc_id, t.term,
                   CAST(length(bin(CAST(floor(
                       CAST((SELECT n_docs FROM n) AS DOUBLE) / CAST(df AS DOUBLE)
                   ) AS BIGINT))) AS BIGINT) AS w
            FROM terms t JOIN dfs USING (term)
            WHERE df <= {DOCSIM_DF_CEILING}
        ),
        w2 AS (
            SELECT doc_id, term, w * w AS w2 FROM weighted
        ),
        norms AS (SELECT doc_id, sum(w2) AS sum_w2 FROM w2 GROUP BY doc_id),
        shared AS (
            SELECT a.doc_id AS doc1, b.doc_id AS doc2, sum(a.w2) AS dot
            FROM w2 a JOIN w2 b ON a.term = b.term AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        scored AS (
            SELECT doc1, doc2,
                   CAST(dot AS DOUBLE)
                       / (sqrt(CAST(x.sum_w2 AS DOUBLE))
                          * sqrt(CAST(y.sum_w2 AS DOUBLE))) AS raw_sim
            FROM shared
            JOIN norms x ON x.doc_id = doc1
            JOIN norms y ON y.doc_id = doc2
        ),
        sym AS (
            SELECT doc1, doc2, raw_sim FROM scored WHERE raw_sim >= {DOCSIM_MIN_SIM}
            UNION ALL
            SELECT doc2, doc1, raw_sim FROM scored WHERE raw_sim >= {DOCSIM_MIN_SIM}
        ),
        ranked AS (
            SELECT doc1, doc2, raw_sim,
                   CAST(row_number() OVER (
                       PARTITION BY doc1 ORDER BY raw_sim DESC, doc2 ASC
                   ) AS INTEGER) AS rnk
            FROM sym
        )
        SELECT doc1 AS doc_id, doc2 AS partner_id,
               round(raw_sim, 4) AS sim, rnk
        FROM ranked WHERE rnk <= {DOCSIM_TOP_K}
    """,
    "dedup_repeated_ngrams": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS} AS a FROM documents
            WHERE len({_TOKS}) >= {GRAM_WIDTH}
        ),
        grams AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(a) - {GRAM_WIDTH - 2}),
                       i -> array_to_string(a[i:i+{GRAM_WIDTH - 1}], ' ')))
                       AS gram
            FROM toks
        ),
        cross_grams AS (
            SELECT gram FROM grams GROUP BY gram
            HAVING count(DISTINCT doc_id) >= 2
        ),
        base AS (
            SELECT doc_id, count(*) AS n_positions FROM grams GROUP BY doc_id
        ),
        hits AS (
            SELECT doc_id, count(*) AS n_dup_positions
            FROM grams WHERE gram IN (SELECT gram FROM cross_grams)
            GROUP BY doc_id
        )
        SELECT b.doc_id, b.n_positions,
               COALESCE(h.n_dup_positions, 0) AS n_dup_positions,
               round(CAST(COALESCE(h.n_dup_positions, 0) AS DOUBLE)
                     / b.n_positions, 4) AS dup_fraction,
               (CAST(COALESCE(h.n_dup_positions, 0) AS DOUBLE)
                     / b.n_positions) >= 0.5 AS mostly_boilerplate
        FROM base b LEFT JOIN hits h ON b.doc_id = h.doc_id
    """,
}
