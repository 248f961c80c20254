"""Training-data curation operators: benchmark decontamination,
deterministic source/language rebalancing, and context-window chunking.

These are the steps a corpus pipeline runs AFTER dedup (operators/
dedup.py) and quality filtering (operators/textstats.py) and BEFORE
tokenize-and-pack: drop documents that leak evaluation data, reshape the
language/source mix toward a target distribution, and split long
documents into model-context-sized windows. The reference engine has no
analog (its surface ends at the chi-square pipeline, SURVEY.md §2); these
follow the same house rules — pure Column expressions, engine-neutral
arithmetic, DuckDB value oracles.

Scale notes (the 100 TB plan):
  - decontam: the benchmark side is ALWAYS small (eval sets are MBs while
    the corpus is TBs), so its distinct shingle-hash set broadcasts and the
    corpus side stays map-only — one explode, one broadcast hash join,
    one groupBy(doc_id) whose input is bounded by corpus shingle count.
    No shuffle ever carries the corpus text. At extreme benchmark sizes
    the same query degrades gracefully: Catalyst falls back to a shuffle
    hash join on the shingle hash.
  - rebalance: per-language counts are a dimension-sized aggregate
    (|langs| rows) broadcast back; the keep/drop decision is a pure
    row-local hash comparison — deterministic under retries and
    repartitioning (the reason rand() sampling is banned at scale), and
    reproducible from the doc_id alone.
  - chunking: map-only (transform over a sequence, then posexplode);
    output row count is sum(ceil(tokens/stride)) — linear in corpus
    size. No shuffle at all.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dic_a1_spark.config import DUCKDB_WS_REGEX, duckdb_lower_sql, duckdb_tokens_sql
from dic_a1_spark.functions.sweeps import sweep_agg_columns, sweep_sql_columns
from dic_a1_spark.functions.text import tokens_nonempty
from dic_a1_spark.operators.dedup import SHINGLE_WIDTH
from dic_a1_spark.sources.readers import load_table

# Java-casefold-mirrored lower(text) for the whitespace-only tokenizer
# oracles below (the Spark twins use F.lower, i.e. Java full casing —
# see config.duckdb_lower_sql for the İ / final-sigma forks this guards).
_LOWER_TEXT = duckdb_lower_sql("text")

# Stand-in evaluation set: the first BENCH_DOCS documents. In production
# this is a separate table of benchmark prompts/answers; the query shape
# (tiny broadcast side vs huge corpus side) is identical.
BENCH_DOCS = 50

# A corpus doc is contaminated when >= this fraction of its distinct
# shingles appear anywhere in the benchmark set.
CONTAM_RATIO = 0.2

# Language rebalancing: no language may exceed this share of the corpus;
# over-represented languages are hash-downsampled to the cap.
LANG_CAP = 0.25

# Context-window chunking: window length and stride in tokens (stride <
# width -> overlapping windows, the usual packing-with-overlap shape).
CHUNK_WIDTH = 64
CHUNK_STRIDE = 56


def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination via word-3-gram overlap: for every corpus
    document, the fraction of its distinct shingles that also occur in the
    (broadcast) benchmark set, and the contamination verdict. Registered
    under both decontam names.

    A shingle is the token-triple hash xxhash64(t1, t2, t3); no shingle
    string is built. Tokens hold no whitespace, so triples and
    space-joined string shingles are the same sets: counts differ from
    the string oracle only if two distinct triples collide at 64 bits,
    and the hash oracle (bottom of module) recomputes the same hashes.

    Plan (hits-only): one persisted hash-array pass (an UNpersisted
    explode(hs) beside size(hs) re-runs the transform per exploded
    element); per-doc sizes map-side; explode + broadcast INNER probe
    against the benchmark's distinct hashes, so only hit rows reach the
    groupBy; hit counts join back to the sizes (AQE broadcasts them).
    Slower alternatives: `size(array_intersect(...))` against one
    benchmark array rebuilds its hash set per row (102 s at 250K docs);
    a driver-sorted benchmark array probed by binary search in Arrow
    batches was exchange-free but slower at sf0.01, sf0.1 and 50x sf0.1."""
    from pyspark import StorageLevel

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens_nonempty(F.col("text")).alias("toks")).where(
        F.size("toks") >= SHINGLE_WIDTH
    )
    arrs = toks.select(
        "doc_id",
        F.expr(
            "array_distinct(transform(sequence(1, size(toks) - 2),"
            " i -> xxhash64(toks[i-1], toks[i], toks[i+1])))"
        ).alias("hs"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    bench = (
        arrs.where(F.col("doc_id") < BENCH_DOCS)
        .select(F.explode("hs").alias("h"))
        .distinct()
    )
    corpus = arrs.where(F.col("doc_id") >= BENCH_DOCS)
    hits = (
        corpus.select("doc_id", F.explode("hs").alias("h"))
        .join(F.broadcast(bench), "h", "inner")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    base = corpus.select("doc_id", F.size("hs").cast("bigint").alias("n_shingles"))
    per_doc = base.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
    )
    ratio = F.col("n_overlap") / F.col("n_shingles")
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_overlap",
        F.round(ratio, 4).alias("overlap_ratio"),
        (ratio >= F.lit(CONTAM_RATIO)).alias("contaminated"),
    )


def lang_rebalance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling toward a language cap: any
    language above LANG_CAP of the corpus is sampled down to the cap;
    under-represented languages pass through whole.

    The keep decision hashes the doc_id (md5, first 8 hex chars) and
    keeps rows lexicographically below a per-language threshold string —
    hex compare == uint32 compare, identical in Spark and DuckDB, and
    reproducible under retries/repartitioning where rand() is not. The
    threshold derives from dimension-sized aggregates broadcast back, so
    the fact side never shuffles."""
    d = load_table(spark, sf_dir, "documents")
    per_lang = d.groupBy("lang").agg(F.count("*").alias("n_lang"))
    total = d.agg(F.count("*").alias("n_total"))
    rate = F.lit(LANG_CAP) * F.col("n_total") / F.col("n_lang")
    # Languages at/under the cap keep everything via an explicit flag —
    # a rate >= 1 threshold would need 2^32, which overflows the 8-hex-char
    # compare (lpad would silently TRUNCATE it to "10000000", sampling
    # under-cap languages at ~1/16; caught by the share assertions in
    # tests, invisible to the oracle hash since both engines truncate
    # identically).
    thresholds = (
        per_lang.crossJoin(F.broadcast(total))
        .select(
            "lang",
            (rate >= F.lit(1.0)).alias("keep_all"),
            F.lower(
                F.lpad(
                    F.hex(F.floor(rate * F.lit(4294967296.0)).cast("bigint")), 8, "0"
                )
            ).alias("keep_below"),
        )
    )
    return (
        d.join(F.broadcast(thresholds), "lang")
        .where(
            F.col("keep_all")
            | (
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
                < F.col("keep_below")
            )
        )
        .select("doc_id", "lang", "source", "n_chars")
    )


def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split each document's token stream into
    CHUNK_WIDTH-token windows every CHUNK_STRIDE tokens (trailing shorter
    window kept iff it adds tokens). Map-only; the token array is
    projected to a real column first so the window transform references a
    bound column (the expression-inlining trap, SCALING.md §text)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), DUCKDB_WS_REGEX), lambda w: w != ""
        ).alias("toks"),
    ).where(F.size("toks") > 0)
    n_chunks = F.ceil(
        F.greatest(F.size("toks") - F.lit(CHUNK_WIDTH), F.lit(0))
        / F.lit(CHUNK_STRIDE)
    ) + F.lit(1)
    chunks = toks.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.transform(
            F.sequence(F.lit(0), n_chunks.cast("int") - F.lit(1)),
            lambda i: F.struct(
                i.alias("chunk_id"),
                F.array_join(
                    F.slice(F.col("toks"), i * CHUNK_STRIDE + 1, CHUNK_WIDTH), " "
                ).alias("chunk_text"),
            ),
        ).alias("chunks"),
    )
    return chunks.select(
        "doc_id",
        "n_tokens",
        F.explode("chunks").alias("c"),
    ).select(
        "doc_id",
        "n_tokens",
        F.col("c.chunk_id").cast("int").alias("chunk_id"),
        F.col("c.chunk_text").alias("chunk_text"),
    )


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data curation DAG as ONE lazy plan —
    what a user of this engine actually runs over a raw corpus:

        exact dedup (keep min doc_id per content hash)
        -> C4-style quality gate (textstats.text_quality_filter, keep=1)
        -> benchmark decontamination (decontam_ngram_overlap, clean only;
           also drops the benchmark docs themselves)
        -> context-window accounting (tokens + chunk count per survivor)

    Each stage is itself a registered, oracle-gated query; this entry
    proves they COMPOSE — one DAG, one driver hash over the final result.
    Semantics note (deliberate, mirrored exactly by the oracle): the
    decontam stage only emits documents with >= SHINGLE_WIDTH tokens, and
    the inner join therefore DROPS 1-2-token documents from the curated
    set even though they cannot contain a contaminating 3-gram — the
    pipeline treats "too short to verify against the benchmark" as "not
    curated", the conservative choice for training data.
    Catalyst sees through the composition: the content-hash dedup and the
    map-only quality/chunk features all fold into scans + one broadcast
    probe, so the plan stays the union of the stages' plans, not a
    materialization chain. Output is the per-document curation summary
    (doc_id, lang, source, n_tokens, n_chunks) — compact and
    deterministic at every SF."""
    from dic_a1_spark.operators.textstats import text_quality_filter

    d = load_table(spark, sf_dir, "documents")
    dedup_keep = d.groupBy(F.md5(F.encode("text", "UTF-8")).alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    quality_ok = text_quality_filter(spark, sf_dir).where(F.col("keep") == 1)
    decontam_ok = decontam_ngram_overlap(spark, sf_dir).where(~F.col("contaminated"))
    toks = d.select(
        "doc_id",
        "lang",
        "source",
        F.filter(
            F.split(F.lower(F.col("text")), DUCKDB_WS_REGEX), lambda w: w != ""
        ).alias("toks"),
    ).where(F.size("toks") > 0)
    sized = toks.select(
        "doc_id",
        "lang",
        "source",
        F.size("toks").alias("n_tokens"),
        (
            F.ceil(
                F.greatest(F.size("toks") - F.lit(CHUNK_WIDTH), F.lit(0))
                / F.lit(CHUNK_STRIDE)
            ).cast("int")
            + F.lit(1)
        ).alias("n_chunks"),
    )
    return (
        sized.join(dedup_keep.select("doc_id"), "doc_id")
        .join(quality_ok.select("doc_id"), "doc_id")
        .join(decontam_ok.select("doc_id"), "doc_id")
        .select("doc_id", "lang", "source", "n_tokens", "n_chunks")
    )


# Sequence packing: documents are assigned to ~PACK_CAPACITY-token bins
# inside PACK_SHARDS deterministic shards. Sharding is what makes packing
# distributed: a single global greedy pack would be one unbounded-order
# window (one task, whatever the cluster size); shard-local packing runs
# PACK_SHARDS independent windows and only sacrifices a little packing
# efficiency at the shard tails. Capacity overshoot: a doc longer than
# the remaining bin space still joins the current bin (fixed-boundary
# discipline — deterministic and cheap; real packers then truncate or
# spill, which is the chunking operator's job).
PACK_CAPACITY = 2048
PACK_SHARDS = 16


def doc_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining batch construction: each document
    lands in a (pack_shard, bin_id) whose cumulative token count crosses
    PACK_CAPACITY boundaries — bin_id = floor((running_total - n_tokens)
    / capacity) over docs ordered by doc_id within their shard. Pure
    window arithmetic, no UDFs; the shard key (doc_id % PACK_SHARDS) and
    ordering are engine-neutral, so the assignment is bit-identical in
    the DuckDB oracle."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.size(
            F.filter(
                F.split(F.lower(F.col("text")), DUCKDB_WS_REGEX), lambda w: w != ""
            )
        ).cast("bigint").alias("n_tokens"),
    ).where(F.col("n_tokens") > 0)
    sharded = toks.withColumn(
        "pack_shard", (F.col("doc_id") % PACK_SHARDS).cast("int")
    )
    w = (
        Window.partitionBy("pack_shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return sharded.select(
        "doc_id",
        "pack_shard",
        "n_tokens",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(PACK_CAPACITY)
        )
        .cast("int")
        .alias("bin_id"),
    )


# Repetition gate: docs whose single most common bigram exceeds this
# fraction of all bigram occurrences are flagged (Gopher-style "most
# common n-gram" quality signal; word-salad corpora sit well below 1.0).
REPETITION_CAP = 0.08

# Deterministic split fractions over the md5(doc_id) hex prefix:
# [0, 0xcccccccc) -> train (~80%), [.., 0xe6666666) -> val (~10%),
# rest -> test (~10%). Hex string compare == uint32 compare, identical
# in both engines (same device as lang_rebalance_sample).
SPLIT_TRAIN_BELOW = "cccccccc"
SPLIT_VAL_BELOW = "e6666666"


def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram repetition quality signal: the share of bigram
    occurrences taken by the single most frequent bigram, and the keep
    verdict (share <= REPETITION_CAP). The Gopher-family filters gate on
    exactly this family of statistics before training.

    MAP-ONLY: bigrams are sorted per document and the longest equal-run
    is measured with one F.aggregate fold over the array — no explode,
    no shuffle; the whole query is scan -> project. The oracle restates
    the semantics relationally (explode -> group -> max), which is the
    point: same values, independently shaped computation."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), DUCKDB_WS_REGEX), lambda w: w != ""
        ).alias("toks"),
    ).where(F.size("toks") >= 2)
    bigrams = toks.select(
        "doc_id",
        F.array_sort(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> concat(toks[i-1], ' ', toks[i]))"
            )
        ).alias("bgs"),
    )
    # Longest run of equal adjacent values in the sorted array ==
    # max bigram multiplicity. State: (prev value, current run, best run).
    run_state = "named_struct('prev', cast(null as string), 'run', 0L, 'best', 0L)"
    fold = (
        "aggregate(bgs, "
        f"{run_state}, "
        "(s, x) -> named_struct("
        " 'prev', x,"
        " 'run', if(s.prev is not null and x = s.prev, s.run + 1, 1L),"
        " 'best', greatest(s.best,"
        "          if(s.prev is not null and x = s.prev, s.run + 1, 1L))),"
        "s -> s.best)"
    )
    ratio = F.col("max_count") / F.col("n_bigrams")
    return bigrams.select(
        "doc_id",
        F.size("bgs").cast("bigint").alias("n_bigrams"),
        F.expr(fold).alias("max_count"),
    ).select(
        "doc_id",
        "n_bigrams",
        "max_count",
        F.round(ratio, 4).alias("top_bigram_share"),
        (ratio <= F.lit(REPETITION_CAP)).alias("keep"),
    )


def hash_split_col(col) -> "F.Column":
    """THE hash-split rule: md5 hex prefix of `col` against the fixed
    train/val thresholds. Single definition shared by doc_split_assign
    and sampling's leakage-safe splits so the two can never drift."""
    h = F.substring(F.md5(col.cast("string")), 1, 8)
    return (
        F.when(h < F.lit(SPLIT_TRAIN_BELOW), F.lit("train"))
        .when(h < F.lit(SPLIT_VAL_BELOW), F.lit("val"))
        .otherwise(F.lit("test"))
    )


def hash_split_sql(col_sql: str) -> str:
    """The DuckDB twin of hash_split_col — the ONE source of the oracle
    CASE expression (previously copied into three oracles; a change to
    the split rule must hit exactly two places: the Column above and
    this string)."""
    return (
        f"CASE WHEN substring(md5(CAST({col_sql} AS VARCHAR)), 1, 8)"
        f" < '{SPLIT_TRAIN_BELOW}' THEN 'train'"
        f" WHEN substring(md5(CAST({col_sql} AS VARCHAR)), 1, 8)"
        f" < '{SPLIT_VAL_BELOW}' THEN 'val'"
        f" ELSE 'test' END"
    )


def doc_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment: the split is a pure
    function of doc_id (md5 hex prefix against fixed thresholds), so it
    is stable under retries, repartitioning, and corpus growth — append
    new docs and no existing assignment moves, which is why hash splits
    (not rand()) are the only acceptable device at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "lang",
        "source",
        hash_split_col(F.col("doc_id")).alias("split"),
    )


def doc_pack_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bin assembly over doc_pack_bins: per (pack_shard, bin_id), the
    member count, total token count, and the ordered member list — the
    frame a batch-construction job writes out, one row per training
    sequence. Output rows = number of bins (corpus tokens / capacity),
    far smaller than the input; the member list is bounded by bin
    capacity, not corpus size.

    The member list is emitted as a space-joined STRING, not
    array<bigint>: the driver's canonicalizer sorts result columns with
    pandas, which cannot hash list cells (the round-4 red row). The sort
    happens numerically BEFORE the string cast so both engines order
    members identically."""
    bins = doc_pack_bins(spark, sf_dir)
    return bins.groupBy("pack_shard", "bin_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
            " ",
        ).alias("doc_ids"),
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "decontam_ngram_overlap": decontam_ngram_overlap,
    "decontam_ngram_overlap_fast": decontam_ngram_overlap,
    "lang_rebalance_sample": lang_rebalance_sample,
    "doc_chunk_windows": doc_chunk_windows,
    "doc_pack_bins": doc_pack_bins,
    "curation_pipeline": curation_pipeline,
    "text_repetition_ratio": text_repetition_ratio,
    "doc_split_assign": doc_split_assign,
    "doc_pack_concat": doc_pack_concat,
}

_TOKS = duckdb_tokens_sql()

ORACLES: dict[str, str] = {
    "decontam_ngram_overlap": f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS a FROM documents),
        pos AS (SELECT doc_id, a, generate_subscripts(a, 1) AS i FROM toks),
        sh AS (
            SELECT DISTINCT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS shingle
            FROM pos WHERE i + 2 <= len(a)
        ),
        bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < {BENCH_DOCS}),
        per_doc AS (
            SELECT s.doc_id, count(*) AS n_shingles,
                   count(b.shingle) AS n_overlap
            FROM sh s LEFT JOIN bench b ON s.shingle = b.shingle
            WHERE s.doc_id >= {BENCH_DOCS}
            GROUP BY s.doc_id
        )
        SELECT doc_id, n_shingles, n_overlap,
               round(CAST(n_overlap AS DOUBLE) / n_shingles, 4) AS overlap_ratio,
               (CAST(n_overlap AS DOUBLE) / n_shingles) >= {CONTAM_RATIO}
                   AS contaminated
        FROM per_doc
    """,
    "lang_rebalance_sample": f"""
        WITH per_lang AS (
            SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang
        ),
        thresholds AS (
            SELECT lang,
                   ({LANG_CAP} * (SELECT count(*) FROM documents) / n_lang)
                       >= 1.0 AS keep_all,
                   lower(lpad(to_hex(CAST(floor(
                       {LANG_CAP} * (SELECT count(*) FROM documents)
                                  / n_lang * 4294967296.0
                   ) AS BIGINT)), 8, '0')) AS keep_below
            FROM per_lang
        )
        SELECT doc_id, d.lang, source, n_chars
        FROM documents d JOIN thresholds t ON d.lang = t.lang
        WHERE keep_all
           OR substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < keep_below
    """,
    "doc_chunk_windows": f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array({_LOWER_TEXT},
                               '{DUCKDB_WS_REGEX}'), w -> w <> '') AS a
            FROM documents
        ),
        sized AS (
            SELECT doc_id, a, len(a) AS n_tokens,
                   CAST(ceil(greatest(len(a) - {CHUNK_WIDTH}, 0)
                             / {CHUNK_STRIDE}.0) AS INTEGER) + 1 AS n_chunks
            FROM toks WHERE len(a) > 0
        )
        ,
        idx AS (
            SELECT doc_id, n_tokens, a,
                   unnest(generate_series(0, n_chunks - 1)) AS i
            FROM sized
        )
        SELECT doc_id, n_tokens,
               CAST(i AS INTEGER) AS chunk_id,
               array_to_string(a[i * {CHUNK_STRIDE} + 1 :
                                 i * {CHUNK_STRIDE} + {CHUNK_WIDTH}], ' ')
                   AS chunk_text
        FROM idx
    """,
}


ORACLES["doc_pack_bins"] = f"""
    WITH toks AS (
        SELECT doc_id,
               len(list_filter(regexp_split_to_array({_LOWER_TEXT},
                               '{DUCKDB_WS_REGEX}'), w -> w <> '')) AS n_tokens
        FROM documents
    ),
    sharded AS (
        SELECT doc_id, CAST(doc_id % {PACK_SHARDS} AS INTEGER) AS pack_shard,
               n_tokens
        FROM toks WHERE n_tokens > 0
    )
    SELECT doc_id, pack_shard, n_tokens,
           CAST(floor((sum(n_tokens) OVER (
                    PARTITION BY pack_shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) - n_tokens) / {PACK_CAPACITY}) AS INTEGER) AS bin_id
    FROM sharded
"""


def _pipeline_oracle() -> str:
    """Compose the pipeline oracle from the stages' own oracle SQL (each
    embedded as a derived table — the oracle composes exactly as the
    Spark DAG composes), plus the chunk-accounting arithmetic."""
    from dic_a1_spark.operators import textstats as _ts

    quality_sql = _ts.ORACLES["text_quality_filter"]
    decontam_sql = ORACLES["decontam_ngram_overlap"]
    return f"""
        WITH base AS (
            SELECT doc_id, lang, source,
                   list_filter(regexp_split_to_array({_LOWER_TEXT},
                               '{DUCKDB_WS_REGEX}'), w -> w <> '') AS a
            FROM documents
        ),
        sized AS (
            SELECT doc_id, lang, source, len(a) AS n_tokens,
                   CAST(ceil(greatest(len(a) - {CHUNK_WIDTH}, 0)
                             / {CHUNK_STRIDE}.0) AS INTEGER) + 1 AS n_chunks
            FROM base WHERE len(a) > 0
        ),
        dedup_keep AS (
            SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
        ),
        quality AS (
            SELECT doc_id FROM ({quality_sql}) WHERE keep = 1
        ),
        clean AS (
            SELECT doc_id FROM ({decontam_sql}) WHERE NOT contaminated
        )
        SELECT s.doc_id, s.lang, s.source, s.n_tokens, s.n_chunks
        FROM sized s
        JOIN dedup_keep USING (doc_id)
        JOIN quality USING (doc_id)
        JOIN clean USING (doc_id)
    """


ORACLES["curation_pipeline"] = _pipeline_oracle()

# Relational restatement of the map-only fold: explode bigrams, count per
# (doc, bigram), take max and total — same values, independent shape.
ORACLES["text_repetition_ratio"] = f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array({_LOWER_TEXT},
                           '{DUCKDB_WS_REGEX}'), w -> w <> '') AS a
        FROM documents
    ),
    pos AS (
        SELECT doc_id, a, generate_subscripts(a, 1) AS i FROM toks
        WHERE len(a) >= 2
    ),
    bg AS (
        SELECT doc_id, a[i] || ' ' || a[i+1] AS b
        FROM pos WHERE i + 1 <= len(a)
    ),
    per_bg AS (
        SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b
    ),
    per_doc AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
               CAST(max(c) AS BIGINT) AS max_count
        FROM per_bg GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, max_count,
           round(CAST(max_count AS DOUBLE) / n_bigrams, 4)
               AS top_bigram_share,
           (CAST(max_count AS DOUBLE) / n_bigrams) <= {REPETITION_CAP} AS keep
    FROM per_doc
"""

ORACLES["doc_split_assign"] = f"""
    SELECT doc_id, lang, source,
           {hash_split_sql("doc_id")} AS split
    FROM documents
"""

ORACLES["doc_pack_concat"] = f"""
    WITH bins AS ({ORACLES["doc_pack_bins"]})
    SELECT pack_shard, bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           array_to_string(list_sort(list(doc_id)), ' ') AS doc_ids
    FROM bins GROUP BY pack_shard, bin_id
"""


# --- round 6: decontamination operating-point sweep --------------------

# Candidate contamination thresholds bracketing CONTAM_RATIO.
DECONTAM_SWEEP_TAUS = (0.10, 0.20, 0.30)


def decontam_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row operating-point sweep for n-gram decontamination: how many
    corpus documents each candidate overlap threshold would flag — the
    audit run before committing to CONTAM_RATIO (the semdedup sweep
    pattern: the expensive overlap computation runs ONCE, every
    threshold is a conditional count over the per-doc frame)."""
    per = decontam_ngram_overlap(spark, sf_dir)
    # exact-integer ratio, identical division in the oracle
    ratio = F.col("n_overlap").cast("double") / F.col("n_shingles").cast(
        "double"
    )
    aggs = [F.count("*").cast("bigint").alias("n_docs")]
    aggs += sweep_agg_columns(
        DECONTAM_SWEEP_TAUS, lambda t: ratio >= F.lit(t), "flagged"
    )
    return per.agg(*aggs)


QUERIES["decontam_threshold_sweep"] = decontam_threshold_sweep

_DECONTAM_SWEEP_COLS = sweep_sql_columns(
    DECONTAM_SWEEP_TAUS,
    lambda t: (
        f"CAST(n_overlap AS DOUBLE) / CAST(n_shingles AS DOUBLE) >= {t}"
    ),
    "flagged",
)

ORACLES["decontam_threshold_sweep"] = f"""
    WITH per AS ({ORACLES["decontam_ngram_overlap"]})
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           {_DECONTAM_SWEEP_COLS}
    FROM per
"""


def decontam_by_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination incidence per train/val/test split — the leakage
    report answering 'did benchmark-overlapping documents land in
    train?'. Composes the decontam verdict with the shared hash-split
    rule (hash_split_col); output is 3x2 cells at most."""
    per = decontam_ngram_overlap(spark, sf_dir)
    return (
        per.select(
            hash_split_col(F.col("doc_id")).alias("split"),
            "contaminated",
        )
        .groupBy("split", "contaminated")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


def pack_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard packing efficiency: bins produced, tokens packed, and
    utilization vs bin capacity — the batch-construction metric that
    decides whether PACK_CAPACITY/PACK_SHARDS need retuning. The
    count(DISTINCT bin_id) is genuine (bins repeat across member rows);
    everything else is a partial-agg sum over the doc_pack_bins frame."""
    bins = doc_pack_bins(spark, sf_dir)
    return bins.groupBy("pack_shard").agg(
        F.countDistinct("bin_id").alias("n_bins"),
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.round(
            F.sum("n_tokens").cast("double")
            / (
                F.countDistinct("bin_id").cast("double")
                * float(PACK_CAPACITY)
            ),
            4,
        ).alias("utilization"),
    )


QUERIES["decontam_by_split"] = decontam_by_split
QUERIES["pack_efficiency_report"] = pack_efficiency_report

ORACLES["decontam_by_split"] = f"""
    WITH per AS ({ORACLES["decontam_ngram_overlap"]})
    SELECT {hash_split_sql("doc_id")} AS split,
           contaminated,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM per
    GROUP BY 1, 2
"""

ORACLES["pack_efficiency_report"] = f"""
    WITH bins AS ({ORACLES["doc_pack_bins"]})
    SELECT pack_shard,
           CAST(count(DISTINCT bin_id) AS BIGINT) AS n_bins,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(CAST(sum(n_tokens) AS DOUBLE)
                 / (CAST(count(DISTINCT bin_id) AS DOUBLE)
                    * {float(PACK_CAPACITY)!r}), 4) AS utilization
    FROM bins GROUP BY pack_shard
"""


def _decontam_fast_oracle() -> str:
    """Generated oracle for decontam_ngram_overlap_fast: the token-triple
    hash xxhash64(t1, t2, t3) is a seed-chained string hash (each token's
    hash seeds the next), recomputed in DuckDB level-by-level over
    DISTINCT prefixes — t1 (vocabulary-sized), (t1, t2) pairs, then full
    triples — so the expensive generated string hash runs once per
    distinct prefix and the chain seed is always a cheap column
    reference. Sizes/overlap/ratio arithmetic mirrors the certified
    decontam_ngram_overlap oracle, over per-doc DISTINCT hash sets
    (= Spark's array_distinct of the hash array)."""
    from dic_a1_spark.functions.xxh64_sql import (
        to_signed_sql,
        xxh64_str_sql_unsigned,
    )

    return f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS a FROM documents),
        pos AS (SELECT doc_id, a, generate_subscripts(a, 1) AS i FROM toks),
        tr AS MATERIALIZED (
            SELECT doc_id, a[i] AS t1, a[i+1] AS t2, a[i+2] AS t3
            FROM pos WHERE i + 2 <= len(a)
        ),
        t1h AS MATERIALIZED (
            SELECT t1, {xxh64_str_sql_unsigned('t1')} AS h1
            FROM (SELECT DISTINCT t1 FROM tr)
        ),
        t2h AS MATERIALIZED (
            SELECT d.t1, d.t2, {xxh64_str_sql_unsigned('t2', 'h1')} AS h2
            FROM (SELECT DISTINCT t1, t2 FROM tr) d JOIN t1h USING (t1)
        ),
        t3h AS MATERIALIZED (
            SELECT d.t1, d.t2, d.t3,
                   {to_signed_sql(xxh64_str_sql_unsigned('t3', 'h2'))} AS h
            FROM (SELECT DISTINCT t1, t2, t3 FROM tr) d
            JOIN t2h USING (t1, t2)
        ),
        dh AS MATERIALIZED (
            SELECT DISTINCT r.doc_id, h.h
            FROM tr r JOIN t3h h USING (t1, t2, t3)
        ),
        bench AS MATERIALIZED (
            SELECT DISTINCT h FROM dh WHERE doc_id < {BENCH_DOCS}
        ),
        per_doc AS (
            SELECT s.doc_id, count(*) AS n_shingles, count(b.h) AS n_overlap
            FROM dh s LEFT JOIN bench b ON s.h = b.h
            WHERE s.doc_id >= {BENCH_DOCS}
            GROUP BY s.doc_id
        )
        SELECT doc_id, n_shingles, n_overlap,
               round(CAST(n_overlap AS DOUBLE) / n_shingles, 4) AS overlap_ratio,
               (CAST(n_overlap AS DOUBLE) / n_shingles) >= {CONTAM_RATIO}
                   AS contaminated
        FROM per_doc
    """


ORACLES["decontam_ngram_overlap_fast"] = _decontam_fast_oracle()
