"""Structured Streaming surface over the events stream.

The reference is batch-only (SURVEY.md §2.8); this is the engine's
streaming veneer: readStream -> event-time transformations -> writeStream,
with watermarks for late data, windowed/session aggregations, streaming
dedup, and a custom stateful operator via applyInPandasWithState.

Batch/stream parity: the aggregations REUSE the same groupings as
operators/events.py, so the DuckDB-oracle-checked batch results are the
ground truth for the streaming results (asserted in tests/test_streaming.py
by running the stream with trigger availableNow over the same files).

Scale notes: state stores are keyed by (window/session, key) — watermarks
bound state growth; availableNow backfills replay history with the same
query that serves the live stream.

API note: Spark 4's transformWithStateInPandas (StatefulProcessor +
ValueState/ListState/timers) is the successor to applyInPandasWithState
for custom state. It is deliberately NOT used here: its Python driver
worker imports google.protobuf, which this environment lacks (verified:
the query starts and the runner dies with STREAMING_PYTHON_RUNNER_
INITIALIZATION_FAILURE / ImportError google.protobuf.descriptor), and
installs are out of scope. applyInPandasWithState carries the custom-
stateful surface; porting a processor to TWS is mechanical (init gets a
handle, per-key state objects replace the GroupState tuple).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

def _events_schema(ts_type) -> StructType:
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def _events_ts_is_nanos(sf_dir: str) -> bool:
    """Probe the parquet footer once (driver-side) for the on-disk ts
    encoding. TIMESTAMP(NANOS) is only readable by Spark as raw int64 via
    the legacy conf; micro/millisecond timestamps read natively. The batch
    reader (sources/readers.py:load_table) branches on the resulting
    DataFrame dtype; the stream source pins its schema up front, so the
    equivalent adaptivity has to come from the file metadata."""
    import os

    import pyarrow.parquet as pq
    import pyarrow.types as pat

    t = pq.read_schema(os.path.join(sf_dir, "events.parquet")).field("ts").type
    return pat.is_timestamp(t) and t.unit == "ns"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (one file per sf dir;
    in production this is a directory the ingest keeps appending to, or a
    Kafka source — the downstream query is identical).

    The ts conversion mirrors the batch reader exactly (asserted by
    tests/test_streaming.py parity tests): nanos-encoded files are read as
    int64 and truncated to microseconds; micro/millis files are read
    directly with no arithmetic. One divergence from batch is forced by
    Spark: watermarks reject TIMESTAMP_NTZ (EVENT_TIME_IS_NOT_ON_TIMESTAMP
    _TYPE), so the stream reads TIMESTAMP — with the session timezone
    pinned to UTC (session.py) the wall-clock values, window boundaries,
    and date_format strings are identical to the batch NTZ results."""
    # The file stream source requires a DIRECTORY; scope it to the events
    # table with pathGlobFilter rather than pointing at the file.
    if _events_ts_is_nanos(sf_dir):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = (
            spark.readStream.schema(_events_schema(LongType()))
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        return raw.withColumn(
            "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp)")
        )
    return (
        spark.readStream.schema(_events_schema(TimestampType()))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def tumbling_counts(stream: DataFrame) -> DataFrame:
    """1-hour tumbling windows per type with a 2-hour watermark — the
    streaming twin of operators.events.events_tumbling_hour."""
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_counts(stream: DataFrame) -> DataFrame:
    """Per-user session windows (10 min gap) — streaming twin of
    operators.events.events_session_windows."""
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )


def dedup_within_watermark(stream: DataFrame) -> DataFrame:
    """Streaming dedup: first event per (user_id, event_type) with state
    expiry driven by the watermark."""
    return stream.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("max_value", DoubleType())]
)
_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("max_value", DoubleType()),
    ]
)


def running_user_stats(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running event count and max value, state carried across micro-batches.
    This is the escape hatch for semantics F.window can't express."""

    def update(key, pdfs: Iterator["pd.DataFrame"], state: GroupState):  # noqa: F821
        import pandas as pd

        (user_id,) = key
        n, mx = state.get if state.exists else (0, None)
        # Checkpoint-compat normalization (ADVICE r10): the pre-r10 code
        # seeded max_value with -inf instead of None. All streams here
        # are test replays with fresh checkpoints, but a checkpoint
        # written by the old code would carry -inf state that the
        # None-guard below never replaces — normalize it on read so the
        # sentinel cannot be emitted forever for all-NULL users.
        if mx == float("-inf"):
            mx = None
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                # NULL values arrive as NaN; pandas max skips them but
                # returns NaN for an ALL-NULL batch, and a -inf seed
                # would leak into the output where the batch twin's
                # max(value) is NULL (r10 hostile-corpus find) — so the
                # max is None until the first real value.
                vmax = pdf["value"].max()
                if pd.notna(vmax):
                    mx = float(vmax) if mx is None else max(mx, float(vmax))
        state.update((n, mx))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "max_value": [mx]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def clicks_before_purchases(stream: DataFrame) -> DataFrame:
    """Stream-stream interval self-join: purchases matched to the same
    user's clicks from the preceding 30 minutes.

    Both sides are filtered branches of one source stream, each with its
    own watermark; the event-time range condition lets Spark expire join
    state (a click older than purchase-watermark - 30 min can never match
    again). This is the streaming twin of the batch bucketized range join
    (operators.events.events_range_join_error_clicks' shape) — asserted
    equal to a static join in tests/test_streaming.py."""
    clicks = (
        stream.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    return purchases.join(
        clicks,
        F.expr(
            """
            c_user_id = user_id AND
            click_ts < purchase_ts AND
            click_ts >= purchase_ts - INTERVAL 30 MINUTES
            """
        ),
        "inner",
    ).select("purchase_id", "user_id", "purchase_ts", "click_id", "click_ts")


def run_to_files(
    result: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    output_mode: str = "append",
) -> None:
    """Drain the stream to parquet files with a checkpoint — the
    production sink shape. The checkpoint records source offsets and sink
    commits, so a restart resumes exactly where the last run stopped and
    never re-emits processed data (exactly-once for file sinks; asserted
    by the restart test in tests/test_streaming.py)."""
    q = (
        result.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_to_memory(
    result: DataFrame, table_name: str, output_mode: str = "complete"
) -> None:
    """Drain the stream into an in-memory sink with trigger availableNow
    (process-everything-then-stop) — the backfill/test execution mode."""
    q = (
        result.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


_FUNNEL_STATE_SCHEMA = StructType(
    [
        StructField("t1_us", LongType()),
        StructField("t2_us", LongType()),
        StructField("t3_us", LongType()),
    ]
)
_FUNNEL_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("view_ts", StringType()),
        StructField("click_ts", StringType()),
        StructField("purchase_ts", StringType()),
        StructField("funnel_depth", LongType()),
    ]
)

_FUNNEL_DEADLINE_US = 24 * 3600 * 1_000_000


def funnel_depths(stream: DataFrame) -> DataFrame:
    """Streaming twin of operators.events.events_funnel_depth: per-user
    ordered view->click->purchase funnel with 24 h step deadlines, state
    carried across micro-batches via applyInPandasWithState.

    The state is just the three step timestamps (micros) — the funnel
    state machine advances monotonically under per-user event-time order
    (the standard Kafka-partitioned-by-user delivery; within each batch
    events are sorted by ts before applying transitions). Late events
    older than an already-taken step cannot rewind it — same stance as
    every watermark-bounded operator here: bounded state wins over
    unbounded-history reprocessing.

    ORDERING REQUIREMENT: events are sorted by ts only WITHIN each
    micro-batch; the state machine cannot rewind across batches. Exact
    parity with the batch events_funnel_depth therefore requires the
    source to deliver each user's events in event-time order across
    batch boundaries (Kafka partitioned by user_id with in-order
    producers, or a single-batch availableNow replay — what
    tests/test_streaming.py uses). A replay that splits a user's
    history across micro-batches out of event-time order may take a
    different (still monotone) path; run with a ts-ordered source when
    batch parity matters."""

    def update(key, pdfs: Iterator["pd.DataFrame"], state: GroupState):  # noqa: F821
        import pandas as pd

        (user_id,) = key
        t1, t2, t3 = state.get if state.exists else (None, None, None)
        frames = [pdf for pdf in pdfs if len(pdf)]
        if frames:
            ev = pd.concat(frames).sort_values("ts")
            ts_us = ev["ts"].astype("int64") // 1000  # ns -> us
            for typ, us in zip(ev["event_type"].to_numpy(), ts_us.to_numpy()):
                us = int(us)
                if t1 is None:
                    if typ == "view":
                        t1 = us
                elif t2 is None:
                    if typ == "click" and t1 < us <= t1 + _FUNNEL_DEADLINE_US:
                        t2 = us
                elif t3 is None:
                    if typ == "purchase" and t2 < us <= t2 + _FUNNEL_DEADLINE_US:
                        t3 = us
        state.update((t1, t2, t3))

        def fmt(us):
            if us is None:
                return None
            return pd.Timestamp(us * 1000).strftime("%Y-%m-%d %H:%M:%S")

        depth = 3 if t3 is not None else 2 if t2 is not None else 1 if t1 is not None else 0
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "view_ts": [fmt(t1)],
                "click_ts": [fmt(t2)],
                "purchase_ts": [fmt(t3)],
                "funnel_depth": [depth],
            }
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_FUNNEL_OUT_SCHEMA,
        stateStructType=_FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming incremental dedup (stream-static join + streaming dedup)
# ---------------------------------------------------------------------------

_DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the FULL documents parquet — the
    streaming stand-in for continuous corpus delivery (the increment
    reader below restricts to a residue class for the admission twin)."""
    return (
        spark.readStream.schema(_DOCS_SCHEMA)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def line_instance_census(stream: DataFrame) -> DataFrame:
    """Streaming twin of linededup's duplicate-line census: synthetic
    lines are a PURE MAP (the exact `_lines_of` expressions from the
    batch operator — tokenize, window count, slice — shared, not
    re-derived), so they stream unchanged; the census is a streaming
    aggregation keyed by line text.

    Scope: instance counts only (`n_inst`). The batch census' n_docs is
    count(DISTINCT doc_id), and distinct aggregations are unsupported on
    streams — a production pipeline runs the doc-level census on the
    compacted batch corpus and uses this stream for the hot-line
    monitoring signal. Batch parity of n_inst is pinned in
    tests/test_streaming.py."""
    from dic_a1_spark.operators.linededup import _lines_of

    return (
        _lines_of(stream.select("doc_id", "text"))
        .groupBy("line_text")
        .agg(F.count("*").alias("n_inst"))
    )


def cdc_chunk_census(stream: DataFrame) -> DataFrame:
    """Streaming twin of cdc.py's duplicate-chunk census: content-defined
    chunking is a PURE MAP (boundary detection, interval assembly, and
    chunk hashing all live in one projection's array domain — the exact
    `_chunks` expressions from the batch operator, shared, not
    re-derived), so it streams unchanged; the census is a streaming
    aggregation keyed by chunk_hash. This is the online form of
    content-addressed corpus storage: as crawl files arrive, the census
    tells the writer which chunks it already holds.

    Scope: instance counts + chunk length (`n_inst`, `n_tokens`). The
    batch census' cross_doc flag needs min/max doc_id — expressible on
    streams, but kept batch-side to match the report the pipeline
    publishes; parity of the streamed columns is pinned in
    tests/test_streaming.py."""
    from dic_a1_spark.operators.cdc import _chunks

    return (
        _chunks(stream.select("doc_id", "text"))
        .groupBy("chunk_hash")
        .agg(
            F.max("n_tokens").alias("n_tokens"),
            F.count("*").alias("n_inst"),
        )
    )


def dsir_stream_scores(
    stream: DataFrame, spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming DSIR scoring — online data selection: documents arrive
    on a stream and are importance-scored against a PRECOMPUTED corpus
    weight table, completely STATELESS (no streaming aggregation at
    all). The bucket census is constant-bounded (<= DSIR_BUCKETS rows,
    a documented collect like the IVF codebooks) and rendered as a
    literal weight map; per-document scoring is then a pure-map fold
    over the feature
    array — each micro-batch scores at scan speed and the operator
    needs no watermark, no state store, no output-mode constraints.

    Buckets the batch census never observed (possible for genuinely new
    stream text, impossible when replaying the corpus) fall back to the
    smoothed empty-bucket weight (t=c=0 under add-one smoothing).
    Batch parity vs dsir_logratio_weights is pinned in
    tests/test_streaming.py."""
    from dic_a1_spark.operators.dsir import (
        DSIR_BUCKETS,
        _features,
        feats_array_expr,
        weight_py,
    )
    from dic_a1_spark.functions.text import tokens_nonempty

    # ONE corpus scan: the <= DSIR_BUCKETS-row census is collected and
    # both the weight map and the smoothed totals (hence the unseen-
    # bucket default) are derived driver-side via the shared weight_py.
    census = (
        _features(spark, sf_dir)
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("t"),
            F.sum(F.when(F.col("is_target"), 0).otherwise(1)).alias("c"),
        )
        .collect()
    )
    t1_tot = sum(r["t"] for r in census) + DSIR_BUCKETS
    c1_tot = sum(r["c"] for r in census) + DSIR_BUCKETS
    default_w = weight_py(1, 1, t1_tot, c1_tot)
    if census:
        wmap = F.create_map(
            [
                F.lit(x)
                for r in census
                for x in (r["b"], weight_py(r["t"] + 1, r["c"] + 1, t1_tot, c1_tot))
            ]
        )
    else:
        # Empty corpus census (all-NULL / token-free corpus): a bare
        # map() literal is VOID-typed and the bucket lookup would fail
        # ANALYSIS (the bm25_stream map() class, r10 hostile sweep).
        # A typed empty map keeps the plan sound; every lookup misses
        # and falls back to the smoothed empty-bucket default — the
        # correct score when the weights were fit on nothing.
        wmap = F.expr("CAST(map() AS MAP<BIGINT, BIGINT>)")
    scored = (
        stream.select(
            "doc_id",
            tokens_nonempty(F.col("text")).alias("toks"),
        )
        .where(F.size("toks") >= 1)
        .select("doc_id", feats_array_expr().alias("fs"))
        .select(
            "doc_id",
            F.size("fs").cast("long").alias("n_feats"),
            F.aggregate(
                F.col("fs"),
                F.lit(0).cast("long"),
                lambda acc, f: acc
                + F.coalesce(
                    wmap[F.pmod(F.xxhash64(f), F.lit(DSIR_BUCKETS))],
                    F.lit(int(default_w)),
                ),
            ).alias("score_fp"),
        )
    )
    return scored.select(
        "doc_id",
        "n_feats",
        "score_fp",
        F.round(
            F.col("score_fp").cast("double") / F.col("n_feats").cast("double"),
            4,
        ).alias("avg_fp"),
    )


def read_increment_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet, restricted to the
    increment residue class of operators/incremental.py — the streaming
    stand-in for a crawl delivery directory that keeps receiving files."""
    from dic_a1_spark.operators.incremental import INC_MOD, INC_REM

    return read_documents_stream(spark, sf_dir).where(
        F.col("doc_id") % INC_MOD == INC_REM
    )


_ADMIT_STATE_SCHEMA = StructType(
    [
        StructField("min_doc_id", LongType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)
_ADMIT_OUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("content_hash", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def incremental_admission(stream: DataFrame, spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of operators.incremental.dedup_incremental_keep:
    documents arrive as a stream, the standing corpus is a STATIC frame,
    and admission = (not content-identical to any corpus doc) AND
    (min-doc_id representative of each content hash within the stream).

    Spark surfaces exercised: stream-static LEFT ANTI join (stateless —
    the static side is re-planned per micro-batch, so a growing corpus
    snapshot is picked up on restart) and a custom stateful min-tracker
    via applyInPandasWithState keyed by content hash.

    The representative is the MIN doc_id, held in state and re-emitted
    (update mode) whenever a smaller one arrives — NOT first-arrival
    dropDuplicates, which keys the survivor to partition interleaving
    (two duplicate docs in different input splits can reach the dedup
    state higher-id-first) and so cannot promise batch parity. The min
    is order-free: the final state equals the batch query's
    row_number-over-doc_id representative under ANY delivery order or
    split layout; consumers take the last update per hash.

    State bound: one row per distinct admitted hash — increment-sized
    for a bounded backfill; a perpetual ingest bounds it with a state
    TTL / watermark horizon, accepting re-admission beyond it (the
    corpus anti-join still catches anything the previous COMPACTED
    corpus absorbed)."""
    from dic_a1_spark.operators.incremental import _hashed, content_key

    corpus_hashes = (
        _hashed(spark, sf_dir)
        .where(~F.col("is_inc"))
        .select("content_hash")
        .distinct()
    )
    fresh = stream.withColumn("content_hash", content_key()).join(
        corpus_hashes, "content_hash", "left_anti"
    )

    def update(key, pdfs: Iterator["pd.DataFrame"], state: GroupState):  # noqa: F821
        import pandas as pd

        (content_hash,) = key
        best = tuple(state.get) if state.exists else None
        for pdf in pdfs:
            if not len(pdf):
                continue
            row = pdf.loc[pdf["doc_id"].idxmin()]
            if best is None or int(row["doc_id"]) < best[0]:
                best = (
                    int(row["doc_id"]),
                    row["lang"],
                    row["source"],
                    int(row["n_chars"]),
                )
        state.update(best)
        yield pd.DataFrame(
            {
                "doc_id": [best[0]],
                "content_hash": [content_hash],
                "lang": [best[1]],
                "source": [best[2]],
                "n_chars": [best[3]],
            }
        )

    return fresh.groupBy("content_hash").applyInPandasWithState(
        update,
        outputStructType=_ADMIT_OUT_SCHEMA,
        stateStructType=_ADMIT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def bm25_stream_scores(
    stream: DataFrame, spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of the BM25 scorer (operators/bm25.py): documents
    arrive as a stream and are scored STATELESSLY against query-term
    statistics fit on the standing corpus — the dsir_stream_scores
    shape: the |Q|-row (term, idf) table plus avgdl are collected once
    batch-side and embedded as literals, so each micro-batch scores at
    scan speed with no state store or watermark.

    The contribution expression is the literal-substituted form of
    bm25._contrib (idf and avgdl become constants), and the per-doc sum
    is the same sorted sequential fold — batch parity is exact-double,
    pinned in tests/test_streaming.py. Lambda hygiene: the hit
    extraction and the contribution transform are DISTINCT lambdas, so
    both are SQL-text exprs (the PySpark 4.1 cross-wiring pitfall,
    SCALING.md)."""
    from dic_a1_spark.functions.text import tokens_nonempty
    from dic_a1_spark.operators.bm25 import (
        BM25_B,
        BM25_K1,
        BM25_QUERY,
        _pipeline,
    )
    from dic_a1_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    stats_df, tstats_df, _ = _pipeline(docs, BM25_QUERY)
    avgdl = stats_df.collect()[0]["avgdl"]
    idf = {r["term"]: r["idf_w"] for r in tstats_df.collect()}
    # Degenerate-corpus guards (r10 hostile sweep): a corpus where NO
    # query term occurs yields an EMPTY idf table — and a bare `map()`
    # literal is VOID-typed, so the lookup would fail analysis and kill
    # the stream at plan time. An unknown term's idf is NULL either way
    # (the partial-idf contract below), so substitute a typed NULL. An
    # empty/all-NULL corpus likewise has no avgdl; any finite stand-in
    # works because every doc's hit set is empty (0 output rows).
    qlit = ", ".join(f"'{t}'" for t in BM25_QUERY)
    if idf:
        map_lit = ", ".join(
            f"'{t}', CAST({w} AS BIGINT)" for t, w in sorted(idf.items())
        )
        idf_expr = f"CAST(map({map_lit})[h.term] AS DOUBLE)"
    else:
        idf_expr = "CAST(NULL AS DOUBLE)"
    if avgdl is None:
        avgdl = 1.0
    hits_expr = (
        f"filter(transform(array({qlit}),"
        f" t -> struct(t AS term, CAST(size(filter(toks, w -> w = t))"
        f" AS BIGINT) AS tf)), s -> s.tf > 0)"
    )
    # Literal-substituted bm25._contrib: idf -> map lookup, avgdl ->
    # the collected double (repr round-trips exactly).
    contrib_expr = (
        f"transform(hits, h -> {idf_expr}"
        f" * (CAST(h.tf AS DOUBLE) * {BM25_K1 + 1.0!r})"
        f" / (CAST(h.tf AS DOUBLE) + {BM25_K1!r} * ({1.0 - BM25_B!r}"
        f" + {BM25_B!r} * CAST(dl AS DOUBLE) / {avgdl!r})))"
    )
    return (
        stream.select(
            "doc_id", tokens_nonempty(F.col("text")).alias("toks")
        )
        .select(
            "doc_id",
            F.size("toks").cast("bigint").alias("dl"),
            F.expr(hits_expr).alias("hits"),
        )
        .where(F.size("hits") > 0)
        .select(
            "doc_id",
            "dl",
            F.size("hits").cast("bigint").alias("n_hit_terms"),
            F.expr(contrib_expr).alias("cs"),
        )
        .select(
            "doc_id",
            "dl",
            "n_hit_terms",
            F.aggregate(
                F.array_sort("cs"),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("score"),
        )
    )


def read_embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the embeddings parquet — the online
    ingestion twin of load_table(embeddings)."""
    from pyspark.sql.types import ArrayType, FloatType

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", LongType()),
        ]
    )
    # The file stream source requires a DIRECTORY; scope to the table
    # with pathGlobFilter (the read_events_stream convention).
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
        .select("vec_id", "embedding", "label")
    )


# Driver-collect bound for the streaming decontamination benchmark
# matrix: a production eval suite is thousands of vectors; 100k x
# 64-dim float64 is ~50 MB — comfortably driver-sized, loudly NOT
# corpus-sized.
_BENCH_COLLECT_CAP = 100_000


def embdecontam_stream_flags(
    stream: DataFrame, spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of embedding decontamination (operators/
    embdecontam.py): vectors arrive on a stream and are screened
    STATELESSLY against the held-out benchmark matrix — the
    dsir/bm25_stream shape for the ANN family. The benchmark slice is
    an eval suite (thousands of vectors at production scale), so it is
    a documented bounded collect like the IVF codebooks; each
    micro-batch then runs ONE fold cosine matrix against the broadcast
    benchmark (similarity._fold_cosine, the exact fold's IEEE
    sequence), no state store, no watermark.

    Contract difference vs the batch query, stated: the stream twin is
    EXACT (every incoming vector scored against every benchmark
    vector — bench-bounded work per row), while the registered batch
    query is IVF-blocked (recall < 1 by design). Parity is therefore
    pinned against the exact bipartite ground truth in
    tests/test_streaming.py: flags = any round(cos,4) >= threshold,
    best = (max sim, ties to lowest bench_id)."""
    import numpy as np
    import pandas as pd
    import pyspark.sql.types as T

    from dic_a1_spark.operators.embdecontam import (
        EMBDECONTAM_MOD,
        EMBDECONTAM_SIM,
    )
    from dic_a1_spark.operators.similarity import (
        _collect_side,
        _fold_cosine,
        _fold_dot,
        _round4_ge_boundary,
    )
    from dic_a1_spark.sources.readers import load_table

    # LOUD size guard on the bench collect (r8 VERDICT watch item #2):
    # the %MOD selector is corpus-proportional, so a misconfigured
    # benchmark slice must FAIL, not OOM the driver. limit(cap+1) bounds
    # what the driver ever materializes (strictly safer than an
    # executor-side assert_true, which would fire only after the rows
    # were already headed for the driver); the +1 row distinguishes
    # "exactly cap" from "over cap".
    bench = _collect_side(
        load_table(spark, sf_dir, "embeddings")
        .where((F.col("vec_id") % EMBDECONTAM_MOD) == 0)
        .select("vec_id", "embedding")
        .limit(_BENCH_COLLECT_CAP + 1)
    )
    if bench is None:
        # Empty benchmark slice (no vec_id in the residue class):
        # nothing can flag against an empty suite, so the semantically
        # correct twin is a map-only all-unflagged pass.
        return stream.where(
            (F.col("vec_id") % EMBDECONTAM_MOD) != 0
        ).select(
            "vec_id",
            F.lit(False).alias("flagged"),
            F.lit(0).cast("long").alias("n_hits"),
            F.lit(None).cast("long").alias("best_bench_id"),
            F.lit(None).cast("double").alias("best_sim_r"),
        )
    bids, B = bench  # ids ascending: best-hit ties break to the LOWEST id
    if len(bids) > _BENCH_COLLECT_CAP:
        raise ValueError(
            f"embdecontam_stream_flags: benchmark slice exceeds the "
            f"documented driver-collect bound ({_BENCH_COLLECT_CAP} "
            f"vectors) — an eval suite is thousands of items; a "
            f"corpus-sized slice means EMBDECONTAM_MOD is misconfigured "
            f"for this corpus"
        )
    bc = spark.sparkContext.broadcast((bids, B, np.sqrt(_fold_dot(B, B))))
    # exact decimal boundary for round(s,4) >= threshold
    floor = _round4_ge_boundary(EMBDECONTAM_SIM)

    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("flagged", T.BooleanType()),
            T.StructField("n_hits", T.LongType()),
            T.StructField("best_bench_id", T.LongType()),
            T.StructField("best_sim_r", T.DoubleType()),
        ]
    )

    def score_batches(batches):
        ids_b, b_mat, b_nrm = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            n = len(pdf)
            S = _fold_cosine(V, b_mat, b_nrm)
            hits = S >= floor  # NaN (zero norms) excluded, as in batch
            n_hits = hits.sum(axis=1).astype(np.int64)
            # best hit: max sim, ties to lowest bench id (ids ascending,
            # stable argmax picks the first == lowest id)
            masked = np.where(hits, S, -np.inf)
            best_j = np.argmax(masked, axis=1)
            flagged = n_hits > 0
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "flagged": flagged,
                    "n_hits": n_hits,
                    "best_bench_id": np.where(
                        flagged, ids_b[best_j], -1
                    ).astype(np.int64),
                    "best_sim_r": np.where(
                        flagged, S[np.arange(n), best_j], np.nan
                    ),
                }
            )

    scored = stream.where(
        (F.col("vec_id") % EMBDECONTAM_MOD) != 0
    ).mapInPandas(score_batches, out_schema)
    return scored.select(
        "vec_id",
        "flagged",
        "n_hits",
        F.when(F.col("best_bench_id") >= 0, F.col("best_bench_id")).alias(
            "best_bench_id"
        ),
        F.round("best_sim_r", 4).alias("best_sim_r"),
    )
