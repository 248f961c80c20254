"""Readers: schema'd scans for the driver's parquet tables and for
reviews-style line-delimited JSON.

Reference mapping (SURVEY.md §2.1):
  S1 JSON-lines scan      -> read_reviews_json (explicit StructType; Spark
                             pushes column pruning into the JSON parser)
  S2 malformed-line skip  -> PERMISSIVE mode + _corrupt_record filter, which
                             reproduces the bare ``except: return`` of
                             reference src/wordCountJob.py:70-72 while also
                             making the number of skipped rows observable
  S3 side-file distribution -> read_stopwords + broadcast anti-join (the
                             reference ships stopwords.txt via Hadoop
                             distributed cache, src/wordCountJob.py:22-25)
  S4 intermediate re-scan -> unnecessary: one DataFrame DAG spans both
                             reference jobs; load_table covers re-reads of
                             materialized parquet

Scale notes: ``spark.read.parquet`` scans are splittable and prune both
columns and row-groups; at 100 TB the same call works unchanged — predicate
pushdown and partition pruning come from expressing filters declaratively
on the returned DataFrame, not from anything this module does. The schema
memo of ``load_table`` stats local files; on an object store it would key
on the catalog's table version instead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from dic_a1_spark.config import TABLES

# Amazon-review record shape (FIXTURES.md §1). Only ``category`` and
# ``reviewText`` feed the pipeline; the rest is carried metadata the
# reference ignores (reference src/wordCountJob.py:63-64). Declaring the
# full schema up front lets Catalyst prune unread fields out of the JSON
# parser entirely.
REVIEW_SCHEMA = StructType(
    [
        StructField("category", StringType()),
        StructField("reviewText", StringType()),
        StructField("reviewerID", StringType()),
        StructField("asin", StringType()),
        StructField("reviewerName", StringType()),
        StructField("helpful", ArrayType(IntegerType())),
        StructField("overall", DoubleType()),
        StructField("summary", StringType()),
        StructField("unixReviewTime", LongType()),
        StructField("reviewTime", StringType()),
        StructField("_corrupt_record", StringType()),
    ]
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver parquet table (TESTDATA.md).

    The ``events`` fixtures (and the benchmark's generated tables) store
    ``ts`` as ``timestamp[us]``, which Spark reads as is. An ``events``
    file that stores TIMESTAMP(NANOS) instead would be rejected outright
    (PARQUET_TYPE_ILLEGAL), so nanos are read as raw int64 (legacy conf,
    runtime-settable) and converted to microsecond TIMESTAMP_NTZ via
    integer division — same truncation DuckDB applies when coercing
    ns->us, so oracle comparisons line up exactly.

    Each table's schema is inferred once per process (one Spark job that
    reads the footers) and memoized; later calls read through
    ``spark.read.schema(memo).parquet(path)``, which starts no job. The
    memo key is the file's identity (``_file_identity``: absolute path,
    inode, size and ``mtime_ns``, of every file under a directory too)
    plus every ``*parquet*`` SQL conf currently set (``inferTimestampNTZ``,
    ``nanosAsLong``, ``binaryAsString``, ...), so a rewritten file or a
    flipped conf gets a fresh inference. Every call still returns a new
    relation with fresh attribute ids, so self-joins behave as before.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
            )
        return df
    return _read_parquet(spark, path)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    # The set confs as one string ("key -> value" lines): one py4j call,
    # where spark.conf.getAll pays a round trip per entry (~20 ms).
    confs = spark.conf._jconf.getAll().mkString("\n").split("\n")
    key = (_file_identity(path), tuple(sorted(c for c in confs if "parquet" in c)))
    schema = _SCHEMA_MEMO.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_MEMO[key] = df.schema
    return df


def _file_identity(path: str) -> tuple:
    """(absolute path, inode, size, mtime_ns) of ``path`` and, for a
    directory (a table Spark wrote), of every file under it: a rewrite at
    the same path changes at least one of them."""
    path = os.path.abspath(path)
    paths = [path]
    if os.path.isdir(path):
        paths += sorted(
            os.path.join(root, f) for root, _, files in os.walk(path) for f in files
        )
    out = []
    for p in paths:
        st = os.stat(p)
        out.append((p, st.st_ino, st.st_size, st.st_mtime_ns))
    return tuple(out)


def table_rowcount(sf_dir: str, name: str) -> int:
    """Exact row count from parquet FOOTER METADATA — no corpus scan.

    Several operators size a driver-bounded structure (an IVF codebook)
    from the corpus cardinality; running ``df.count()`` for that adds a
    full (column-pruned) corpus action per invocation. Parquet footers
    carry the exact ``num_rows``, so this is a metadata-only read —
    the same number DuckDB's metadata-only ``count(*)`` sees, byte-equal
    to ``load_table(...).count()``. Cached per file identity (as
    ``load_table``'s schema memo), so a table rewritten at the same path
    is counted again. At 100 TB the equivalent is catalog/table
    statistics (or a cached count in the pipeline's control plane) —
    either way, not a per-invocation scan.
    """
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    key = _file_identity(path)
    cached = _ROWCOUNT_CACHE.get(key)
    if cached is not None:
        return cached
    files = [p for p, *_ in key[1:] if p.endswith(".parquet")] if os.path.isdir(path) else [path]
    n = sum(pq.read_metadata(f).num_rows for f in files)
    _ROWCOUNT_CACHE[key] = n
    return n


_SCHEMA_MEMO: dict[tuple, StructType] = {}
_ROWCOUNT_CACHE: dict[tuple, int] = {}


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Scan all driver tables; also registers each as a temp view so the
    SQL surface (``spark.sql``) sees the same catalog the oracle does."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def read_reviews_json(
    spark: SparkSession, path: str, keep_corrupt: bool = False
) -> DataFrame:
    """Read reviews-style line-delimited JSON with the reference's
    tolerance semantics: malformed lines are dropped, not failed.

    Matches reference src/wordCountJob.py:54-72 — ``json.loads`` with a
    bare ``except: return`` — but as a PERMISSIVE scan whose corrupt rows
    are filterable (and therefore countable, which the reference can't do).
    Defaults are applied exactly as the reference does:
    ``category -> 'Unknown'``, ``reviewText -> ''``.
    """
    # text + from_json rather than spark.read.json: Spark forbids plans
    # that reference only the scan-level _corrupt_record pseudo-column
    # (QUERY_ONLY_CORRUPT_RECORD_COLUMN), which our counters aggregate
    # (a bare count over valid rows) would trigger. As a from_json struct
    # field the corrupt marker is an ordinary column with no restrictions,
    # and the skip semantics are identical.
    raw = spark.read.text(path)
    parsed = raw.select(
        F.from_json(
            "value",
            REVIEW_SCHEMA,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("r"),
        F.col("value"),
    )
    if keep_corrupt:
        return parsed.select("r.*", "value")
    return (
        parsed.where(F.col("r").isNotNull() & F.col("r._corrupt_record").isNull())
        .select("r.*")
        .drop("_corrupt_record")
        .withColumn("category", F.coalesce(F.col("category"), F.lit("Unknown")))
        .withColumn("reviewText", F.coalesce(F.col("reviewText"), F.lit("")))
    )


def write_read_format(
    df: DataFrame, path: str, fmt: str, schema: StructType | None = None
) -> DataFrame:
    """Round-trip helper covering the engine's source/sink format breadth:
    parquet, orc, csv (header + explicit schema on read — never inference
    at scale), and json. Columnar formats keep pushdown and pruning; the
    text formats exist for interchange and always need the schema supplied
    (tests/test_formats.py asserts value-identical round-trips)."""
    spark = df.sparkSession
    writer = df.write.mode("overwrite").format(fmt)
    if fmt == "csv":
        writer = writer.option("header", "true")
    writer.save(path)
    reader = spark.read.format(fmt)
    if fmt == "csv":
        reader = reader.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def read_stopwords(spark: SparkSession, path: str) -> DataFrame:
    """Read a stopwords side file (one word per line; duplicate lines are
    harmless — they collapse in the distinct). Reference loads this into a
    per-mapper set (src/wordCountJob.py:41-48); here it becomes a tiny
    DataFrame used as the build side of a broadcast anti-join."""
    return (
        spark.read.text(path)
        .select(F.trim(F.col("value")).alias("stopword"))
        .where(F.col("stopword") != "")
        .distinct()
    )
