"""The one query-timing path. bench.py, the CLI and every tool under
tools/ time their queries through `timed`, so what a number means is
stated here once: cold cache, warm JVM and Python workers, first
materialization, build included.
"""

from __future__ import annotations

import time


def warm_up(spark, build) -> None:
    """Charge one-time session costs to setup, not to the first timed
    query: one untimed build().count() (JVM class loading and codegen),
    then one pandas_udf identity pass (Python worker spawn, Arrow init)."""
    from pyspark.sql import functions as F

    build().count()
    spark.range(64).select(F.pandas_udf(lambda s: s, "long")(F.col("id"))).count()


def timed(spark, build):
    """(seconds, rows, df) for one query, seconds rounded to 3 dp.

    The cache is cleared first, so frames a query persists are paid inside
    its own run; eager localCheckpoint()s are not cache entries and
    survive. The timer spans `df = build()` as well as `df.count()`,
    because iterative operators run their rounds as jobs at build time."""
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    df = build()
    rows = df.count()
    return round(time.perf_counter() - t0, 3), rows, df


def amplified_table(spark, sf_dir: str, table: str, id_col: str, factor: int):
    """(n, df): `table` replicated `factor` times, `id_col` offset by
    n * 10 per replica so ids stay distinct. Texts repeat, so every row
    has `factor` exact copies: dedup is stressed, not flattered."""
    from pyspark.sql import functions as F

    from dic_a1_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, table)
    n = d.count()
    return n, (
        d.crossJoin(F.broadcast(spark.range(factor).withColumnRenamed("id", "rep")))
        .withColumn(id_col, F.col(id_col) + F.col("rep") * F.lit(n * 10))
        .drop("rep")
    )
