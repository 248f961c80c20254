"""SparkSession factory.

One place to encode the scale-minded defaults every entry point shares:

- **AQE on** (``spark.sql.adaptive.enabled``): runtime coalescing of shuffle
  partitions, skew-join splitting, and runtime broadcast conversion. At
  100 TB this is what turns a static 32-partition plan into a sane one.
- **Shuffle partitions**: default 32 to match the local[32] test harness;
  on a real cluster you'd raise this (or rely on AQE's coalescing from a
  high initial number). Overridable via ``SPARK_GRAFT_SHUFFLE_PARTITIONS``.
- **Session timezone UTC**: the testdata parquet stores naive timestamps;
  pinning UTC makes Spark's TIMESTAMP semantics line up with DuckDB's
  (the correctness oracle) and removes host-tz nondeterminism.
- **Arrow enabled**: every pandas-UDF path (multimodal decode, vector ops
  fallbacks) gets Arrow batch transfer instead of pickled rows.
- **Package root on the Python workers' ``PYTHONPATH``**: pandas UDFs and
  ``mapInPandas`` closures reference module-level kernels, which the
  workers import by name; a worker started from another directory could
  not find ``dic_a1_spark`` otherwise.
- **Codegen cache of 4,096 classes, stage ids out of class names**
  (``spark.sql.codegen.cache.maxEntries``, a static conf, so it is set
  here, where every entry point builds its session; Spark's default is
  100). One pass over all 241 registered queries at sf0.01 compiles 2,221
  classes and a second pass 20 more (``CodegenMetrics`` compile count,
  unbounded cache); the seven ``query_mix`` queries alone compile 111.
  Below the working set the LRU cache evicts each class before a loop
  comes back to it, so a warm session recompiled every query it
  repeated. With ``spark.sql.codegen.useIdInClassName`` on (the default)
  a whole-stage class is named after its codegen stage id, which follows
  the order AQE materializes query stages in; a rerun that finishes its
  stages in another order compiled the same code again (``chisq_top75``:
  4 classes on its second run, 2,743 vs 2,221 classes over the registry).
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

#: Directory holding the ``dic_a1_spark`` package.
PACKAGE_ROOT = str(Path(__file__).resolve().parent.parent)

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    app_name: str = "dic_a1_spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster
    master is configured; on a real deployment pass ``master=None`` and let
    spark-submit supply it.
    """
    # The local JVM inherits this environment when it starts, and hands
    # PYTHONPATH on to every Python worker it launches.
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if PACKAGE_ROOT not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([PACKAGE_ROOT, *filter(None, paths)])
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
        # The testdata parquet stores naive (unadjusted) timestamps; read
        # them as NTZ so semantics match DuckDB's TIMESTAMP exactly.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Managed-table location for bucketed tables (sources.sinks): keep
        # it out of the repo/cwd; override for real deployments.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/dic_a1_spark-warehouse"),
        )
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{DEFAULT_CPUS}]")
    return builder.getOrCreate()
