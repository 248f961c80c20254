"""A warm session does not redo its preparation: generated classes stay in
Spark's codegen cache across passes, each parquet table's schema is
inferred once, and both memos (schema and footer row count) notice a table
rewritten at the same path."""

from __future__ import annotations

import datetime
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from dic_a1_spark.sources.readers import load_table, table_rowcount
from tests.conftest import SF_CORRECT

# The seven queries of the benchmark's query_mix workload.
QUERY_MIX = (
    "chisq_top75",
    "chisq_doc_frequency",
    "q3_shipping_priority",
    "q21_sole_late_supplier",
    "window_running_total",
    "events_session_windows",
    "dedup_exact_groups",
)


def _compiles(spark) -> int:
    """Classes compiled so far in this JVM (a private Spark API: a Spark
    upgrade that moves it fails here)."""
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _jobs_started(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"warm-session-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_second_query_mix_pass_compiles_nothing(spark):
    from dic_a1_spark.registry import all_queries

    qs = all_queries()
    per_pass = []
    for _ in range(2):
        before = _compiles(spark)
        for name in QUERY_MIX:
            spark.catalog.clearCache()
            qs[name](spark, SF_CORRECT).collect()
        per_pass.append(_compiles(spark) - before)
    assert per_pass[1] == 0, per_pass


def test_second_load_of_unchanged_table_starts_no_job(spark, tmp_path):
    pq.write_table(pa.table({"a": [1, 2, 3]}), tmp_path / "t.parquet")
    assert _jobs_started(spark, lambda: load_table(spark, str(tmp_path), "t")) >= 1
    assert _jobs_started(spark, lambda: load_table(spark, str(tmp_path), "t")) == 0
    # A fresh relation per call: a self-join still resolves both sides.
    a, b = load_table(spark, str(tmp_path), "t"), load_table(spark, str(tmp_path), "t")
    assert a.join(b, a["a"] == b["a"]).count() == 3


def test_same_path_rewrite_is_inferred_again(spark, tmp_path):
    pq.write_table(pa.table({"a": [1, 2, 3]}), tmp_path / "t.parquet")
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), tmp_path / "t.parquet")
    df = load_table(spark, str(tmp_path), "t")
    assert df.dtypes == [("b", "string"), ("c", "double")]
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]


def test_flipped_parquet_conf_is_inferred_again(spark, tmp_path):
    naive = pa.array([datetime.datetime(2024, 1, 1, 0, 0, 7)], pa.timestamp("us"))
    pq.write_table(pa.table({"ts": naive}), tmp_path / "t.parquet")
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    assert spark.conf.get(key) == "true"
    assert load_table(spark, str(tmp_path), "t").dtypes == [("ts", "timestamp_ntz")]
    spark.conf.set(key, "false")
    try:
        assert load_table(spark, str(tmp_path), "t").dtypes == [("ts", "timestamp")]
    finally:
        spark.conf.set(key, "true")
    assert load_table(spark, str(tmp_path), "t").dtypes == [("ts", "timestamp_ntz")]


def test_nanos_events_ts_is_microsecond_ntz_on_a_memo_hit(spark, tmp_path):
    """An events table stored as TIMESTAMP(NANOS) still reads as
    microsecond timestamp_ntz (truncated) when its schema comes from the
    memo."""
    ns = [1_704_067_207_179_575_999, 1_704_067_207_179_576_001]
    events = pa.table({"event_id": [1, 2], "ts": pa.array(ns, pa.timestamp("ns"))})
    pq.write_table(events, tmp_path / "events.parquet")
    load_table(spark, str(tmp_path), "events")
    assert _jobs_started(spark, lambda: load_table(spark, str(tmp_path), "events")) == 0
    df = load_table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    got = df.orderBy("event_id").selectExpr("unix_micros(cast(ts as timestamp))").collect()
    assert [r[0] for r in got] == [n // 1000 for n in ns]
    assert dict(load_table(spark, SF_CORRECT, "events").dtypes)["ts"] == "timestamp_ntz"


def test_rowcount_follows_a_same_path_rewrite(tmp_path):
    pq.write_table(pa.table({"a": [1, 2, 3]}), tmp_path / "t.parquet")
    assert table_rowcount(str(tmp_path), "t") == 3
    pq.write_table(pa.table({"a": list(range(5))}), tmp_path / "t.parquet")
    assert table_rowcount(str(tmp_path), "t") == 5
