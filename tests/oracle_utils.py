"""Local replica of the driver's correctness gate: run a registered Spark
query and its DuckDB oracle SQL side-by-side on the same parquet tables and
compare row count, column names, and order-insensitive values."""

from __future__ import annotations

import math
import os

import duckdb

from dic_a1_spark.config import TABLES


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(r[i]) for i in idx) for r in rows),
        key=repr,
    )


# DuckDB types with no Spark SQL equivalent. The driver's value-hash is
# type-sensitive, so an oracle column of e.g. HUGEINT (what DuckDB returns
# for sum() over INTEGER, incl. sum(CASE WHEN .. THEN 1 END)) hash-mismatches
# a Spark BIGINT even when every value is identical — exactly how
# q12_late_lines_by_status went red in round 3. Python-int normalization in
# _norm() cannot see this, so we gate on the declared relation types.
_HAZARD_DUCK_TYPES = {
    "HUGEINT",
    "UHUGEINT",
    "UBIGINT",
    "UINTEGER",
    "USMALLINT",
    "UTINYINT",
}


def assert_spark_output_types(sdf, name: str = "?") -> None:
    """Fail if an oracle-gated Spark result carries a column type the
    driver's canonicalizer cannot hash.

    The driver collects results to pandas and does a ``sort_values`` over
    every column before hashing; an array/map/struct cell arrives as a
    Python list/dict and pandas raises ``TypeError: unhashable type`` —
    exactly how doc_pack_concat went red in round 4 (the local gate's
    ``_norm`` tuple-ification masked it, the same local-stronger-than-
    driver failure class as round 3's q12 HUGEINT). Oracle-gated queries
    must emit scalars only: join arrays into strings (numeric-sort first
    so both engines order identically), or keep the complex-typed form in
    a rows-only query.
    """
    from pyspark.sql.types import ArrayType, MapType, StructType

    hazards = [
        (f.name, f.dataType.simpleString())
        for f in sdf.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not hazards, (
        f"{name}: complex-typed output columns break the driver's pandas "
        f"canonicalizer (unhashable cells): {hazards}. Emit scalars — e.g. "
        f"array_join(array_sort(...), ' ')."
    )


# (oracle SQL, schemas of the views it reads) -> [(column, DuckDB type)].
# The result types are a function of those two alone, and binding a
# generated oracle (xxh64-in-SQL) costs DuckDB 10-25 s, so each pair is
# bound for its types once per session instead of once per comparison.
_RESULT_TYPES: dict = {}


def _result_types(con: duckdb.DuckDBPyConnection, sql: str) -> list:
    schemas = con.execute(
        "SELECT table_name, column_name, data_type"
        " FROM information_schema.columns ORDER BY ALL"
    ).fetchall()
    key = (sql, tuple(schemas))
    if key not in _RESULT_TYPES:
        rel = con.sql(sql)
        _RESULT_TYPES[key] = [(c, str(t)) for c, t in zip(rel.columns, rel.types)]
    return _RESULT_TYPES[key]


def assert_oracle_types(con: duckdb.DuckDBPyConnection, sql: str, name: str = "?") -> None:
    """Fail if the oracle SQL produces a result type Spark cannot emit.

    Mirrors the driver's typed value-hash: values may match while types
    diverge, so oracles must CAST integer sums to BIGINT explicitly.
    """
    hazards = [
        (c, t)
        for c, t in _result_types(con, sql)
        if t in _HAZARD_DUCK_TYPES
    ]
    assert not hazards, (
        f"{name}: oracle result types unrepresentable in Spark (driver's typed "
        f"hash would mismatch even on identical values): {hazards}. "
        f"CAST the offending expression (e.g. CAST(sum(...) AS BIGINT))."
    )


def compare(spark, sql: str, query_fn, sf_dir: str, name: str = "?") -> None:
    sdf = query_fn(spark, sf_dir)
    assert_spark_output_types(sdf, name)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    con = duck_con(sf_dir)
    assert_oracle_types(con, sql, name)
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    con.close()

    assert sorted(scols) == sorted(dcols), (
        f"{name}: column mismatch spark={sorted(scols)} duck={sorted(dcols)}"
    )
    assert len(srows) == len(drows), (
        f"{name}: row count mismatch spark={len(srows)} duck={len(drows)}"
    )
    sset, dset = _rowset(scols, srows), _rowset(dcols, drows)
    mismatches = [
        (a, b) for a, b in zip(sset, dset) if a != b
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)} value mismatches; first 3: {mismatches[:3]}"
    )
