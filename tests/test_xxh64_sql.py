"""Bit-parity of the generated DuckDB XXH64 SQL against Spark's xxhash64.

Three layers, each cross-engine:
1. Python reference vs Spark (strings incl. stripe lengths + unicode,
   longs, int-literal chains) — pins py_xxh64_* as ground truth.
2. Generated DuckDB SQL vs the Python reference on the same inputs.
3. End-to-end chain shapes actually used by the dedup oracles
   (band hash over 4 longs, bucket hash with INT-literal prefix).
"""

from __future__ import annotations

import random

import duckdb
import pytest
from pyspark.sql import functions as F

from dic_a1_spark.functions.xxh64_sql import (
    cte_chain,
    py_to_signed,
    py_xxh64_bytes,
    py_xxh64_int,
    py_xxh64_long,
    xxh64_long_sql,
    xxh64_longs_chain_sql,
    xxh64_str_sql,
)


def _fuzz_strings() -> list[str]:
    rng = random.Random(20260815)
    strs = ["", "a", "abc", "hello world", "x" * 31, "y" * 32, "z" * 33,
            "w" * 63, "w" * 64, "w" * 65, "stripe boundary test padded out!!"]
    # every tail-length class 0..39 plus deep-stripe lengths
    for length in list(range(40)) + [47, 55, 64, 71, 96, 100, 128, 130, 200]:
        strs.append(
            "".join(rng.choice("abcdefgh ijk<>,.!?0123") for _ in range(length))
        )
    strs.append("héllo wörld ünïcode ¢£¥ テスト")
    return strs


def _fuzz_longs() -> list[int]:
    rng = random.Random(42)
    vals = [0, 1, -1, 42, 2**62, -(2**62), 2**63 - 1, -(2**63), 123456789012345]
    vals += [rng.randrange(-(2**63), 2**63) for _ in range(40)]
    return vals


def test_python_reference_matches_spark(spark):
    strs = _fuzz_strings()
    sdf = spark.createDataFrame([(s,) for s in strs], ["s"])
    for r in sdf.select("s", F.xxhash64("s").alias("h")).collect():
        assert r["h"] == py_to_signed(py_xxh64_bytes(r["s"].encode("utf-8"), 42)), r["s"]

    longs = _fuzz_longs()
    ldf = spark.createDataFrame([(v,) for v in longs], "v: long")
    for r in ldf.select("v", F.xxhash64("v").alias("h")).collect():
        assert r["h"] == py_to_signed(py_xxh64_long(r["v"], 42)), r["v"]

    # int-literal prefix chain: xxhash64(lit(i), col) == hashLong(col, hashInt(i, 42))
    for i in (0, 3, 15):
        for r in ldf.select("v", F.xxhash64(F.lit(i), "v").alias("h")).collect():
            assert r["h"] == py_to_signed(py_xxh64_long(r["v"], py_xxh64_int(i, 42)))

    # multi-long fold: xxhash64(a, b, c, d)
    quad = [tuple(random.Random(7).randrange(-(2**63), 2**63) for _ in range(4))]
    qdf = spark.createDataFrame(quad, "a: long, b: long, c: long, d: long")
    got = qdf.select(F.xxhash64("a", "b", "c", "d").alias("h")).collect()[0]["h"]
    h = 42
    for v in quad[0]:
        h = py_xxh64_long(v, h)
    assert got == py_to_signed(h)


def test_duckdb_sql_matches_reference_strings():
    con = duckdb.connect()
    strs = _fuzz_strings()
    con.execute("CREATE TABLE t(s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(s,) for s in strs])
    rows = con.sql(f"SELECT s, {xxh64_str_sql('s')} AS h FROM t").fetchall()
    assert len(rows) == len(strs)
    for s, h in rows:
        assert h == py_to_signed(py_xxh64_bytes(s.encode("utf-8"), 42)), repr(s)


def test_duckdb_sql_matches_reference_longs_and_chains():
    con = duckdb.connect()
    longs = _fuzz_longs()
    con.execute("CREATE TABLE t(v BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in longs])
    # single long, constant seed
    for v, h in con.sql(f"SELECT v, {xxh64_long_sql('v', 42)} AS h FROM t").fetchall():
        assert h == py_to_signed(py_xxh64_long(v, 42)), v
    # int-literal-prefixed single long (bucket-hash shape)
    e = xxh64_longs_chain_sql(["v"], int_prefix=(3,))
    for v, h in con.sql(f"SELECT v, {e} AS h FROM t").fetchall():
        assert h == py_to_signed(py_xxh64_long(v, py_xxh64_int(3, 42))), v
    # 4-long fold (band-hash shape)
    con.execute("CREATE TABLE q(a BIGINT, b BIGINT, c BIGINT, d BIGINT)")
    rng = random.Random(99)
    quads = [tuple(rng.randrange(-(2**63), 2**63) for _ in range(4)) for _ in range(25)]
    con.executemany("INSERT INTO q VALUES (?, ?, ?, ?)", quads)
    e4 = xxh64_longs_chain_sql(["a", "b", "c", "d"])
    for a, b, c, d, h in con.sql(f"SELECT a, b, c, d, {e4} AS h FROM q").fetchall():
        exp = 42
        for v in (a, b, c, d):
            exp = py_xxh64_long(v, exp)
        assert h == py_to_signed(exp)


@pytest.mark.parametrize("seed", [0, 42, 1234567])
def test_nondefault_seeds_roundtrip(seed):
    """The generators honor non-default integer seeds (reference-level
    check; Spark's expression always uses 42, the oracles likewise)."""
    con = duckdb.connect()
    h = con.sql(f"SELECT {xxh64_str_sql(repr('seeded input'), seed)}").fetchone()[0]
    assert h == py_to_signed(py_xxh64_bytes(b"seeded input", seed))


def test_cte_chain_liveness_respects_word_boundaries():
    """A defined column stays in the chain exactly until the last layer
    whose expressions name it, as a whole word: `xh1`, `h1_k` and `h10`
    never keep `h1` alive. Columns no layer reads (`o1`, `t`) are the
    outputs and reach the final CTE."""
    layers = [
        {"h1": "a + 1", "h10": "a + 10"},
        {"xh1": "h1 * 2", "h1_k": "h1 * 3", "o1": "h1 - 1"},
        {"s": "xh1 + h1_k + h10"},
        {"t": "s * 2"},
    ]
    frag, last = cte_chain("base", layers, "c", ["id", "a"])
    assert last == "c3"
    assert frag == (
        ",\nc0 AS MATERIALIZED (SELECT id, a, a + 1 AS h1, a + 10 AS h10 FROM base)"
        ",\nc1 AS MATERIALIZED (SELECT id, a, h10, h1 * 2 AS xh1, h1 * 3 AS h1_k,"
        " h1 - 1 AS o1 FROM c0)"
        ",\nc2 AS MATERIALIZED (SELECT id, a, o1, xh1 + h1_k + h10 AS s FROM c1)"
        ",\nc3 AS MATERIALIZED (SELECT id, a, o1, s * 2 AS t FROM c2)"
    )
    con = duckdb.connect()
    rel = con.sql(f"WITH base AS (SELECT 7 AS id, 5 AS a){frag} SELECT * FROM {last}")
    assert rel.columns == ["id", "a", "o1", "t"]
    assert rel.fetchall() == [(7, 5, 5, 90)]
