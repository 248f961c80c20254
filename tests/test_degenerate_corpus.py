"""Full-registry cross-engine sweep on a DEGENERATE corpus — the ANSI
crash hunt.

The round-9 zero-norm fuzz proved a whole bug class exists: Spark 4
runs ANSI mode by default, so a raw Column division whose denominator
can reach zero does not fork from the oracle — it THROWS and kills the
job, while DuckDB quietly returns NULL. The embedding family was fixed
with try_divide; this sweep points the same weapon at every other
registered query by running the ENTIRE oracle-gated registry over a
corpus built from the degenerate shapes that zero denominators come
from:

- documents: empty and whitespace-only texts (0 tokens -> per-doc
  ratios), a source with exactly ONE doc (sample-variance cnt-1 = 0),
  a source whose docs all have IDENTICAL length (variance = 0 ->
  z-score division by sqrt(0)), and an all-identical-token doc.
- events: one single event for an entire type, constant values within
  groups (variance 0), one (dow, hour) cell with a single sample.
- embeddings: zero vectors and identical constant vectors (handled by
  the r9 try_divide fix — kept here so the sweep covers the whole
  corpus at once).

TPC-H tables are copied intact from sf0.001 (referential integrity);
the relational families run as no-op consistency checks.

Every query must either match its oracle or — for the rows-only
entries — simply materialize. A SparkArithmeticException anywhere in
this sweep is a real 100 TB incident: a single all-empty document
shard would kill the whole job.
"""

from __future__ import annotations

import importlib
import os
import shutil
from datetime import datetime, timedelta
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dic_a1_spark.config import TABLES
from tests.conftest import SF_SMOKE
from tests.oracle_utils import compare


@pytest.fixture(scope="module")
def degen_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("degen_sf")
    for t in TABLES:
        if t in ("documents", "events", "embeddings"):
            continue
        shutil.copy(Path(SF_SMOKE) / f"{t}.parquet", Path(out) / f"{t}.parquet")

    # --- documents -------------------------------------------------------
    texts, langs, sources = [], [], []

    def add(text: str, lang: str, source: str) -> None:
        texts.append(text)
        langs.append(lang)
        sources.append(source)

    for _ in range(6):
        add("", "en", "empty_src")          # 0 tokens
    for _ in range(4):
        add("   \t  ", "de", "empty_src")   # whitespace only
    add("solo doc with a few tokens", "en", "lonely_src")  # cnt-1 == 0
    for i in range(8):
        add(f"word{i} fixed length here", "en", "const_src")  # var == 0
    for _ in range(3):
        add("x x x x x x x x", "zh", "const_src")  # one repeated token
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, Path(out) / "documents.parquet")

    # --- events ----------------------------------------------------------
    t0 = datetime(2024, 5, 1, 9, 0, 0)
    rows = [
        (t0, 1, "solo_type", 7.25),                       # single event of its type
        (t0 + timedelta(hours=1), 2, "const", 3.5),       # constant values
        (t0 + timedelta(hours=2), 2, "const", 3.5),
        (t0 + timedelta(hours=3), 3, "const", 3.5),
        (t0 + timedelta(days=7), 3, "const", 3.5),        # same dow/hour, next week
    ]
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array([r[0] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows], pa.string()),
            "value": pa.array([r[3] for r in rows], pa.float64()),
            "props": pa.array(['{"k": 1}'] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, Path(out) / "events.parquet")

    # --- embeddings ------------------------------------------------------
    n, dim = 80, 64
    vecs = []
    for i in range(n):
        if i % 3 == 0:
            vecs.append([0.0] * dim)                       # zero-norm
        else:
            vecs.append([1.0 if d % 2 else -1.0 for d in range(dim)])  # identical
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([i % 4 for i in range(n)], pa.int32()),
        }
    )
    pq.write_table(tbl, Path(out) / "embeddings.parquet")
    return str(out)


@pytest.fixture(scope="module")
def nulls_dir(tmp_path_factory):
    """Second hostile shape: NULL-bearing columns. The r8 fuzz already
    proved NULL propagation is a real fork source (DuckDB's
    array_to_string([]) vs Spark's concat_ws); this corpus plants NULLs
    in every nullable documents/events column the parquet schema allows
    — NULL text (tokenizers must propagate, not crash), NULL lang and
    source (grouping keys: both engines group NULLs together), NULL
    n_chars (aggregates skip), and NULL event value (sums/percentiles
    skip). Embeddings stay healthy: a NULL embedding ARRAY is out of
    contract (the schema is finite float32 — similarity._null_div), so
    it is deliberately not planted."""
    out = tmp_path_factory.mktemp("nulls_sf")
    for t in TABLES:
        if t in ("documents", "events"):
            continue
        shutil.copy(Path(SF_SMOKE) / f"{t}.parquet", Path(out) / f"{t}.parquet")

    texts = [
        "normal doc alpha beta",
        None,                       # NULL text
        "second normal doc gamma",
        None,
        "shared vocab alpha",
    ]
    langs = ["en", None, "de", "en", None]          # NULL group keys
    sources = ["s0", "s0", None, None, "s1"]
    n_chars = [len(t) if t is not None else None for t in texts]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array(n_chars, pa.int64()),
        }
    )
    pq.write_table(tbl, Path(out) / "documents.parquet")

    t0 = datetime(2024, 6, 1, 12, 0, 0)
    rows = [
        (t0, 1, "click", 1.25, '{"k": 1}'),
        (t0 + timedelta(minutes=5), 1, "purchase", None, '{"k": 2}'),  # NULL value
        (t0 + timedelta(minutes=9), 2, "click", 2.5, None),            # NULL props
        (t0 + timedelta(minutes=15), 2, "error", None, '{"k": 3}'),
        (t0 + timedelta(hours=1), 3, "click", 3.75, '{"k": 4}'),
    ]
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array([r[0] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows], pa.string()),
            "value": pa.array([r[3] for r in rows], pa.float64()),
            "props": pa.array([r[4] for r in rows], pa.string()),
        }
    )
    pq.write_table(tbl, Path(out) / "events.parquet")
    return str(out)


def _registry():
    reg = importlib.import_module("dic_a1_spark.registry")
    return reg.all_queries(), reg.all_oracles()


_QUERIES, _ORACLES = _registry()

# The goldens_* entries are pinned to the reference's fixed devset artifacts
# and ignore sf_dir entirely — re-running them once per hostile corpus is
# vacuous coverage at nontrivial repeated cost (ADVICE r10). They keep their
# own dedicated parity gate in tests/test_golden_parity.py.
_SWEEP_FULL = sorted(n for n in _QUERIES if not n.startswith("goldens_"))


# Past hostile-corpus incidents: query -> the corpus tags whose shape
# exposed it. Each runs on those corpora on every default run, whatever
# the rotation below assigns it.
_INCIDENTS: dict[str, tuple[str, ...]] = {
    # r9 zero-norm ANSI throw (degen's zero vectors); r10 empty-corpus
    # probe: np.stack over an empty centroid collect.
    "embedding_neardup_blocked": ("degen", "empty"),
    "embedding_neardup_groups": ("degen", "empty"),
    # r10 empty-corpus probe: np.stack over an empty codebook collect.
    "embdecontam_flagged": ("empty",),
    # r10 empty-corpus probe: hll rollup sum() NULL where count(*) is 0.
    "events_approx_stats": ("empty",),
    # r10: KMeans.fit refuses an empty dataset (empty), and k > n and
    # k < 2 (onerow).
    "ml_kmeans_clusters": ("empty", "onerow"),
    # r10 empty-corpus probe: the dsir stats oracle fabricated a 1-row
    # NULL panel from a bare scalar aggregate.
    "dsir_selected": ("empty",),
    # r10 merge exhaustion: a pair census that empties before BPE_ROUNDS
    # wiped the vocabulary — from round one on an empty corpus, within a
    # round or two on a one-document one.
    "bpe_segmented_vocab": ("empty", "onerow"),
    # degen's identical-length source: variance 0 -> z-score / sqrt(0).
    "quality_outlier_zscore": ("degen",),
    # Collects its codebook on the driver: the empty and short/sparse
    # codebook shapes (r10 empty and one-row probes) that crashed the
    # batch PQ twins.
    "pq_recon_certificate": ("empty", "onerow"),
}
# Pins added after the rotation was fixed stay out of it, so adding a
# pin never moves another query's rotation slot.
_PIN_ONLY = {"pq_recon_certificate"}


def _representative(names: list[str]) -> list[str]:
    """Deterministic per-family subset: for every family prefix (the
    name's first '_'-separated token, e.g. dedup/embedding/events) keep
    the alphabetically-first query AND the first `_fast` twin if the
    family has one (the driver-side collected-statistics twins are where
    the r10 empty-corpus probe found its np.stack crashes), plus every
    incident query not in _PIN_ONLY."""
    by_family: dict[str, str] = {}
    by_family_fast: dict[str, str] = {}
    for n in names:
        fam = n.split("_", 1)[0]
        by_family.setdefault(fam, n)
        if n.endswith("_fast"):
            by_family_fast.setdefault(fam, n)
    picked = set(by_family.values()) | set(by_family_fast.values())
    picked |= (set(_INCIDENTS) - _PIN_ONLY) & set(names)
    return sorted(picked)


# r13 (VERDICT r12 item 3): the FULL cross-engine sweep — every
# registered query x every hostile corpus, ~2,400 cases — measures
# ~1 h 45 m and blew past the round driver's pytest window every round.
# Default: each corpus runs a deterministic QUARTER of the representative
# per-family subset above (rotation keyed on the corpus tag, so every
# family crosses several hostile shapes per run and the assignment
# never moves between runs); SPARK_GRAFT_HOSTILE=1 restores the full
# registry sweep for every corpus. The full sweep remains the standing
# gate after any operator edit touching divisions, driver-side
# collects, unrolled iterations, or NULL paths (see
# .claude/skills/verify/SKILL.md), and is run once per round.
_HOSTILE_FULL = os.environ.get("SPARK_GRAFT_HOSTILE") == "1"
_REPR = _representative(_SWEEP_FULL)
_CORPUS_TAGS = [
    "degen", "nulls", "empty", "empty_tpch", "onerow",
    "skew", "skewkey", "time_extremes", "unicode", "giant",
]


def _sweep_for(tag: str) -> list[str]:
    """The rotation slice for `tag` plus the incident queries pinned to
    it (the full registry under SPARK_GRAFT_HOSTILE=1)."""
    if _HOSTILE_FULL:
        return _SWEEP_FULL
    pinned = {n for n, tags in _INCIDENTS.items() if tag in tags}
    return sorted(set(_REPR[_CORPUS_TAGS.index(tag) % 4 :: 4]) | pinned)


@pytest.mark.parametrize("name", _sweep_for("degen"))
def test_registry_survives_degenerate_corpus(spark, degen_dir, name):
    fn = _QUERIES[name]
    if name in _ORACLES:
        compare(spark, _ORACLES[name], fn, degen_dir, name)
    else:
        fn(spark, degen_dir).count()  # rows-only: must materialize


@pytest.mark.parametrize("name", _sweep_for("nulls"))
def test_registry_survives_null_corpus(spark, nulls_dir, name):
    fn = _QUERIES[name]
    if name in _ORACLES:
        compare(spark, _ORACLES[name], fn, nulls_dir, name)
    else:
        fn(spark, nulls_dir).count()  # rows-only: must materialize


@pytest.fixture(scope="module")
def empty_dir(tmp_path_factory):
    """Third hostile shape (r10): the corpus tables are EMPTY — valid
    parquet, zero rows. This is the filtered-to-nothing slice every
    100 TB pipeline eventually feeds an operator (one lang, one day, one
    source), and it is the shape that kills DRIVER-SIDE collected-
    statistics construction: the r10 probe found 8 np.stack([]) crashes
    (empty codebook/query collects across the ANN fast twins and
    embdecontam), 2 spark.ml refusals (KMeans.fit, empty vocabulary), 1
    NULL-vs-0 rollup fork (hll sum over no types), and 1 scalar-agg
    1-row fabrication in the dsir stats oracle."""
    out = tmp_path_factory.mktemp("empty_sf")
    for t in TABLES:
        if t in ("documents", "events", "embeddings"):
            continue
        shutil.copy(Path(SF_SMOKE) / f"{t}.parquet", Path(out) / f"{t}.parquet")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([], pa.int64()),
                "text": pa.array([], pa.string()),
                "lang": pa.array([], pa.string()),
                "source": pa.array([], pa.string()),
                "n_chars": pa.array([], pa.int64()),
            }
        ),
        Path(out) / "documents.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([], pa.int64()),
                "ts": pa.array([], pa.timestamp("us")),
                "user_id": pa.array([], pa.int64()),
                "event_type": pa.array([], pa.string()),
                "value": pa.array([], pa.float64()),
                "props": pa.array([], pa.string()),
            }
        ),
        Path(out) / "events.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([], pa.int64()),
                "embedding": pa.array([], pa.list_(pa.float32())),
                "label": pa.array([], pa.int32()),
            }
        ),
        Path(out) / "embeddings.parquet",
    )
    return str(out)


@pytest.mark.parametrize("name", _sweep_for("empty"))
def test_registry_survives_empty_corpus(spark, empty_dir, name):
    fn = _QUERIES[name]
    if name in _ORACLES:
        compare(spark, _ORACLES[name], fn, empty_dir, name)
    else:
        fn(spark, empty_dir).count()  # rows-only: must materialize


@pytest.fixture(scope="module")
def empty_tpch_dir(tmp_path_factory):
    """Fourth hostile shape (r10): the TPC-H tables are EMPTY while the
    corpus tables stay healthy — the relational complement of empty_dir.
    The probe found exactly one fork class here: Spark's ROLLUP / CUBE /
    GROUPING SETS emit NOTHING over an empty table while DuckDB
    fabricates the standard's grand-total () row; the oracles mirror
    Spark via HAVING count(*) > 0 (see relational.py)."""
    out = tmp_path_factory.mktemp("empty_tpch_sf")
    tpch = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
    for t in TABLES:
        src = Path(SF_SMOKE) / f"{t}.parquet"
        if t in tpch:
            pq.write_table(pq.read_table(src).slice(0, 0), Path(out) / f"{t}.parquet")
        else:
            shutil.copy(src, Path(out) / f"{t}.parquet")
    return str(out)


@pytest.mark.parametrize("name", _sweep_for("empty_tpch"))
def test_registry_survives_empty_tpch(spark, empty_tpch_dir, name):
    fn = _QUERIES[name]
    if name in _ORACLES:
        compare(spark, _ORACLES[name], fn, empty_tpch_dir, name)
    else:
        fn(spark, empty_tpch_dir).count()  # rows-only: must materialize


@pytest.fixture(scope="module")
def onerow_dir(tmp_path_factory):
    """Fifth hostile shape (r10): ONE row per corpus table — the
    smaller-than-every-configured-constant slice (k-means k > n, PQ
    codebook shorter than PQ_K with the single vec_id both bench-side
    and sparse, quantiles over one sample). The probe found 4 defects:
    the PQ fast twins indexed the codebook to PQ_K and equated argmin
    position with code id (both wrong on a short/sparse codebook), the
    contamination panel divided by a zero training count under ANSI,
    and spark.ml KMeans refuses both k > n and k < 2."""
    out = tmp_path_factory.mktemp("onerow_sf")
    for t in TABLES:
        if t in ("documents", "events", "embeddings"):
            continue
        shutil.copy(Path(SF_SMOKE) / f"{t}.parquet", Path(out) / f"{t}.parquet")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([0], pa.int64()),
                "text": pa.array(["one lonely document with a few tokens"], pa.string()),
                "lang": pa.array(["en"], pa.string()),
                "source": pa.array(["s0"], pa.string()),
                "n_chars": pa.array([38], pa.int64()),
            }
        ),
        Path(out) / "documents.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([0], pa.int64()),
                "ts": pa.array([datetime(2024, 7, 1, 8, 30)], pa.timestamp("us")),
                "user_id": pa.array([1], pa.int64()),
                "event_type": pa.array(["click"], pa.string()),
                "value": pa.array([2.5], pa.float64()),
                "props": pa.array(['{"k": 1}'], pa.string()),
            }
        ),
        Path(out) / "events.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([0], pa.int64()),
                "embedding": pa.array(
                    [[float(d % 5 - 2) for d in range(64)]],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array([0], pa.int32()),
            }
        ),
        Path(out) / "embeddings.parquet",
    )
    return str(out)


@pytest.mark.parametrize("name", _sweep_for("onerow"))
def test_registry_survives_onerow_corpus(spark, onerow_dir, name):
    fn = _QUERIES[name]
    if name in _ORACLES:
        compare(spark, _ORACLES[name], fn, onerow_dir, name)
    else:
        fn(spark, onerow_dir).count()  # rows-only: must materialize


# ---------------------------------------------------------------------------
# Round-10 family-specific degenerate shapes (VERDICT r9 item 3). The two
# sweeps above mutate documents/events/embeddings but copy the TPC-H tables
# intact, so the iterative families whose hostile inputs live in OTHER
# shapes were never stressed: graphrank (degenerate GRAPHS), bpe/tokapply
# (merge exhaustion), dsir (target-side degeneracy), cdc (docs shorter than
# the boundary window).
# ---------------------------------------------------------------------------


def _docs_dir(tmp_path_factory, label: str, texts, sources=None, langs=None):
    """Fixture dir with a custom documents table; everything else copied
    intact from sf0.001."""
    out = tmp_path_factory.mktemp(label)
    for t in TABLES:
        if t == "documents":
            continue
        shutil.copy(Path(SF_SMOKE) / f"{t}.parquet", Path(out) / f"{t}.parquet")
    n = len(texts)
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs or ["en"] * n, pa.string()),
            "source": pa.array(sources or ["s0"] * n, pa.string()),
            "n_chars": pa.array(
                [len(t) if t is not None else None for t in texts], pa.int64()
            ),
        }
    )
    pq.write_table(tbl, Path(out) / "documents.parquet")
    return str(out)


def _family(prefix: str | tuple[str, ...]) -> list[str]:
    pre = (prefix,) if isinstance(prefix, str) else prefix
    names = [n for n in _QUERIES if n.startswith(pre)]
    assert names, f"no registry entries match {prefix!r}"
    return sorted(names)


def _check(spark, name: str, sf_dir: str) -> None:
    if name in _ORACLES:
        compare(spark, _ORACLES[name], _QUERIES[name], sf_dir, name)
    else:
        _QUERIES[name](spark, sf_dir).count()


# --- bpe / tokapply: merge exhaustion --------------------------------------


@pytest.fixture(scope="module")
def bpe_tiny_dir(tmp_path_factory):
    """Vocabulary that fully merges after 2 rounds (BPE_ROUNDS = 6): the
    pair census goes EMPTY mid-run. Before the r10 fix, the empty top-pair
    crossJoin silently WIPED the vocabulary on BOTH engines (parity green,
    answer wrong); single-char words additionally have no pairs at all."""
    texts = ["ab ab ab cd", "a b c d a"] * 3
    return _docs_dir(tmp_path_factory, "bpe_tiny_sf", texts)


@pytest.mark.parametrize("name", _family(("bpe_",)))
def test_bpe_survives_merge_exhaustion(spark, bpe_tiny_dir, name):
    _check(spark, name, bpe_tiny_dir)


def test_bpe_vocab_survives_merge_exhaustion(spark, bpe_tiny_dir):
    """The semantic half the parity gate can't see: after merges exhaust,
    the vocabulary must still be THERE (6 words: ab cd a b c d), with the
    two mergeable words fully collapsed to single symbols."""
    from dic_a1_spark.operators.bpe import QUERIES as BQ

    rows = {
        r["word"]: r
        for r in BQ["bpe_segmented_vocab"](spark, bpe_tiny_dir).collect()
    }
    assert set(rows) == {"ab", "cd", "a", "b", "c", "d"}
    assert rows["ab"]["n_pieces"] == 1 and rows["cd"]["n_pieces"] == 1


# --- graphrank: degenerate graphs -------------------------------------------


def _write_graph_tables(out: Path, lineitem_rows) -> None:
    """Micro TPC-H slice with full driver schemas: 4 nations (DELTA
    isolated), a NULL-nationkey customer AND supplier, and caller-chosen
    lineitem rows (orderkey, suppkey) controlling the edge set."""
    from datetime import datetime as dt

    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array([0, 1, 2, 3], pa.int32()),
                "n_name": pa.array(
                    ["ALPHA", "BRAVO", "CHARLIE", "DELTA"], pa.string()
                ),
                "n_regionkey": pa.array([0, 0, 1, 1], pa.int32()),
            }
        ),
        out / "nation.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array([1, 2, 3], pa.int64()),
                "c_name": pa.array(["c1", "c2", "c3"], pa.string()),
                "c_nationkey": pa.array([0, 2, None], pa.int32()),
                "c_acctbal": pa.array([10.0, 20.0, 30.0], pa.float64()),
                "c_mktsegment": pa.array(["BUILDING"] * 3, pa.string()),
            }
        ),
        out / "customer.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "s_suppkey": pa.array([1, 2, 3], pa.int64()),
                "s_name": pa.array(["s1", "s2", "s3"], pa.string()),
                "s_nationkey": pa.array([0, 1, None], pa.int32()),
                "s_acctbal": pa.array([5.0, 6.0, 7.0], pa.float64()),
            }
        ),
        out / "supplier.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([100, 200, 300], pa.int64()),
                "o_custkey": pa.array([1, 2, 3], pa.int64()),
                "o_orderstatus": pa.array(["F", "O", "F"], pa.string()),
                "o_totalprice": pa.array([1e3, 2e3, 3e3], pa.float64()),
                "o_orderdate": pa.array([dt(2024, 1, 1 + i) for i in range(3)], pa.timestamp("us")),
                "o_orderpriority": pa.array(["1-URGENT"] * 3, pa.string()),
            }
        ),
        out / "orders.parquet",
    )
    n = len(lineitem_rows)
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in lineitem_rows], pa.int64()),
                "l_partkey": pa.array([1] * n, pa.int64()),
                "l_suppkey": pa.array([r[1] for r in lineitem_rows], pa.int64()),
                "l_linenumber": pa.array(range(1, n + 1), pa.int32()),
                "l_quantity": pa.array([1.0] * n, pa.float64()),
                "l_extendedprice": pa.array([100.0] * n, pa.float64()),
                "l_discount": pa.array([0.0] * n, pa.float64()),
                "l_tax": pa.array([0.0] * n, pa.float64()),
                "l_returnflag": pa.array(["N"] * n, pa.string()),
                "l_linestatus": pa.array(["O"] * n, pa.string()),
                "l_shipdate": pa.array([dt(2024, 2, 1)] * n, pa.timestamp("us")),
            }
        ),
        out / "lineitem.parquet",
    )


def _graph_dir(tmp_path_factory, label: str, lineitem_rows) -> str:
    out = tmp_path_factory.mktemp(label)
    for t in TABLES:
        if t in ("nation", "customer", "supplier", "orders", "lineitem"):
            continue
        shutil.copy(Path(SF_SMOKE) / f"{t}.parquet", Path(out) / f"{t}.parquet")
    _write_graph_tables(Path(out), lineitem_rows)
    return str(out)


@pytest.fixture(scope="module")
def graph_degen_dir(tmp_path_factory):
    """Edges ALPHA→ALPHA (self-loop, w2), ALPHA→BRAVO (w1), CHARLIE→BRAVO
    (w3). BRAVO is a rank SINK (in-edges, no out — leaks mass under the
    documented dangling rule), CHARLIE a pure source, DELTA fully isolated;
    the NULL-nationkey customer and supplier rows must drop identically in
    both engines' inner joins."""
    rows = [(100, 1), (100, 1), (100, 2), (200, 2), (200, 2), (200, 2),
            (300, 1), (100, 3)]
    return _graph_dir(tmp_path_factory, "graph_degen_sf", rows)


@pytest.fixture(scope="module")
def graph_empty_dir(tmp_path_factory):
    """ZERO edges (empty lineitem): every nation is isolated, every rank
    collapses to the teleport floor (1-d)/N, all degrees are 0."""
    return _graph_dir(tmp_path_factory, "graph_empty_sf", [])


@pytest.mark.parametrize("name", _family("graph_"))
def test_graph_survives_sinks_selfloops_nullkeys(spark, graph_degen_dir, name):
    _check(spark, name, graph_degen_dir)


@pytest.mark.parametrize("name", _family("graph_"))
def test_graph_survives_empty_graph(spark, graph_empty_dir, name):
    _check(spark, name, graph_empty_dir)


def test_graph_empty_ranks_are_teleport_floor(spark, graph_empty_dir):
    from dic_a1_spark.operators.graphrank import PR_D
    from dic_a1_spark.operators.graphrank import QUERIES as GQ

    rows = GQ["graph_pagerank"](spark, graph_empty_dir).collect()
    assert len(rows) == 4
    floor = round((1.0 - PR_D) / 4.0, 8)
    assert all(r["rank_r"] == floor for r in rows)
    assert all(r["in_deg"] == 0 and r["out_deg"] == 0 for r in rows)


# --- dsir: target-side degeneracy -------------------------------------------


@pytest.fixture(scope="module")
def dsir_notarget_dir(tmp_path_factory):
    """No document belongs to DSIR_TARGET_SOURCE: t = 0 in every bucket
    (weights collapse toward the +1-smoothing floor) — plus single-token
    docs whose feature set is one unigram (the single-bucket shape)."""
    texts = ["x", "x", "y", "alpha beta gamma", "beta gamma delta"]
    sources = ["s1", "s1", "s2", "s2", "s3"]
    return _docs_dir(tmp_path_factory, "dsir_notarget_sf", texts, sources)


@pytest.fixture(scope="module")
def dsir_alltarget_dir(tmp_path_factory):
    """EVERY document is the target: the raw pool is empty, so the
    resampler has nothing to select (0 rows) and c = 0 in every bucket."""
    texts = ["alpha beta", "beta gamma", "solo"]
    sources = ["src0", "src0", "src0"]
    return _docs_dir(tmp_path_factory, "dsir_alltarget_sf", texts, sources)


@pytest.mark.parametrize("name", _family("dsir_"))
def test_dsir_survives_no_target(spark, dsir_notarget_dir, name):
    _check(spark, name, dsir_notarget_dir)


@pytest.mark.parametrize("name", _family("dsir_"))
def test_dsir_survives_all_target(spark, dsir_alltarget_dir, name):
    _check(spark, name, dsir_alltarget_dir)


def test_dsir_all_target_selects_nothing(spark, dsir_alltarget_dir):
    from dic_a1_spark.operators.dsir import QUERIES as DQ

    assert DQ["dsir_selected"](spark, dsir_alltarget_dir).count() == 0


# --- cdc: docs shorter than the boundary window ------------------------------


@pytest.fixture(scope="module")
def cdc_short_dir(tmp_path_factory):
    """Documents of 1-3 tokens (below CDC_K = 4, the descending-sequence
    guard path): each must yield exactly ONE whole-document chunk; the
    duplicated short doc must still census as a cross-doc duplicate."""
    texts = ["one", "two tok", "three tok doc", "one", "four token doc here"]
    return _docs_dir(tmp_path_factory, "cdc_short_sf", texts)


@pytest.mark.parametrize("name", _family("cdc_"))
def test_cdc_survives_subwindow_docs(spark, cdc_short_dir, name):
    _check(spark, name, cdc_short_dir)


def test_cdc_short_docs_are_single_chunks(spark, cdc_short_dir):
    from dic_a1_spark.operators.cdc import QUERIES as CQ

    chunks = CQ["cdc_chunks"](spark, cdc_short_dir).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # docs 0-3 are sub-window: exactly one chunk spanning the whole doc
    for doc_id, n_tok in [(0, 1), (1, 2), (2, 3), (3, 1)]:
        assert len(by_doc[doc_id]) == 1
        (c,) = by_doc[doc_id]
        assert (c["chunk_start"], c["chunk_end"]) == (1, n_tok)
    dups = CQ["cdc_dup_chunks"](spark, cdc_short_dir).collect()
    assert any(d["cross_doc"] == 1 and d["n_tokens"] == 1 for d in dups)


# ---------------------------------------------------------------------------
# Sixth hostile shape (r11, VERDICT r10 item 3): SKEW — one hot key
# everywhere. All documents share one lang/source and are near-identical
# (so every MinHash band value, every SimHash prefix, every shingle and
# every line hash collapses into ONE bucket); all embeddings sit in one
# centroid block (blocked-ANN fan-out = the whole corpus); all events
# belong to one user and one type. This is the single-hot-key extreme a
# 100 TB corpus actually exhibits, and it stresses exactly the
# "fan-out bounded by largest block" claims in dedup.py / semdedup.py:
# the plans must COMPLETE (no OOM-shaped candidate blowup in a *groups*
# query) and the bounds must degrade as documented.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def skew_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("skew_sf")
    for t in TABLES:
        if t in ("documents", "events", "embeddings"):
            continue
        shutil.copy(Path(SF_SMOKE) / f"{t}.parquet", Path(out) / f"{t}.parquet")

    # documents: 60 docs, ONE lang, ONE source. 40 are byte-identical (the
    # hot exact-dup group); 20 share the same long prefix with one token
    # swapped (near-dups: same bands, jaccard just under 1).
    base = (
        "the quick brown fox jumps over the lazy dog while the "
        "miller grinds the grain and the river runs to the sea"
    )
    texts = [base] * 40 + [base.replace("river", f"river{i}") for i in range(20)]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts), pa.string()),
            "source": pa.array(["hot_src"] * len(texts), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, Path(out) / "documents.parquet")

    # events: ONE user, ONE type — every sessionization / window / percentile
    # partition collapses to a single hot partition key.
    t0 = datetime(2024, 8, 1, 10, 0, 0)
    n_ev = 50
    tbl = pa.table(
        {
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": pa.array(
                [t0 + timedelta(minutes=3 * i) for i in range(n_ev)],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([7] * n_ev, pa.int64()),
            "event_type": pa.array(["click"] * n_ev, pa.string()),
            "value": pa.array([float(i % 5) + 0.25 for i in range(n_ev)], pa.float64()),
            "props": pa.array(['{"k": 1}'] * n_ev, pa.string()),
        }
    )
    pq.write_table(tbl, Path(out) / "events.parquet")

    # embeddings: ONE centroid block. Every vector is the same direction
    # with a tiny deterministic wobble in one coordinate — cosine ~ 1.0
    # pairwise, so blocked ANN's largest block IS the whole corpus.
    n, dim = 60, 64
    vecs = []
    for i in range(n):
        v = [float(d % 7 - 3) for d in range(dim)]
        v[i % dim] += 1e-3 * (i + 1)
        vecs.append(v)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([0] * n, pa.int32()),
        }
    )
    pq.write_table(tbl, Path(out) / "embeddings.parquet")
    return str(out)


@pytest.mark.parametrize("name", _sweep_for("skew"))
def test_registry_survives_skew_corpus(spark, skew_dir, name):
    fn = _QUERIES[name]
    if name in _ORACLES:
        compare(spark, _ORACLES[name], fn, skew_dir, name)
    else:
        fn(spark, skew_dir).count()  # rows-only: must materialize


def test_skew_minhash_groups_collapse_to_one(spark, skew_dir):
    """The documented degradation: one hot band bucket must yield ONE
    connected group containing every doc — label propagation converges,
    no quadratic surprise in the groups query itself."""
    from dic_a1_spark.operators.dedup import QUERIES as DQ

    rows = DQ["dedup_minhash_groups"](spark, skew_dir).collect()
    groups = {r["group_id"] for r in rows}
    assert len(groups) == 1
    assert len(rows) == 60


def test_skew_embedding_block_is_whole_corpus(spark, skew_dir):
    """Blocked near-dup groups under one-centroid skew: every vector lands
    in one group (the largest-block bound degrades to n, as documented —
    and the query still completes)."""
    from dic_a1_spark.operators.similarity import QUERIES as SQ

    rows = SQ["embedding_neardup_groups"](spark, skew_dir).collect()
    assert len(rows) == 60
    assert len({r["group_id"] for r in rows}) == 1


# ---------------------------------------------------------------------------
# SEVENTH hostile shape (r11): ADVERSARIAL UNICODE. A real web corpus is
# not ASCII: it carries Turkish dotted-İ, Greek final-sigma contexts,
# sharp-s and ligature casings, astral-plane math/emoji (surrogate pairs
# in the JVM's UTF-16), NFC/NFD spelling twins, zero-width and bidi
# controls, full-width digits (NOT in the tokenizer's ASCII translate
# set — they must SURVIVE), every Unicode whitespace flavor, CRLF/NEL
# line endings, and CJK text with no spaces at all. Each of these is a
# cross-engine semantics minefield — Java full casing vs utf8proc
# per-codepoint casing is where lower('İstanbul') forks (config.
# duckdb_lower_sql is the mirror this corpus exists to police), and
# \s/\p{Zs} class differences are where tokenization forks. Every
# oracle-gated query must stay hash-green over this corpus.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def unicode_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("unicode_sf")
    for t in TABLES:
        if t == "documents":
            continue
        shutil.copy(Path(SF_SMOKE) / f"{t}.parquet", Path(out) / f"{t}.parquet")

    docs = [
        # --- casefold minefield -------------------------------------
        ("İstanbul DİYARBAKIR izmir Iı iİ sonunda", "tr", "case—fold"),
        ("ΟΔΥΣΣΕΥΣ ΚΑΙ Ο ΣΟΦΟΣ ΣΥΝ ΤΟΙΣ ΘΕΟΙΣ", "el", "case—fold"),
        ("Σοφός ΕΥΣ. οδυσσεύΣ ΑΣΣΣ Σ μόνος", "el", "case—fold"),
        ("ΑΣ ΒΣ ΓΣ τέλος ΤΕΛΟΣ", "el", "case—fold"),
        ("STRASSE straße größer ẞ WEIẞ weiß", "de", "case—fold"),
        ("ﬁle oﬃce ﬂow ǅungla Ǆ ǆ ǈ", "de", "case—fold"),
        ("kapı KAPI kapi açık AÇIK", "tr", "case—fold"),
        # --- Final_Sigma context forks (ADVICE r11): uncased letters
        # (CJK/Hebrew), non-mark case-ignorables (apostrophe, ZWJ,
        # middle dot), Mc marks, digits and other-cased chars adjacent
        # to capital sigma — exactly where the old \p{L}/\p{M} mirror
        # forked from Java's walk ------------------------------------
        ("漢Σ αΣ漢 ΑΣ漢Β 漢字ΣΕ", "el", "case—fold"),
        ("אΣ ΑאΣ ΑΣא עברΣ", "el", "case—fold"),
        ("ΑΣ'Β ΕΥΣ'Α Α'Σ ΑΣ' ΑΣ’Β ΑΣ’", "el", "case—fold"),
        ("ΑΣ‍Β Α‍Σ ΑΣ­Β Α­Σ", "el", "case—fold"),
        ("ΑΣ·Β ΑΣ:Β ΑΣ.Β ΟΣ·ΔΕ", "el", "case—fold"),
        ("Α1Σ Σ1Σ ΑΣ1Β Α12Σ", "el", "case—fold"),
        ("ªΣ ⅣΣ ⓈΣ ΑΣⅣ ʰΣ ΑʰΣ ΑΣʰ", "el", "case—fold"),
        ("ΑΣऻΒ ΑऻΣ ΑΣ́Β ΑΣ́", "el", "case—fold"),
        # --- astral plane / emoji (UTF-16 surrogate pairs) ----------
        ("𝔘𝔫𝔦𝔠𝔬𝔡𝔢 𝕥𝕖𝕩𝕥 𐍈𐍉 𝛼𝛽𝛾 gothic math", "en", "web"),
        ("👩‍👩‍👧‍👦 rocket🚀launch 🇦🇹🇩🇪 flags ☕️ done", "en", "web"),
        ("🚀🚀🚀 😀😀 🎉", "en", "web"),
        ("emoji💡inside and🔥word boundaries", "en", "web"),
        # --- normalization twins (neither engine normalizes) --------
        ("café café nñino niño twins", "en", "web"),
        ("a" + "́" * 40 + " base combining run", "en", "web"),
        # --- full-width forms survive the ASCII translate table -----
        ("１２３ ＡＢＣ ｈｅｌｌｏ ，．！？ ４５６", "中文", "web"),
        # --- every whitespace flavor (tokenizer split class) --------
        ("alpha beta gamma delta　eps zeta eta", "en", "ws"),
        ("l1\x85l2\x0bl3\x0cl4 nel vt ff", "en", "ws"),
        ("a\x1cb\x1dc\x1ed\x1fe file separators", "en", "ws"),
        ("win\r\nline\rmac\nunix endings", "en", "ws"),
        # --- zero-width & bidi controls stay INSIDE tokens ----------
        ("ze​ro wi‌dth jo‍iner wo﻿rd", "en", "ctrl"),
        ("‮mirrored‬ plain ‏RTL‎ done", "ar", "ctrl"),
        # --- RTL scripts ---------------------------------------------
        ("مرحبا بالعالم هذا نص عربي طويل", "ar", "данные"),
        ("שלום עולם טקסט עברי כאן", "he", "данные"),
        # --- CJK: no spaces, ideographic space, CJK punctuation -----
        ("这是一个没有空格的中文句子日本語のテキスト한국어텍스트", "中文", "web"),
        ("中文　句子。日本語　テキスト。完了", "中文", "web"),
        # --- punctuation outside the translate set survives ---------
        ("“quoted” ‘single’ —emdash… «guillemets» ¡inverted! ¿question?", "en", "src—π"),
        ("price ₹100 ¥5 £3 ≠ ≤ ∑ ∞ µm units", "en", "src—π"),
        # --- translate-set-only doc: zero tokens after normalize ----
        ("€€§§ 12345 ()[]{} .,;:!?", "en", "src—π"),
        # --- URLs / PII with non-ASCII around them -------------------
        ("see https://xn--mller-kva.example.com/path?q=1 and http://example.com/ok page", "en", "web"),
        ("contact ü.müller@example.com or +43 660 1234567 now", "de", "web"),
        # --- sentences with CJK stops and U+2028 ---------------------
        ("First sentence. Second! Third? 中文句。Fourth fifth.", "en", "web"),
        # --- mixed-script single token -------------------------------
        ("αβγabcабв漢字 mixed script token", "en", "web"),
        # --- casefold-equivalent near-dups (dedup families) ----------
        ("The Quick Brown Fox Jumps Over It", "en", "dup"),
        ("the quick brown fox jumps over it", "en", "dup"),
        ("THE QUICK BROWN FOX JUMPS OVER IT", "en", "dup"),
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(docs)), pa.int64()),
            "text": pa.array([d[0] for d in docs], pa.string()),
            "lang": pa.array([d[1] for d in docs], pa.string()),
            "source": pa.array([d[2] for d in docs], pa.string()),
            "n_chars": pa.array([len(d[0]) for d in docs], pa.int64()),
        }
    )
    pq.write_table(tbl, Path(out) / "documents.parquet")
    return str(out)


@pytest.mark.parametrize("name", _sweep_for("unicode"))
def test_registry_survives_unicode_corpus(spark, unicode_dir, name):
    fn = _QUERIES[name]
    if name in _ORACLES:
        compare(spark, _ORACLES[name], fn, unicode_dir, name)
    else:
        fn(spark, unicode_dir).count()  # rows-only: must materialize


def test_duckdb_lower_mirror_matches_spark(spark):
    """config.duckdb_lower_sql is pinned char-for-char against Spark's
    lower() (Java root-locale full casing) on the two known fork classes
    — U+0130 dotted-İ expansion and the Final_Sigma context rule — plus
    mark-transparency, punctuation/digit/EOL boundaries, mixed scripts,
    and inputs already carrying ς/σ/i̇."""
    import duckdb

    from dic_a1_spark.config import duckdb_lower_sql
    from pyspark.sql import functions as F

    battery = [
        "İstanbul DİYARBAKIR Iı iİ", "ΟΔΥΣΣΕΥΣ ΚΑΙ Ο ΣΟΦΟΣ", "Σ", "ΑΣ ΑΣ",
        "ΑΣΣΣ", "Σοφός", "οδυσσεύΣ", "ΕΥΣ.", "ςΣς σΣσ", "ΑΣ,ΒΣ;ΓΣ",
        "STRASSE straße ẞ", "ﬁle oﬃce", "café café", "ΠΡΟΣ ΤΗΝ ΠΟΛΙΝ ΕΙΣ",
        "ÁΣ", "Σ1Σ aΣb", "İ.İ İΣ", "ΟΣ ΤΕΛΟΣ", "моСКВА ΣΕΛΛΑΣ",
        "ΑΣ̇", "ΆΣ", "éΣ fin", "ΑΣ̇Β", "i̇ already", "Σ\nΣ",
        # ADVICE r11 fork shapes: uncased-letter / case-ignorable /
        # Mc / digit / other-cased contexts around capital sigma.
        "漢Σ", "אΣ", "ΑΣ漢", "ΑΣ漢Β", "ΑאΣ", "ΑΣא", "ΑΣ'Β", "Α'Σ",
        "ΑΣ'", "ΑΣ’Β", "Α’Σ", "ΑΣ‍Β", "Α‍Σ", "ΑΣ­Β", "Α­Σ",
        "ΑΣ·Β", "ΑΣ:Β", "ΑΣ.Β", "Α1Σ", "Σ1Σ", "ΑΣ1Β", "ªΣ", "ⅣΣ",
        "ⒶΣ", "ΑΣⅣ", "ʰΣ", "ΑʰΣ", "ΑΣʰ", "ΑΣऻΒ", "ΑऻΣ", "ΑΣ´Β",
        "Α`Σ", "ΑΣˀΒ", "ΑˀΣ", "アΣ", "ΑΣア", "ΑアΣ", "اΣ", "ΑΣا",
    ]
    sdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(battery)], "i long, t string"
    )
    srows = {r["i"]: r["lo"] for r in sdf.select("i", F.lower("t").alias("lo")).collect()}
    con = duckdb.connect()
    expr = duckdb_lower_sql("$tx")
    forks = []
    for i, t in enumerate(battery):
        dlo = con.execute(f"select {expr}", {"tx": t}).fetchone()[0]
        if srows[i] != dlo:
            forks.append((t, srows[i], dlo))
    con.close()
    assert not forks, f"casefold mirror forks: {forks[:5]}"


# ---------------------------------------------------------------------------
# EIGHTH hostile shape (r11): GIANT DOCUMENTS. 100 TB web corpora carry
# multi-MB outliers: a quarter-megabyte page, a single unbroken 30K-char
# token (minified JS / base64 blobs), one boilerplate line repeated
# thousands of times, and a 40K-token doc that is ONE word over and over.
# These are the per-ROW extremes — they stress everything that is linear
# (or worse) in document length inside a single row: char-window hashing
# (substr/winnow/cdc), per-doc pair censuses (colloc/bpe), shingle
# explosion fan-out, Arrow batch sizing in the pandas-UDF paths (batches
# are sized in ROWS, so one huge row must not OOM a batch), and the
# DuckDB oracle's own regex tokenization of quarter-MB strings. Sizes
# here are scaled to test-suite budget; the SHAPE (orders of magnitude
# above the corpus median) is what matters.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def giant_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("giant_sf")
    for t in TABLES:
        if t == "documents":
            continue
        shutil.copy(Path(SF_SMOKE) / f"{t}.parquet", Path(out) / f"{t}.parquet")

    # Sizes: a full-size probe (26K/30K/4K/40K — tools session, r11) ran
    # the ENTIRE registry green at 13 GB peak oracle RSS after the colloc
    # lateral-unnest fix; the standing fixture uses ~60% of that so the
    # suite's six-corpus budget stays sane while every cost stays orders
    # of magnitude above the corpus median (a quadratic regression still
    # blows any of these budgets instantly).
    # A: ~16K diverse tokens (~210 KB) — coprime moduli keep bigrams and
    # shingles varied so nothing collapses by accident.
    big_diverse = " ".join(
        f"w{i % 997}x{i % 491} t{i % 211}" for i in range(8000)
    )
    # B: one unbroken 20K-char token — no whitespace anywhere.
    big_token = "x" * 20_000
    # C: one 10-char line repeated 2500 times (hot boilerplate line).
    hot_lines = "repeat me\n" * 2500
    # D: ONE word 25K times — maximal repetition, minimal diversity.
    one_word = "spam " * 25_000
    docs = [
        (big_diverse, "en", "bulk"),
        (big_token, "en", "bulk"),
        (hot_lines, "en", "bulk"),
        (one_word, "en", "bulk"),
    ]
    # a normal-sized tail so corpus-level stats keep healthy shapes
    for i in range(20):
        docs.append(
            (
                f"ordinary document number {chr(97 + i)} with a few plain "
                f"tokens alpha{i % 5} beta{i % 3} gamma",
                "en" if i % 3 else "de",
                "web",
            )
        )
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(docs)), pa.int64()),
            "text": pa.array([d[0] for d in docs], pa.string()),
            "lang": pa.array([d[1] for d in docs], pa.string()),
            "source": pa.array([d[2] for d in docs], pa.string()),
            "n_chars": pa.array([len(d[0]) for d in docs], pa.int64()),
        }
    )
    pq.write_table(tbl, Path(out) / "documents.parquet")
    return str(out)


@pytest.mark.parametrize("name", _sweep_for("giant"))
def test_registry_survives_giant_corpus(spark, giant_dir, name):
    fn = _QUERIES[name]
    if name in _ORACLES:
        compare(spark, _ORACLES[name], fn, giant_dir, name)
    else:
        fn(spark, giant_dir).count()  # rows-only: must materialize


# ---------------------------------------------------------------------------
# NINTH hostile shape (r11): SKEWKEY TPC-H. The relational complement of
# the SKEW corpus: every foreign key is maximally HOT — one customer owns
# every order, one order/part/supplier carries every lineitem, one nation
# holds every customer and supplier. At cluster scale this is the
# shuffle-key distribution that melts a sort-merge join task (one reducer
# gets the whole fact table) unless AQE skew-join splitting handles it;
# at oracle scale it is also where top-k/min-per-group queries silently
# rely on tiebreaks (every group now TIES on the former discriminator).
# Every q-series / join / window / SQL-surface entry must stay hash-green
# and complete. Corpus tables are copied intact — the corpus families run
# as consistency re-checks, same stance as empty_tpch_dir.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def skewkey_tpch_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("skewkey_tpch_sf")
    for t in TABLES:
        if t in ("orders", "lineitem", "customer", "supplier"):
            continue
        shutil.copy(Path(SF_SMOKE) / f"{t}.parquet", Path(out) / f"{t}.parquet")

    src = Path(SF_SMOKE)

    def rewrite(table: str, hot: dict[str, object]) -> None:
        tbl = pq.read_table(src / f"{table}.parquet")
        n = tbl.num_rows
        for col, val in hot.items():
            idx = tbl.schema.get_field_index(col)
            typ = tbl.schema.field(idx).type
            tbl = tbl.set_column(idx, col, pa.array([val] * n, typ))
        pq.write_table(tbl, Path(out) / f"{table}.parquet")

    con_keys = pq.read_table(src / "orders.parquet", columns=["o_orderkey"])
    hot_order = con_keys["o_orderkey"][0].as_py()
    hot_cust = pq.read_table(src / "customer.parquet", columns=["c_custkey"])[
        "c_custkey"
    ][0].as_py()
    hot_part = pq.read_table(src / "part.parquet", columns=["p_partkey"])[
        "p_partkey"
    ][0].as_py()
    hot_supp = pq.read_table(src / "supplier.parquet", columns=["s_suppkey"])[
        "s_suppkey"
    ][0].as_py()
    hot_nation = pq.read_table(src / "nation.parquet", columns=["n_nationkey"])[
        "n_nationkey"
    ][0].as_py()

    rewrite("orders", {"o_custkey": hot_cust})
    rewrite(
        "lineitem",
        {"l_orderkey": hot_order, "l_partkey": hot_part, "l_suppkey": hot_supp},
    )
    rewrite("customer", {"c_nationkey": hot_nation})
    rewrite("supplier", {"s_nationkey": hot_nation})
    return str(out)


@pytest.mark.parametrize("name", _sweep_for("skewkey"))
def test_registry_survives_skewkey_tpch(spark, skewkey_tpch_dir, name):
    fn = _QUERIES[name]
    if name in _ORACLES:
        compare(spark, _ORACLES[name], fn, skewkey_tpch_dir, name)
    else:
        fn(spark, skewkey_tpch_dir).count()  # rows-only: must materialize


# ---------------------------------------------------------------------------
# TENTH hostile shape (r11): TIME EXTREMES. Event-time operators meet the
# timestamps a 100 TB log actually contains after enough ingestion bugs:
# pre-1970 rows (NEGATIVE epochs — where truncate-toward-zero epoch
# arithmetic forks from floor-based window bucketing, and naive
# `epoch_days % 7` day-of-week goes negative), epoch exactly 0, the
# 2038 32-bit boundary, far-future placeholder dates, exact hour/window
# boundaries (inclusive-start/exclusive-end discipline), and
# microsecond-identical ties (ordering tiebreaks in sessionization,
# as-of joins, first-per-user). Every events entry must stay
# oracle-matched; corpus tables are copied intact.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def time_extremes_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("time_extremes_sf")
    for t in TABLES:
        if t == "events":
            continue
        shutil.copy(Path(SF_SMOKE) / f"{t}.parquet", Path(out) / f"{t}.parquet")

    rows = [
        # --- negative epochs ------------------------------------------
        (datetime(1969, 7, 20, 20, 17, 0), 1, "click", 1.25),
        (datetime(1969, 7, 20, 20, 59, 59, 999999), 1, "purchase", 2.5),
        (datetime(1969, 12, 31, 23, 30, 0), 2, "click", 0.75),
        (datetime(1969, 12, 31, 23, 59, 59, 999999), 2, "error", 1.0),
        # --- epoch zero and the first hour after ----------------------
        (datetime(1970, 1, 1, 0, 0, 0), 2, "purchase", 3.25),
        (datetime(1970, 1, 1, 0, 59, 59), 3, "click", 0.5),
        (datetime(1970, 1, 1, 1, 0, 0), 3, "click", 0.5),   # exact bucket edge
        # --- deep past (proleptic Gregorian both engines) -------------
        (datetime(1582, 10, 15, 12, 0, 0), 4, "click", 4.0),
        # --- microsecond-identical ties (ordering tiebreaks) ----------
        (datetime(2024, 3, 1, 9, 0, 0, 123456), 5, "click", 1.0),
        (datetime(2024, 3, 1, 9, 0, 0, 123456), 5, "purchase", 2.0),
        (datetime(2024, 3, 1, 9, 0, 0, 123456), 6, "click", 3.0),
        # --- 2038 boundary and far future ------------------------------
        (datetime(2038, 1, 19, 3, 14, 7), 6, "purchase", 5.0),
        (datetime(2038, 1, 19, 3, 14, 8), 6, "error", 5.5),
        (datetime(2200, 6, 15, 18, 30, 0), 7, "click", 6.0),
        # --- a healthy modern cluster so windows/sessions have meat ----
        (datetime(2024, 5, 1, 10, 0, 0), 8, "click", 1.5),
        (datetime(2024, 5, 1, 10, 10, 0), 8, "click", 1.5),
        (datetime(2024, 5, 1, 10, 20, 0), 8, "purchase", 7.5),
        (datetime(2024, 5, 1, 11, 45, 0), 8, "click", 1.5),
        (datetime(2024, 5, 2, 10, 0, 0), 9, "click", 2.25),
        (datetime(2024, 5, 8, 10, 0, 0), 9, "click", 2.25),  # retention week 2
    ]
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array([r[0] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows], pa.string()),
            "value": pa.array([r[3] for r in rows], pa.float64()),
            "props": pa.array(['{"k": 1}'] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, Path(out) / "events.parquet")
    return str(out)


@pytest.mark.parametrize("name", _sweep_for("time_extremes"))
def test_registry_survives_time_extremes(spark, time_extremes_dir, name):
    fn = _QUERIES[name]
    if name in _ORACLES:
        compare(spark, _ORACLES[name], fn, time_extremes_dir, name)
    else:
        fn(spark, time_extremes_dir).count()  # rows-only: must materialize
