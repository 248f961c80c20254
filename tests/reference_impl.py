"""Independent plain-Python implementation of the reference pipeline's
SEMANTICS (tokenize -> per-review dedup -> stopword filter -> doc frequency
-> chi-square -> top-k), written from the spec in SURVEY.md §2 for use as a
test oracle. Deliberately structured nothing like either the reference or
the Spark engine: single-threaded dict folding over parsed lines.

Also holds the interpreted Spark-expression forms of the MinHash
signatures, the references the Arrow signature packer is pinned to."""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dic_a1_spark.operators.dedup import MINHASH_HASHES
from dic_a1_spark.operators.lsh import _A, _B, _M

PUNCT = '()[]{}.!?,;:+=-_"~#@&*%€$§/\\1234567890\t' + "'"
_TABLE = {ord(ch): " " for ch in PUNCT}


def tokenize(text: str) -> set[str]:
    return {w for w in text.lower().translate(_TABLE).split() if w}


def pipeline(lines: list[str], stopwords: set[str], k: int):
    """Returns (per_category_topk: {cat: {word: chi2}}, total, cat_counts)."""
    doc_freq: dict[tuple[str, str], int] = {}
    cat_counts: dict[str, int] = {}
    total = 0
    for line in lines:
        try:
            rec = json.loads(line)
            if not isinstance(rec, dict):
                continue
        except Exception:
            continue
        cat = rec.get("category", "Unknown")
        text = rec.get("reviewText", "")
        total += 1
        cat_counts[cat] = cat_counts.get(cat, 0) + 1
        for word in tokenize(text):
            if word not in stopwords:
                doc_freq[(word, cat)] = doc_freq.get((word, cat), 0) + 1

    word_totals: dict[str, int] = {}
    for (word, _cat), n in doc_freq.items():
        word_totals[word] = word_totals.get(word, 0) + n

    scores: dict[str, list[tuple[str, float]]] = {}
    for (word, cat), n in doc_freq.items():
        a = n
        b = word_totals[word] - a
        c = cat_counts[cat] - a
        d = total - a - b - c
        if any(x == 0 for x in (a + b, a + c, b + d, c + d)):
            continue
        chi2 = (total * (a * d - b * c) ** 2) / ((a + b) * (a + c) * (b + d) * (c + d))
        scores.setdefault(cat, []).append((word, chi2))

    out: dict[str, dict[str, float]] = {}
    for cat, pairs in scores.items():
        pairs.sort(key=lambda t: (-t[1], t[0]))
        out[cat] = dict(pairs[:k])
    return out, total, cat_counts


# --- MinHash signature references -----------------------------------------
# The interpreted 16-fold forms the Arrow min-signature packer
# (dedup.min_sig_batch) replaced: Spark expressions, kept as the
# bit-equality references of test_dedup and test_lsh, whose hostile
# arrays (empty, NULL, [0], int64 extremes) no oracle reaches.

def _minhash_signatures_fold(hashed_shingles: DataFrame) -> DataFrame:
    """The interpreted 16-fold form of dedup.minhash_signatures.

    SQL-text lambdas, NOT F.transform(col, python_lambda): with multiple
    Python-lambda HOFs in one projection, PySpark 4.1 cross-wires the
    lambda variables (h0 silently returns another column's hash, and the
    wiring varies run to run). SQL-parsed lambdas scope their variables
    correctly. Regression-pinned by test_minhash_signatures_deterministic."""
    hashes = [
        F.expr(f"array_min(transform(hs, h -> xxhash64({i}, h)))").alias(f"h{i}")
        for i in range(MINHASH_HASHES)
    ]
    return (
        hashed_shingles.select("doc_id", *hashes)
        .select(
            "doc_id",
            F.array(*[f"h{i}" for i in range(MINHASH_HASHES)]).alias("sig"),
        )
    )


def _md5_minhash_signatures_fold(hashed_shingles: DataFrame) -> DataFrame:
    """The interpreted 16-fold form of lsh._md5_minhash_signatures."""
    hashes = [
        F.expr(f"array_min(transform(hs, h -> ({_A[i]}L * h + {_B[i]}L) % {_M}L))").alias(
            f"h{i}"
        )
        for i in range(MINHASH_HASHES)
    ]
    return (
        hashed_shingles.select("doc_id", *hashes)
        .select(
            "doc_id",
            F.array(*[f"h{i}" for i in range(MINHASH_HASHES)]).alias("sig"),
        )
    )


# --- Min-label rounds -------------------------------------------------------

def min_label_rounds(
    edges: list[tuple[int, int]], nodes: list[int], k: int
) -> dict[int, int]:
    """Labels after exactly k synchronous rounds of
    label(v) <- min(label(v), min neighbour label), from label(v) = v, over
    the undirected graph `edges` on `nodes`: the fixed-depth recurrence
    the pair-graph groups oracles unroll."""
    nbrs: dict[int, set[int]] = {v: set() for v in nodes}
    for a, b in edges:
        nbrs[a].add(b)
        nbrs[b].add(a)
    lab = {v: v for v in nodes}
    for _ in range(k):
        lab = {v: min([lab[v]] + [lab[u] for u in nbrs[v]]) for v in nodes}
    return lab
