"""Seeded input generators for the benchmark workloads.

Every generator takes an integer seed and writes files whose bytes depend
only on that seed and the sizes in ``config.json``. The program under test
only ever sees these files.

- ``write_reviews``: line-delimited Amazon-style reviews JSON in part files (22 skewed
  categories, Zipfian vocabulary with category-skewed words, log-normal
  review lengths, a share of malformed lines and of lines lacking
  ``category``/``reviewText``) plus a stopwords side file with duplicate
  lines.
- ``write_tables``: the ten tables of ``config.TABLES`` (TPC-H-style star
  schema, ``events``, ``documents``, ``embeddings``) as parquet, with the
  schema of the scale-factor directories described in TESTDATA.md.
- ``write_dedup_corpus``: ``documents`` and ``embeddings`` with planted
  near-duplicate clusters whose share and sizes come from the config.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATEGORIES = (
    "Apps_for_Android", "Automotive", "Baby", "Beauty", "Book",
    "CDs_and_Vinyl", "Cell_Phones_and_Accessorie", "Clothing_Shoes_and_Jewelry",
    "Digital_Music", "Electronic", "Grocery_and_Gourmet_Food",
    "Health_and_Personal_Care", "Home_and_Kitche", "Kindle_Store",
    "Movies_and_TV", "Musical_Instrument", "Office_Product",
    "Patio_Lawn_and_Garde", "Pet_Supplie", "Sports_and_Outdoor",
    "Tools_and_Home_Improvement", "Toys_and_Game",
)
# Punctuation the reference tokenizer maps to spaces, plus '<'/'>' which it
# keeps as token characters.
_DECOR = (",", ".", "!", "?", ";", ":", "(", ")", "'s", "-", "\"", "#1", "<3", ">")
_STOPWORDS = (
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "from",
    "has", "have", "he", "her", "his", "i", "if", "in", "is", "it", "its",
    "me", "my", "not", "of", "on", "or", "so", "that", "the", "their",
    "there", "they", "this", "to", "was", "we", "were", "with", "you",
)
_DOC_WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
_LANGS = ("en", "de", "fr", "es", "zh")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, stream) so adding one table does
    not shift the values of another."""
    salt = int.from_bytes(stream.encode(), "little") % (2**63)
    return np.random.default_rng([seed, salt])


def _pseudo_words(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lowercase pseudo-words of 3-10 letters."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out: list[str] = []
    seen = set(_STOPWORDS)
    while len(out) < n:
        w = "".join(rng.choice(letters, size=int(rng.integers(3, 11))))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return np.cumsum(p / p.sum())


# ---------------------------------------------------------------------------
# reviews_chisq
# ---------------------------------------------------------------------------


def write_reviews(seed: int, cfg: dict, out_dir: str) -> dict:
    """Write ``reviews/part-*.json`` and ``stopwords.txt``; return their
    paths, the review count and the reviews' bytes."""
    rng = _rng(seed, "reviews")
    n = int(cfg["reviews"])
    vocab = _pseudo_words(rng, int(cfg["vocab"]))
    words = np.array(list(_STOPWORDS) + vocab, dtype=object)
    n_stop = len(_STOPWORDS)
    cdf = _zipf_cdf(len(words), float(cfg["zipf_s"]))
    # Category skew: Book is ~28% of reviews, the rest Zipf-like.
    cat_w = 1.0 / np.arange(1, len(CATEGORIES) + 1) ** 0.6
    cat_w[CATEGORIES.index("Book")] = 0.0
    cat_w = cat_w / cat_w.sum() * 0.72
    cat_w[CATEGORIES.index("Book")] = 0.28
    cats = rng.choice(len(CATEGORIES), size=n, p=cat_w)
    # Each category boosts its own slice of the vocabulary.
    own = int(cfg["category_words"])
    own_start = rng.integers(n_stop, len(words) - own, size=len(CATEGORIES))
    lengths = np.clip(
        rng.lognormal(float(cfg["len_mu"]), float(cfg["len_sigma"]), size=n), 1, 600
    ).astype(np.int64)
    total = int(lengths.sum())
    idx = np.searchsorted(cdf, rng.random(total), side="right")
    idx = np.minimum(idx, len(words) - 1)
    per_tok_cat = np.repeat(cats, lengths)
    skewed = rng.random(total) < float(cfg["category_share"])
    idx[skewed] = own_start[per_tok_cat[skewed]] + np.minimum(
        (rng.pareto(1.2, size=int(skewed.sum())) * 4).astype(np.int64), own - 1
    )
    toks = words[idx]
    decor = rng.random(total)
    upper = decor < 0.05
    toks[upper] = [t.capitalize() for t in toks[upper]]
    punct = decor > 0.92
    toks[punct] = [
        t + _DECOR[k] for t, k in zip(toks[punct], rng.integers(0, len(_DECOR), int(punct.sum())))
    ]
    ends = np.cumsum(lengths)
    starts = ends - lengths
    kind = rng.random(n)
    bad_p = float(cfg["malformed_share"])
    miss_p = float(cfg["missing_field_share"])
    # Part files, like the splits of the reference's HDFS input: one file
    # of a few MB would be a single Spark partition and leave cores idle.
    path = os.path.join(out_dir, "reviews")
    os.makedirs(path)
    parts = int(cfg["parts"])
    for p in range(parts):
        with open(os.path.join(path, f"part-{p:05d}.json"), "w", encoding="utf-8") as fh:
            for i in range(p * n // parts, (p + 1) * n // parts):
                fh.write(_review_line(seed, i, toks[starts[i]:ends[i]], CATEGORIES[cats[i]],
                                      kind[i], bad_p, miss_p) + "\n")
    stop_path = os.path.join(out_dir, "stopwords.txt")
    extra = list(words[n_stop : n_stop + int(cfg["stopword_extra"])])
    lines = list(_STOPWORDS) + extra + list(_STOPWORDS[::4]) + extra[:5]
    with open(stop_path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    size = sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
    return {"reviews": path, "stopwords": stop_path, "lines": n, "bytes": size}


def _review_line(seed: int, i: int, toks, category: str, kind: float, bad_p: float,
                 miss_p: float) -> str:
    rec = {
        "reviewerID": f"A{(seed * 7919 + i) % 10**12:012d}",
        "asin": f"B{i % 99991:09d}",
        "helpful": [int(i % 5), int(i % 7)],
        "reviewText": " ".join(toks),
        "overall": float(1 + i % 5),
        "summary": str(toks[0]),
        "unixReviewTime": 1300000000 + i * 37,
        "category": category,
    }
    if kind < bad_p:
        line = json.dumps(rec)
        return line[: len(line) // 2]  # truncated: malformed JSON
    if kind < bad_p + miss_p / 2:
        del rec["category"]
    elif kind < bad_p + miss_p:
        del rec["reviewText"]
    return json.dumps(rec)


# ---------------------------------------------------------------------------
# query_mix: the ten tables of config.TABLES
# ---------------------------------------------------------------------------

_EPOCH = dt.datetime(1970, 1, 1)


def _micros(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds()) * 1_000_000


def _days(rng, n, start: dt.datetime, end: dt.datetime) -> pa.Array:
    day = 86_400_000_000
    lo, hi = _micros(start) // day, _micros(end) // day
    return pa.array(rng.integers(lo, hi + 1, size=n) * day, pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _write(table: pa.Table, out_dir: str, name: str) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


def _documents(rng, n: int, dup_share: float, vocab=_DOC_WORDS, cluster_max=2) -> pa.Table:
    """Documents over a small word list; ``dup_share`` of them are
    near-duplicates (one word appended or replaced) of an earlier doc,
    in clusters of up to ``cluster_max`` members."""
    words = np.array(vocab, dtype=object)
    # Copies per base doc average (1 + cluster_max) / 2, so this start
    # probability makes copies ``dup_share`` of all documents.
    p_cluster = dup_share / ((1.0 - dup_share) * (1 + cluster_max) / 2)
    texts: list[str] = []
    i = 0
    while i < n:
        ln = int(rng.integers(8, 90))
        base = list(words[rng.integers(0, len(words), size=ln)])
        texts.append(" ".join(base))
        i += 1
        if rng.random() < p_cluster:
            for _ in range(int(rng.integers(1, cluster_max + 1))):
                if i >= n:
                    break
                v = list(base)
                if rng.random() < 0.5:
                    v.append("dup")
                else:
                    v[int(rng.integers(0, len(v)))] = str(words[rng.integers(0, len(words))])
                texts.append(" ".join(v))
                i += 1
    order = rng.permutation(n)
    texts = [texts[j] for j in order]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, size=n, p=_LANG_P), pa.string()),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, size=n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int, dup_share: float, cluster_max: int, noise: float) -> pa.Table:
    """Unit vectors; ``dup_share`` of them sit in clusters of 2..cluster_max
    around a random centre (cosine to the centre ~ 1/sqrt(1+noise^2))."""
    vecs = rng.standard_normal((n, dim))
    i = 0
    while i < n:
        if rng.random() < dup_share / 2:
            size = int(rng.integers(2, cluster_max + 1))
            centre = rng.standard_normal(dim)
            centre /= np.linalg.norm(centre)
            for j in range(i, min(n, i + size)):
                vecs[j] = centre + noise * rng.standard_normal(dim) / np.sqrt(dim)
            i += size
        else:
            i += 1
    vecs = vecs[rng.permutation(n)]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim), pa.int32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, size=n), pa.int32()),
    })


def write_tables(seed: int, cfg: dict, out_dir: str) -> dict:
    """Write region, nation, customer, supplier, part, orders, lineitem,
    events, documents and embeddings parquet files into ``out_dir``."""
    rng = _rng(seed, "tables")
    n_cust, n_supp, n_part = int(cfg["customer"]), int(cfg["supplier"]), int(cfg["part"])
    n_ord, n_li, n_ev = int(cfg["orders"]), int(cfg["lineitem"]), int(cfg["events"])
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), out_dir, "region")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), out_dir, "nation")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    }), out_dir, "customer")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    }), out_dir, "supplier")
    adj = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    }), out_dir, "part")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    }), out_dir, "orders")
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
    }), out_dir, "lineitem")
    t0 = _micros(dt.datetime(2024, 1, 1))
    ts = np.sort(rng.integers(t0, t0 + 30 * 86_400_000_000, n_ev))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, int(cfg["users"]), n_ev), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), out_dir, "events")
    _write(_documents(rng, int(cfg["documents"]), 0.05), out_dir, "documents")
    _write(_embeddings(rng, int(cfg["embeddings"]), 64, 0.0, 2, 0.0), out_dir, "embeddings")
    return {"dir": out_dir, "rows": _row_counts(out_dir)}


def write_dedup_corpus(seed: int, cfg: dict, out_dir: str) -> dict:
    """Write ``documents`` and ``embeddings`` with planted near-duplicate
    clusters (shares and sizes from ``cfg``)."""
    rng = _rng(seed, "dedup")
    vocab = tuple(_pseudo_words(rng, int(cfg["doc_vocab"])))
    _write(_documents(rng, int(cfg["documents"]), float(cfg["doc_dup_share"]),
                      vocab=vocab, cluster_max=int(cfg["doc_cluster_max"])),
           out_dir, "documents")
    _write(_embeddings(rng, int(cfg["embeddings"]), 64, float(cfg["emb_dup_share"]),
                       int(cfg["emb_cluster_max"]), float(cfg["emb_noise"])),
           out_dir, "embeddings")
    return {"dir": out_dir, "rows": _row_counts(out_dir)}


def _row_counts(out_dir: str) -> dict:
    return {
        f[: -len(".parquet")]: pq.read_metadata(os.path.join(out_dir, f)).num_rows
        for f in sorted(os.listdir(out_dir)) if f.endswith(".parquet")
    }
