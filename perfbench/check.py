"""Correctness checks, computed independently of the program under test.

- ``reference_chisq`` recomputes the reviews pipeline's 23 output lines and
  its counters in plain Python, following the reference mrjob job's
  semantics (json.loads with skip-on-error, ``category``/``reviewText``
  defaults, lower -> translate -> split, per-review set, stopword set).
- ``canonical`` turns any result (column names + rows) into an
  order-insensitive digest, the same normalisation the repository's oracle
  gate uses; ``oracle_digests`` applies it to the registered DuckDB oracle
  SQL over the same parquet files.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from collections import Counter

# The reference tokenizer's translate set (src/wordCountJob.py:51 of the
# reference job): punctuation, digits, tab and apostrophe become spaces.
_TOKEN_CHARS = '()[]{}.!?,;:+=-_"~#@&*%€$§/\\1234567890\t' + "'"
_TABLE = str.maketrans(_TOKEN_CHARS, " " * len(_TOKEN_CHARS))


def reference_chisq(reviews_dir: str, stopwords_path: str, k: int = 75) -> dict:
    """Expected output lines and counters of the chi-square pipeline over
    the review files in ``reviews_dir``."""
    with open(stopwords_path, encoding="utf-8") as fh:
        stop = {ln.strip() for ln in fh if ln.strip()}
    df: Counter = Counter()
    per_cat: Counter = Counter()
    for part in sorted(os.listdir(reviews_dir)):
        with open(os.path.join(reviews_dir, part), encoding="utf-8") as fh:
            for line in fh:
                try:
                    rec = json.loads(line)
                except ValueError:
                    continue
                cat = rec.get("category", "Unknown")
                per_cat[cat] += 1
                words = set(rec.get("reviewText", "").lower().translate(_TABLE).split())
                words -= stop
                for w in words:
                    df[(w, cat)] += 1
    total = sum(per_cat.values())
    word_n: Counter = Counter()
    for (w, _), n in df.items():
        word_n[w] += n
    scored: dict[str, list[tuple[str, float]]] = {}
    for (w, cat), n_ in df.items():
        a = float(n_)
        b = float(word_n[w] - n_)
        c = float(per_cat[cat] - n_)
        d = float(total - word_n[w] - per_cat[cat] + n_)
        if a + b == 0 or a + c == 0 or b + d == 0 or c + d == 0:
            continue
        chi2 = float(total) * ((a * d - b * c) * (a * d - b * c)) / (
            ((a + b) * (a + c)) * ((b + d) * (c + d))
        )
        scored.setdefault(cat, []).append((w, chi2))
    lines, vocab = [], set()
    for cat in sorted(scored):
        top = sorted(scored[cat], key=lambda t: (-t[1], t[0]))[:k]
        vocab.update(w for w, _ in top)
        lines.append(f"{cat}\t{dict(top)!s}")
    lines.append(str(sorted(vocab)))
    return {"lines": lines, "total": total, "per_category": dict(per_cat)}


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def canonical(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result: columns sorted by name, cells
    normalised (NaN, timestamps, arrays), rows sorted by ``repr``."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    body = sorted((repr(tuple(_norm(r[i]) for i in idx)) for r in rows))
    h = hashlib.sha256()
    h.update(repr(sorted(columns)).encode())
    for line in body:
        h.update(line.encode())
        h.update(b"\n")
    return f"{len(body)}:{h.hexdigest()}"


def oracle_digests(table_dir: str, names: list[str], oracles: dict[str, str]) -> dict[str, str]:
    """Digest of each named query's DuckDB oracle over ``table_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(table_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(table_dir, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
        out = {}
        for name in names:
            res = con.execute(oracles[name])
            out[name] = canonical([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()
