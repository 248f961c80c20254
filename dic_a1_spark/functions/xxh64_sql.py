"""Spark-compatible XXH64 as *generated DuckDB SQL* — the bridge that turns
the xxhash64 production dedup paths (operators/dedup.py) from rows-only
into fully hash-certified oracle queries.

Spark's ``xxhash64(...)`` expression implements Yann Collet's public XXH64
algorithm (seed 42 by default): strings hash their UTF-8 bytes through the
full stripe/tail pipeline, BIGINT inputs use the fixed 8-byte specialization,
INT inputs the 4-byte one, and a multi-argument call folds left-to-right with
each hash seeding the next. DuckDB has no xxhash64 — so this module *derives*
it: a small Python reference implementation (validated bit-for-bit against
``F.xxhash64`` in tests/test_xxh64_sql.py) plus generators that emit
equivalent DuckDB SQL expressions over HUGEINT arithmetic.

Why this is feasible in SQL at all:

- All multiplications in XXH64 have one CONSTANT operand, so a wrapping
  64-bit multiply needs only ``(lo32(e)*c + (hi32(e)*c mod 2^32)*2^32) mod
  2^64`` — every intermediate fits comfortably in a signed 128-bit HUGEINT.
- Rotates/shifts/xors are exact on non-negative HUGEINTs below 2^64
  (DuckDB's ``xor`` works on HUGEINT directly).
- The variable-length byte loops (32-byte stripes, 8-byte words, tail
  bytes) become ``list_reduce`` folds. DuckDB 1.0 has no initial-value
  ``list_reduce``, so the fold list is seeded by *prepending the initial
  accumulator struct* to the per-iteration index structs.
- Sequential let-bindings (each hash step referencing the previous) are
  emulated with single-element ``list_transform([expr], v -> body)[1]``
  wrappers, keeping generated-expression growth LINEAR in the number of
  steps instead of exponential.

The generated string-hash expression is ~30 KB of SQL and evaluates at
roughly 5K hashes/s in DuckDB — oracles built on it must hash DISTINCT
strings only (the synthetic corpus has a 31-word vocabulary, so distinct
tokens/shingles stay square-root-small relative to (doc, token) rows) and
join hashes back to per-doc rows. Fixed-width folds (the BIGINT chain
shapes) have a second, ~25x faster emission: :func:`xxh64_fold_layers`
renders them as liveness-pruned chains of MATERIALIZED projection CTEs
(plain vectorized HUGEINT arithmetic), which is what the dedup oracles
use for their per-shingle hash families and band/bucket hashes.

Scale note: this module is VERIFICATION-ONLY plumbing. Production traffic
runs Spark's JVM-side xxhash64; nothing here ships in a 100 TB plan.
"""

from __future__ import annotations

_M = 1 << 64
_MASK = _M - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


# ---------------------------------------------------------------------------
# Python reference (constant folding + test ground truth)
# ---------------------------------------------------------------------------

def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _MASK
    h ^= h >> 29
    h = (h * _P3) & _MASK
    h ^= h >> 32
    return h


def py_xxh64_bytes(data: bytes, seed: int = 42) -> int:
    """Unsigned XXH64 of `data` — equals Spark xxhash64 on the UTF-8 string."""
    n = len(data)

    def u64(i: int) -> int:
        return int.from_bytes(data[i : i + 8], "little")

    def u32(i: int) -> int:
        return int.from_bytes(data[i : i + 4], "little")

    if n >= 32:
        v1 = (seed + _P1 + _P2) & _MASK
        v2 = (seed + _P2) & _MASK
        v3 = seed & _MASK
        v4 = (seed - _P1) & _MASK
        i = 0
        while i + 32 <= n:
            v1 = (_rotl((v1 + u64(i) * _P2) & _MASK, 31) * _P1) & _MASK
            v2 = (_rotl((v2 + u64(i + 8) * _P2) & _MASK, 31) * _P1) & _MASK
            v3 = (_rotl((v3 + u64(i + 16) * _P2) & _MASK, 31) * _P1) & _MASK
            v4 = (_rotl((v4 + u64(i + 24) * _P2) & _MASK, 31) * _P1) & _MASK
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _MASK
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _MASK, 31) * _P1) & _MASK
            h = (h * _P1 + _P4) & _MASK
    else:
        h = (seed + _P5) & _MASK
        i = 0
    h = (h + n) & _MASK
    while i + 8 <= n:
        h ^= (_rotl((u64(i) * _P2) & _MASK, 31) * _P1) & _MASK
        h = (_rotl(h, 27) * _P1 + _P4) & _MASK
        i += 8
    if i + 4 <= n:
        h ^= (u32(i) * _P1) & _MASK
        h = (_rotl(h, 23) * _P2 + _P3) & _MASK
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _MASK
        h = (_rotl(h, 11) * _P1) & _MASK
        i += 1
    return _fmix(h)


def py_xxh64_long(v: int, seed: int) -> int:
    """Unsigned XXH64 of one 64-bit value — Spark xxhash64 on a BIGINT col."""
    v &= _MASK
    h = (seed + _P5 + 8) & _MASK
    h ^= (_rotl((v * _P2) & _MASK, 31) * _P1) & _MASK
    h = (_rotl(h, 27) * _P1 + _P4) & _MASK
    return _fmix(h)


def py_xxh64_int(v: int, seed: int) -> int:
    """Unsigned XXH64 of one 32-bit value — Spark xxhash64 on an INT literal.
    Used to CONSTANT-FOLD band/bucket id prefixes at SQL-generation time."""
    h = (seed + _P5 + 4) & _MASK
    h ^= ((v & 0xFFFFFFFF) * _P1) & _MASK
    h = (_rotl(h, 23) * _P2 + _P3) & _MASK
    return _fmix(h)


def py_to_signed(u: int) -> int:
    return u - _M if u >= (1 << 63) else u


# ---------------------------------------------------------------------------
# SQL generation (HUGEINT domain: every value stays in [0, 2^64))
# ---------------------------------------------------------------------------

def _namer():
    c = [0]

    def nv() -> str:
        c[0] += 1
        return f"__xx{c[0]}"

    return nv


def _let(var: str, expr: str, body: str) -> str:
    """Single-element list_transform as a sequential let-binding."""
    return f"list_transform([{expr}], {var} -> ({body}))[1]"


_M32 = (1 << 32) - 1


def _s_mulc(e: str, c: int) -> str:
    """(e * c) mod 2^64 for constant c — split multiply, fits HUGEINT.
    Bitwise &/>>/<< only: DuckDB's HUGEINT %-and-// go through 128-bit
    division (~22x slower than the bitwise forms, measured)."""
    return (
        f"(((({e}) & {_M32}) * {c} + "
        f"((((({e}) >> 32) * {c}) & {_M32}) << 32)) & {_MASK})"
    )


def _s_rotl(e: str, r: int) -> str:
    return f"(((({e}) & {(1 << (64 - r)) - 1}) << {r}) | (({e}) >> {64 - r}))"


def _s_xor(a: str, b: str) -> str:
    return f"xor(CAST({a} AS HUGEINT), CAST({b} AS HUGEINT))"


def _s_shr(e: str, r: int) -> str:
    return f"(({e}) >> {r})"


def _s_fmix(h: str, nv) -> str:
    a, b, c, d = nv(), nv(), nv(), nv()
    return _let(
        a, _s_xor(h, _s_shr(h, 33)),
        _let(
            b, _s_mulc(a, _P2),
            _let(
                c, _s_xor(b, _s_shr(b, 29)),
                _let(d, _s_mulc(c, _P3), _s_xor(d, _s_shr(d, 32))),
            ),
        ),
    )


def _s_round0(v: str) -> str:
    """rotl(v * P2, 31) * P1 — `v` must be a short reference (it is duplicated)."""
    return _s_mulc(_s_rotl(_s_mulc(v, _P2), 31), _P1)


def _s_u64(bs: str, o: str) -> str:
    """Little-endian u64 read at 0-based byte offset expr `o` (duplicated 8x)."""
    return (
        "("
        + " + ".join(
            f"{bs}[CAST(({o}) + {j + 1} AS BIGINT)] * {256 ** j}" for j in range(8)
        )
        + ")"
    )


def _s_u32(bs: str, o: str) -> str:
    return (
        "("
        + " + ".join(
            f"{bs}[CAST(({o}) + {j + 1} AS BIGINT)] * {256 ** j}" for j in range(4)
        )
        + ")"
    )


def to_signed_sql(e: str) -> str:
    """[0, 2^64) HUGEINT expr -> signed BIGINT (Spark's xxhash64 output)."""
    return (
        f"CAST(CASE WHEN ({e}) >= {1 << 63} THEN ({e}) - {_M} "
        f"ELSE ({e}) END AS BIGINT)"
    )


def to_unsigned_sql(e: str) -> str:
    """Signed BIGINT expr -> [0, 2^64) HUGEINT (two's-complement reinterpret)."""
    return f"((CAST({e} AS HUGEINT) + {_M}) & {_MASK})"


def xxh64_str_sql_unsigned(s: str, seed: int | str = 42) -> str:
    """DuckDB SQL expr: unsigned XXH64 of the UTF-8 bytes of VARCHAR expr `s`.

    Layout mirrors py_xxh64_bytes exactly; byte access goes through
    hex(encode(s)) (DuckDB hex is UPPERCASE) into a HUGEINT byte list.

    `seed` is a Python int (constant-folded) or a SQL expr yielding an
    UNSIGNED [0, 2^64) HUGEINT. An expression seed is spliced in FIVE
    places (four stripe-accumulator inits + the short-input base), so
    pass a cheap reference — a column carrying the previous hash of a
    multi-string chain (the Spark ``xxhash64(s1, s2, s3)`` shape), not a
    nested hash expression.
    """
    nv = _namer()
    hx, n, bs = nv(), nv(), nv()
    i = nv()
    bytes_list = (
        f"list_transform(range(0, CAST({n} AS BIGINT)), {i} -> "
        f"CAST((strpos('0123456789ABCDEF', substr({hx}, CAST(2*{i}+1 AS BIGINT), 1)) - 1) * 16 "
        f"+ (strpos('0123456789ABCDEF', substr({hx}, CAST(2*{i}+2 AS BIGINT), 1)) - 1) AS HUGEINT))"
    )

    # -- stripe fold (only reached when n >= 32) --
    acc, x, lanes, k = nv(), nv(), nv(), nv()
    of = f"CAST({x}.k * 32 AS BIGINT)"
    lane_struct = (
        "{"
        + ", ".join(f"'l{j}': {_s_u64(bs, f'{of} + {8 * j}')}" for j in range(4))
        + "}"
    )

    def _round(a: str, lane: str) -> str:
        return _s_mulc(_s_rotl(f"((({a}) + {_s_mulc(lane, _P2)}) & {_MASK})", 31), _P1)

    round_body = (
        "{"
        + ", ".join(
            [f"'v{j + 1}': {_round(f'{acc}.v{j + 1}', f'{lanes}.l{j}')}" for j in range(4)]
            + [f"'k': {x}.k"]
        )
        + "}"
    )
    stripe_lambda = (
        f"({acc}, {x}) -> list_transform([{lane_struct}], {lanes} -> {round_body})[1]"
    )
    # Stripe-accumulator inits: (seed + C) mod 2^64 with C in
    # {P1+P2, P2, 0, 2^64-P1} (the subtraction rewritten as an addition so
    # expression seeds never go negative).
    init_cs = [(_P1 + _P2) & _MASK, _P2, 0, (_M - _P1) & _MASK]
    if isinstance(seed, int):
        init_exprs = [
            f"CAST({(seed + c) & _MASK} AS HUGEINT)" for c in init_cs
        ]
    else:
        init_exprs = [f"((({seed}) + {c}) & {_MASK})" for c in init_cs]
    init_struct = (
        "{"
        + ", ".join(
            [f"'v{j + 1}': {init_exprs[j]}" for j in range(4)]
            + ["'k': CAST(0 AS HUGEINT)"]
        )
        + "}"
    )
    dummy_struct = (
        "{"
        + ", ".join(
            [f"'v{j + 1}': CAST(0 AS HUGEINT)" for j in range(4)]
            + [f"'k': CAST({k} AS HUGEINT)"]
        )
        + "}"
    )
    stripes = (
        f"list_reduce([{init_struct}] || "
        f"list_transform(range(0, CAST({n} // 32 AS BIGINT)), {k} -> {dummy_struct}), "
        f"{stripe_lambda})"
    )
    st, m0, m1, m2, m3, m4 = nv(), nv(), nv(), nv(), nv(), nv()
    merged = (
        f"(({_s_rotl(f'{st}.v1', 1)} + {_s_rotl(f'{st}.v2', 7)} + "
        f"{_s_rotl(f'{st}.v3', 12)} + {_s_rotl(f'{st}.v4', 18)}) & {_MASK})"
    )

    def merge_step(hvar: str, v: str) -> str:
        return f"(({_s_mulc(_s_xor(hvar, _s_round0(v)), _P1)} + {_P4}) & {_MASK})"

    merge_chain = _let(
        m1, merge_step(m0, f"{st}.v1"),
        _let(
            m2, merge_step(m1, f"{st}.v2"),
            _let(m3, merge_step(m2, f"{st}.v3"),
                 _let(m4, merge_step(m3, f"{st}.v4"), m4)),
        ),
    )
    stripe_expr = f"list_transform([{stripes}], {st} -> ({_let(m0, merged, merge_chain)}))[1]"

    hpre = nv()
    if isinstance(seed, int):
        short_h = f"CAST({(seed + _P5) & _MASK} AS HUGEINT)"
    else:
        short_h = f"((({seed}) + {_P5}) & {_MASK})"
    case_h = (
        f"CASE WHEN {n} >= 32 THEN ({stripe_expr}) ELSE {short_h} END"
    )

    # -- tail: 8-byte words from the stripe boundary, then 4 bytes, then bytes --
    h1, base, nw = nv(), nv(), nv()
    wa, wx, wt, wk = nv(), nv(), nv(), nv()
    word_o = f"CAST({base} + {wx}.k * 8 AS BIGINT)"
    word_body = (
        f"{{'h': (({_s_mulc(_s_rotl(_s_xor(f'{wa}.h', wt), 27), _P1)} + {_P4}) & {_MASK}), "
        f"'k': {wx}.k}}"
    )
    word_lambda = (
        f"({wa}, {wx}) -> list_transform([CAST({_s_round0(_s_u64(bs, word_o))} AS HUGEINT)], "
        f"{wt} -> {word_body})[1]"
    )
    words = (
        f"list_reduce([{{'h': {h1}, 'k': CAST(0 AS HUGEINT)}}] || "
        f"list_transform(range(0, CAST({nw} AS BIGINT)), {wk} -> "
        f"{{'h': CAST(0 AS HUGEINT), 'k': CAST({wk} AS HUGEINT)}}), {word_lambda}).h"
    )

    h2, o4, h3, bstart = nv(), nv(), nv(), nv()
    four = (
        f"(({_s_mulc(_s_rotl(_s_xor(h2, _s_mulc(_s_u32(bs, f'CAST({o4} AS BIGINT)'), _P1)), 23), _P2)} "
        f"+ {_P3}) & {_MASK})"
    )
    case4 = f"CASE WHEN ({n} - {o4}) >= 4 THEN {four} ELSE {h2} END"

    ba, bx, bk = nv(), nv(), nv()
    byte_ref = f"{bs}[CAST({bstart} + {bx}.k + 1 AS BIGINT)]"
    byte_body = (
        f"{{'h': {_s_mulc(_s_rotl(_s_xor(f'{ba}.h', _s_mulc(byte_ref, _P5)), 11), _P1)}, "
        f"'k': {bx}.k}}"
    )
    hb = nv()
    bytes_fold = (
        f"list_reduce([{{'h': {h3}, 'k': CAST(0 AS HUGEINT)}}] || "
        f"list_transform(range(0, CAST({n} - {bstart} AS BIGINT)), {bk} -> "
        f"{{'h': CAST(0 AS HUGEINT), 'k': CAST({bk} AS HUGEINT)}}), "
        f"({ba}, {bx}) -> {byte_body}).h"
    )

    core = _let(
        hpre, case_h,
        _let(
            h1, f"(({hpre} + {n}) & {_MASK})",
            _let(
                base, f"(({n} // 32) * 32)",
                _let(
                    nw, f"(({n} - {base}) // 8)",
                    _let(
                        h2, words,
                        _let(
                            o4, f"({base} + {nw} * 8)",
                            _let(
                                h3, case4,
                                _let(
                                    bstart,
                                    f"({o4} + CASE WHEN ({n} - {o4}) >= 4 THEN 4 ELSE 0 END)",
                                    _let(hb, bytes_fold, _s_fmix(hb, nv)),
                                ),
                            ),
                        ),
                    ),
                ),
            ),
        ),
    )

    return (
        f"list_transform([hex(encode({s}))], {hx} -> "
        f"list_transform([CAST(length({hx}) // 2 AS HUGEINT)], {n} -> "
        f"list_transform([{bytes_list}], {bs} -> ({core}))[1])[1])[1]"
    )


def xxh64_str_sql(s: str, seed: int | str = 42) -> str:
    """Signed-BIGINT DuckDB twin of Spark ``xxhash64(s)`` for VARCHAR `s`."""
    nv = _namer()
    u = nv()
    return _let(u, xxh64_str_sql_unsigned(s, seed), to_signed_sql(u))


def xxh64_long_sql_unsigned(v: str, seed: int | str) -> str:
    """Unsigned XXH64 of signed-BIGINT expr `v` with `seed` either a Python
    int (constant-folded) or a SQL expr yielding an UNSIGNED [0,2^64) value
    (a previous chain step) — Spark ``xxhash64`` on a BIGINT column."""
    nv = _namer()
    uv, kk, hh = nv(), nv(), nv()
    if isinstance(seed, int):
        h0 = f"CAST({(seed + _P5 + 8) & _MASK} AS HUGEINT)"
    else:
        h0 = f"((({seed}) + {_P5 + 8}) & {_MASK})"
    return _let(
        uv, to_unsigned_sql(v),
        _let(
            kk, _s_round0(uv),
            _let(
                hh,
                f"(({_s_mulc(_s_rotl(_s_xor(h0, kk), 27), _P1)} + {_P4}) & {_MASK})",
                _s_fmix(hh, nv),
            ),
        ),
    )


def xxh64_long_sql(v: str, seed: int | str) -> str:
    """Signed-BIGINT DuckDB twin of Spark ``xxhash64`` over one BIGINT expr."""
    nv = _namer()
    u = nv()
    return _let(u, xxh64_long_sql_unsigned(v, seed), to_signed_sql(u))


def xxh64_fold_layers(
    cols: list[str], out: str, int_prefix: tuple[int, ...] = (), seed: int = 42
) -> list[dict[str, str]]:
    """VECTORIZED twin of :func:`xxh64_longs_chain_sql`: the same
    left-to-right BIGINT fold, but emitted as an ordered list of
    projection LAYERS (each a ``{new_col: expr}`` dict referencing only
    columns from earlier layers / the base relation) instead of one
    nested scalar expression.

    Why: the scalar form's let-bindings are single-element
    ``list_transform`` calls, which DuckDB evaluates by ALLOCATING a list
    per row per binding — measured 17 s for 16 hashes over 16.5 K rows.
    As chained column projections the whole fold is plain HUGEINT
    arithmetic (vectorized, no allocation): the same work runs ~100x
    faster. Feed the layers to :func:`cte_chain`.

    The final layer binds `out` to the SIGNED Bigint hash. Intermediate
    columns are prefixed ``__{out}_`` — callers merging several folds into
    shared layers (see :func:`merge_layer_plans`) stay collision-free as
    long as `out` names are unique.
    """
    s: int | str = seed
    for i in int_prefix:
        assert isinstance(s, int), "int prefix must precede column exprs"
        s = py_xxh64_int(i, s)
    layers: list[dict[str, str]] = []
    prev_u: str | None = None  # unsigned accumulator column after each round
    for r, col in enumerate(cols):
        p = f"__{out}_r{r}"
        uv, m, kk, g, a, b, u = (
            f"{p}_uv", f"{p}_m", f"{p}_kk", f"{p}_g", f"{p}_a", f"{p}_b", f"{p}_u"
        )
        if prev_u is None:
            assert isinstance(s, int)
            h0 = str((s + _P5 + 8) & _MASK)
        else:
            h0 = f"(({prev_u} + {_P5 + 8}) & {_MASK})"
        layers.append({uv: to_unsigned_sql(col)})
        layers.append({m: _s_mulc(uv, _P2)})
        layers.append({kk: _s_mulc(_s_rotl(m, 31), _P1)})
        layers.append(
            {g: f"(({_s_mulc(_s_rotl(_s_xor(h0, kk), 27), _P1)} + {_P4}) & {_MASK})"}
        )
        layers.append({a: _s_mulc(_s_xor(g, _s_shr(g, 33)), _P2)})
        layers.append({b: _s_mulc(_s_xor(a, _s_shr(a, 29)), _P3)})
        layers.append({u: _s_xor(b, _s_shr(b, 32))})
        prev_u = u
    assert prev_u is not None, "cols must be non-empty"
    layers.append({out: to_signed_sql(prev_u)})
    return layers


def merge_layer_plans(plans: list[list[dict[str, str]]]) -> list[dict[str, str]]:
    """Zip several independent layer plans into shared layers (layer k of
    the result is the union of every plan's layer k) so N folds advance
    in lockstep through one CTE chain instead of N."""
    merged: list[dict[str, str]] = []
    for plan in plans:
        for k, layer in enumerate(plan):
            if k == len(merged):
                merged.append({})
            for name, expr in layer.items():
                assert name not in merged[k], f"column collision: {name}"
                merged[k][name] = expr
    return merged


def cte_chain(
    base: str,
    layers: list[dict[str, str]],
    prefix: str,
    carry: list[str],
) -> tuple[str, str]:
    """Render layers as a chain of MATERIALIZED projection CTEs over
    relation `base`, LIVENESS-PRUNED: each CTE keeps only `carry`
    columns plus defined columns still referenced by a LATER layer.
    Without pruning the chain copies an ever-growing frame (O(layers *
    width) cells — measured 12 s for a 113-layer 16-fold chain that runs
    in ~1 s pruned); MATERIALIZED stops DuckDB re-inlining each layer's
    expression into the next, which would re-grow the expressions the
    layered form exists to keep flat. Returns (sql_fragment,
    final_cte_name); the fragment starts with a leading comma so it
    splices after an existing WITH list. The final CTE exposes `carry`
    plus every column no later layer consumes (the fold outputs)."""
    import re

    # An expression references column c iff one of its maximal
    # [A-Za-z0-9_]+ runs equals c (no identifier character on either
    # side), which holds for every c of that alphabet — so one token scan
    # per layer replaces a search per (column, layer).
    word = re.compile(r"[A-Za-z0-9_]+")
    columns = {c for layer in layers for c in layer}
    assert all(word.fullmatch(c) for c in columns), "column names must be [A-Za-z0-9_]+"
    # last_ref[c]: highest layer index whose exprs reference c; a defined
    # column no layer references is a fold OUTPUT — kept to the end.
    last_ref: dict[str, int] = {}
    for k, layer in enumerate(layers):
        tokens = {t for e in layer.values() for t in word.findall(e)}
        for c in columns & tokens:
            last_ref[c] = k
    frags = []
    cur = base
    defined: dict[str, int] = {}  # col -> defining layer
    for k, layer in enumerate(layers):
        name = f"{prefix}{k}"
        keep = [
            c
            for c in sorted(defined)
            if c not in last_ref or last_ref[c] > k  # output, or still live
        ]
        cols = ", ".join(
            [*carry, *keep] + [f"{e} AS {c}" for c, e in layer.items()]
        )
        frags.append(f",\n{name} AS MATERIALIZED (SELECT {cols} FROM {cur})")
        for c in layer:
            defined[c] = k
        cur = name
    return "".join(frags), cur


def xxh64_longs_chain_sql(exprs: list[str], int_prefix: tuple[int, ...] = (),
                          seed: int = 42) -> str:
    """Signed-BIGINT twin of Spark ``xxhash64(lit(i0), .., colA, colB, ..)``:
    INT literals in `int_prefix` are constant-folded through py_xxh64_int,
    then each BIGINT expr in `exprs` folds through the long specialization.
    """
    s: int | str = seed
    for i in int_prefix:
        assert isinstance(s, int), "int prefix must precede column exprs"
        s = py_xxh64_int(i, s)
    cur: str | int = s
    # Build from the inside out: bind each step's unsigned hash, feed the next.
    # Chain vars use a distinct `__cx` prefix: each nested xxh64_long_sql_unsigned
    # call restarts its own `__xx` namer, so a chain var named `__xx1` would be
    # shadowed by the inner generator's first binding when used as its seed.
    vars_ = [f"__cx{j + 1}" for j in range(len(exprs))]
    body: str = to_signed_sql(vars_[-1])
    for j in range(len(exprs) - 1, -1, -1):
        seed_j: int | str = cur if j == 0 else vars_[j - 1]
        body = _let(vars_[j], xxh64_long_sql_unsigned(exprs[j], seed_j), body)
    return body
