"""Merged query/oracle registry consumed by ``__spark_entry__.py``.

Each operator module exposes ``QUERIES: dict[name, (spark, sf_dir) -> DataFrame]``
and ``ORACLES: dict[name, sql]`` (DuckDB-runnable ANSI SQL over the driver's
pre-registered views). Names are globally unique; a missing oracle entry is
allowed only for genuinely non-SQL-expressible operators (the driver then
records a weaker rows-only check).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Front what the last change edited: correctness grading covers about the
# first 50 entries in registration order.
# An entry is a module name (every query of it not yet loaded) or a
# (module, (names...)) pair (exactly those queries now; the module's
# later bare entry picks up the rest).
_MODULES = (
    "dic_a1_spark.operators.similarity",
    "dic_a1_spark.operators.pq",
    (
        "dic_a1_spark.operators.lsh",
        ("dedup_minhash_md5_groups", "dedup_simhash_md5_groups"),
    ),
    ("dic_a1_spark.operators.provenance", ("source_overlap_matrix",)),
    "dic_a1_spark.operators.quantize",
    "dic_a1_spark.operators.embdecontam",
    "dic_a1_spark.operators.lexical",
    "dic_a1_spark.operators.ml_ops",
    "dic_a1_spark.operators.multimodal",
    (
        "dic_a1_spark.operators.attribution",
        ("events_attribution", "events_attribution_rollup"),
    ),
    ("dic_a1_spark.operators.events", ("events_approx_stats",)),
    "dic_a1_spark.operators.ngrams",
    "dic_a1_spark.operators.udxf",
    "dic_a1_spark.operators.dedup",
    "dic_a1_spark.operators.tpch_full",
    "dic_a1_spark.operators.lsh",
    "dic_a1_spark.operators.scrub",
    "dic_a1_spark.operators.incremental",
    "dic_a1_spark.operators.evalops",
    "dic_a1_spark.operators.curation",
    "dic_a1_spark.operators.events",
    "dic_a1_spark.operators.substr",
    "dic_a1_spark.operators.linededup",
    "dic_a1_spark.operators.semdedup",
    "dic_a1_spark.operators.sampling",
    "dic_a1_spark.operators.mixing",
    "dic_a1_spark.operators.mining",
    "dic_a1_spark.operators.winnow",
    "dic_a1_spark.operators.corpusops",
    "dic_a1_spark.operators.dsir",
    "dic_a1_spark.operators.lm",
    "dic_a1_spark.operators.cdc",
    "dic_a1_spark.operators.colloc",
    "dic_a1_spark.operators.vocabgrowth",
    "dic_a1_spark.operators.panel",
    "dic_a1_spark.operators.graphrank",
    "dic_a1_spark.operators.taxonomy",
    "dic_a1_spark.operators.seasonality",
    "dic_a1_spark.operators.qlinear",
    "dic_a1_spark.operators.provenance",
    "dic_a1_spark.operators.diversity",
    "dic_a1_spark.operators.bm25",
    "dic_a1_spark.operators.chisq",
    "dic_a1_spark.operators.sql_surface",
    "dic_a1_spark.operators.tpch_extra",
    "dic_a1_spark.operators.relational",
    "dic_a1_spark.operators.postings",
    "dic_a1_spark.operators.attribution",
    "dic_a1_spark.operators.repselect",
    "dic_a1_spark.operators.postcompress",
    "dic_a1_spark.operators.textstats",
    "dic_a1_spark.operators.sketches",
    "dic_a1_spark.operators.bpe",
    "dic_a1_spark.operators.tokapply",
    "dic_a1_spark.operators.ragpack",
    "dic_a1_spark.operators.goldens",
)


def _load() -> tuple[dict[str, Callable[[SparkSession, str], DataFrame]], dict[str, str]]:
    import importlib

    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracles: dict[str, str] = {}
    origin: dict[str, str] = {}
    declared_oracles: dict[str, set[str]] = {}  # modname -> oracle keys
    declared_queries: dict[str, set[str]] = {}  # modname -> query names
    for entry in _MODULES:
        modname, only = (entry, None) if isinstance(entry, str) else entry
        try:
            mod = importlib.import_module(modname)
        except ModuleNotFoundError:
            continue  # module not built yet (incremental rounds)
        mod_queries = getattr(mod, "QUERIES", {})
        mod_oracles = getattr(mod, "ORACLES", {})
        declared_oracles[modname] = set(mod_oracles)
        declared_queries[modname] = set(mod_queries)
        if only is not None:
            missing = [n for n in only if n not in mod_queries]
            if missing:
                raise ValueError(f"{modname} has no queries {missing!r}")
            names = list(only)
        else:
            # Bare entry: everything not already front-loaded by an
            # earlier (module, names) selection of the SAME module.
            names = [
                n for n in mod_queries
                if not (n in queries and origin[n] == modname)
            ]
        for name in names:
            if name in queries:
                raise ValueError(
                    f"duplicate query name {name!r} in {modname} "
                    f"(already registered by {origin[name]})"
                )
            queries[name] = mod_queries[name]
            origin[name] = modname
            if name in mod_oracles:
                oracles[name] = mod_oracles[name]
    # Completeness guard: a (module, names) selection MUST be completed by
    # a later bare entry — otherwise the module's remaining queries would
    # silently vanish from driver grading (no duplicate error fires).
    for modname, declared in declared_queries.items():
        dropped = [n for n in declared if n not in queries]
        if dropped:
            raise ValueError(
                f"{modname}: queries never registered (selection without a "
                f"completing bare entry?): {sorted(dropped)}"
            )
    # Orphan-oracle guard: every oracle key a module declares must name a
    # registered query — a typo'd ORACLES key would otherwise silently
    # degrade that query from value-hash-gated to rows-only.
    for modname, keys in declared_oracles.items():
        orphans = keys - set(queries)
        if orphans:
            raise ValueError(
                f"{modname}: oracles without queries: {sorted(orphans)}"
            )
    return queries, oracles


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _load()[0]


def all_oracles() -> dict[str, str]:
    return _load()[1]
