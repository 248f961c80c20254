"""Physical-plan regression tests: pin the scale-critical properties
(pushdown, pruning, broadcast, shuffle counts) so they can't silently rot.
A failure here means a 100 TB plan regressed, even if results stay right."""

from __future__ import annotations

from dic_a1_spark.plans.explain import plan_audit, wholestage_codegen
from dic_a1_spark.registry import all_queries
from tests.conftest import SF_CORRECT


def _audit(spark, name):
    return plan_audit(all_queries()[name](spark, SF_CORRECT))


def test_q1_scan_is_pruned_and_pushed(spark):
    a = _audit(spark, "q1_pricing_summary")
    assert a["exchanges"] == 1  # single agg shuffle, nothing else
    assert any("l_shipdate" in f for f in a["pushed_filters"])
    schema = a["read_schemas"][0]
    assert "l_orderkey" not in schema and "l_partkey" not in schema, (
        "q1 must scan only the six referenced columns"
    )


def test_broadcast_dims_stay_broadcast(spark):
    a = _audit(spark, "join_broadcast_dims")
    assert a["broadcast_join"]
    assert a["exchanges"] <= 1  # only the final aggregate shuffles
    # dimension scans are column-pruned
    assert any(s == "struct<n_nationkey:int,n_regionkey:int>" for s in a["read_schemas"])


def test_q5_multiway_join_broadcasts_dims(spark):
    a = _audit(spark, "q5_local_supplier_volume")
    assert a["broadcast_join"]
    assert a["exchanges"] <= 3


def test_chisq_flagship_plan_shape(spark):
    a = _audit(spark, "chisq_top75")
    assert a["broadcast_join"], "category/global totals must broadcast"
    # data-proportional shuffles: groupBy(word,category) + word window +
    # category top-k window; dimension-sized: category totals + the
    # derived global total (an agg over the ~22-row category frame, which
    # costs one tiny exchange but saves a third full corpus scan)
    assert a["exchanges"] <= 6
    # scan reads only (text, lang)
    assert "struct<text:string,lang:string>" in a["read_schemas"]


def test_window_running_total_single_shuffle(spark):
    a = _audit(spark, "window_running_total")
    assert a["exchanges"] == 1  # partition by custkey, sort within


def test_every_registered_query_analyzes(spark):
    """Catalyst analysis (schema resolution) must succeed for all
    registered queries — catches registry entries broken by refactors
    without paying for execution."""
    for name, fn in all_queries().items():
        cols = fn(spark, SF_CORRECT).columns
        assert cols, f"{name} resolved to an empty schema"


def test_codegen_everywhere(spark):
    for name in ["q1_pricing_summary", "join_sort_merge_facts", "chisq_top75"]:
        df = all_queries()[name](spark, SF_CORRECT)
        assert wholestage_codegen(df), name


def test_q4_semi_join_residual_and_pushdown(spark):
    """Q4: the EXISTS becomes a left-semi join whose non-equi residual
    (l_shipdate > o_orderdate) stays in the join condition — NOT a
    post-join filter that would need the whole join materialized — and the
    quarter envelope is pushed to the orders scan."""
    from dic_a1_spark.plans.explain import formatted_plan

    df = all_queries()["q4_late_shipment_priority"](spark, SF_CORRECT)
    a = plan_audit(df)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan
    assert any("o_orderdate" in f for f in a["pushed_filters"]), (
        "quarter envelope must reach the orders scan"
    )
    # the lineitem scan reads only the join + residual columns
    assert any(
        s == "struct<l_orderkey:bigint,l_shipdate:timestamp_ntz>"
        or s == "struct<l_orderkey:bigint,l_shipdate:timestamp>"
        for s in a["read_schemas"]
    ), a["read_schemas"]


def test_q13_join_side_predicate_preserves_customers(spark):
    """Q13: the priority predicate lives in the LEFT OUTER join condition,
    so customers with zero qualifying orders survive with count 0. For the
    RIGHT (orders) side of a left join that predicate only restricts which
    rows can match — Catalyst is free to push it into the orders scan, and
    must, while the join itself stays LeftOuter (never converted to inner,
    which would drop zero-order customers)."""
    from dic_a1_spark.plans.explain import formatted_plan

    df = all_queries()["q13_order_count_distribution"](spark, SF_CORRECT)
    a = plan_audit(df)
    plan = formatted_plan(df)
    assert "LeftOuter" in plan, "join must not degrade to inner"
    assert any("o_orderpriority" in f for f in a["pushed_filters"]), (
        "the ON-clause predicate on the non-preserved side should reach"
        " the orders scan"
    )
    # both scans pruned to the referenced columns
    assert any("c_custkey" in s and "c_name" not in s for s in a["read_schemas"])


def test_line_dedup_census_join_not_hint_pinned(spark):
    """Both sides of the kept-filter join are corpus-proportional: the
    plan must not pin a broadcast there (AQE may still pick one at tiny
    SF — the pin we forbid is the HINT, visible as a broadcast join at
    the analysis stage when AQE is bypassed). Structural proxy: the
    exploded-line frame is map-only (no exchange below the census agg),
    and per-doc n_lines never costs a second corpus aggregation —
    exchanges stay at the census + kept/rebuilt/base joins."""
    a = _audit(spark, "line_dedup_kept")
    assert a["exchanges"] <= 4
    # the scan reads only (doc_id, text)
    assert all("struct<doc_id:bigint,text:string>" == s for s in a["read_schemas"])


def test_sample_per_group_uses_window_group_limit(spark):
    """The rank <= K predicate must push into the window as a partial
    top-K (WindowGroupLimit), so the shuffle carries at most K rows per
    (source, map partition)."""
    from dic_a1_spark.plans.explain import formatted_plan

    plan = formatted_plan(all_queries()["sample_per_group_hash"](spark, SF_CORRECT))
    assert "WindowGroupLimit" in plan
    a = _audit(spark, "sample_per_group_hash")
    assert a["exchanges"] == 1


def test_mixing_census_joins_are_broadcast(spark):
    """Mixture planners aggregate once, then every join runs on a
    domain-sized frame — the totals crossJoin must be a broadcast, never
    a shuffle of the census."""
    for name in ("domain_mix_allocation", "lang_temperature_mix", "mix_epoch_plan"):
        a = _audit(spark, name)
        assert a["broadcast_join"], name


def test_token_budget_head_plan_shape(spark):
    """The bucket plan joins broadcast (<=100 rows) and only the partial
    bucket is ranked: no global-sort exchange over the corpus."""
    from dic_a1_spark.plans.explain import formatted_plan

    a = _audit(spark, "token_budget_head")
    assert a["broadcast_join"]
    plan = formatted_plan(all_queries()["token_budget_head"](spark, SF_CORRECT))
    # a global Sort with no partition keys would appear as a rangepartitioning
    # exchange over the full doc frame
    assert "rangepartitioning" not in plan.lower().replace("_", "")


def test_hard_negatives_broadcasts_queries(spark):
    a = _audit(spark, "embedding_hard_negatives")
    assert a["broadcast_join"]
    assert a["exchanges"] == 1  # only the per-query top-k window


def test_round6_audit_ops_plan_budgets(spark):
    """Exchange budgets for the round-6 audit/analytics operators: these
    numbers are the designed shuffle counts (censuses + dimension-sized
    joins); a jump means a corpus-proportional frame started shuffling
    or a broadcast fell back."""
    budgets = {
        "events_retention_cohorts": 5,   # grid distinct, first, sizes, cells, join
        "events_dau_stickiness": 5,      # grid distinct, dau, wau, join
        "vocab_topv_oov": 2,             # census + per-doc agg (vocab probe broadcasts)
        "corpus_datacard": 4,            # doc agg + distinct-words agg + 1-row joins
        "decontam_threshold_sweep": 3,   # inherited decontam shape + final 1-row agg
        "lang_confusion_matrix": 1,      # single dimension-sized groupBy
        "corpus_shard_plan": 2,          # shard census + S-row window
        "decontam_by_split": 3,          # inherited decontam shape + cell agg
        "pack_efficiency_report": 1,     # groupBy reuses the pack window's shard partitioning
        "lang_token_fertility": 1,       # single per-lang census
    }
    for name, budget in budgets.items():
        a = _audit(spark, name)
        assert a["exchanges"] <= budget, (name, a["exchanges"])


def test_vocab_probe_is_broadcast(spark):
    """The V-row vocabulary is a constant-size frame: its probe join
    must broadcast, never shuffle the exploded corpus tokens on word."""
    a = _audit(spark, "vocab_topv_oov")
    assert a["broadcast_join"]


def test_ann_fast_twin_plan_shapes(spark):
    """The production ANN batch paths exist for their plan shape: exact
    exchange pins so a refactor that adds a corpus-wide sort or
    de-broadcasts the codebook fails here, not in a 100 TB run. Each
    `_fast` alias is pinned with its base name.

    - ivf_assignments_fast: matmul assignment is map-only; the single
      exchange is the codebook's bounded aggregation feed.
    - embedding_pq_codes[_fast], pq_recon_certificate: pure map against
      the broadcast collected codebooks — ZERO exchanges.
    - knn_cosine_pq[_fast]: ADC shortlist + re-rank with the query row
      broadcast; one top-k exchange.
    - embedding_neardup_blocked[_fast]: block-local pandas pairs — one
      block shuffle plus the two bounded codebook feeds; NEVER an
      all-pairs or corpus-sort stage.
    - knn_cosine_quantized: int8 batch scoring against the broadcast
      query matrix; one top-k exchange."""
    pins = {
        "ivf_assignments_fast": 1,
        "embedding_pq_codes": 0,
        "embedding_pq_codes_fast": 0,
        "pq_recon_certificate": 0,
        "knn_cosine_pq": 1,
        "knn_cosine_pq_fast": 1,
        "embedding_neardup_blocked": 3,
        "embedding_neardup_blocked_fast": 3,
        "knn_cosine_quantized": 1,
    }
    for name, pin in pins.items():
        a = _audit(spark, name)
        assert a["exchanges"] == pin, (
            f"{name}: {a['exchanges']} exchanges vs the designed {pin} — "
            f"if intentional, update this pin and PLANS.md together"
        )
        # every batch-path scan stays pruned to (vec_id, embedding)
        assert all(
            s == "struct<vec_id:bigint,embedding:array<float>>"
            for s in a["read_schemas"]
        ), (name, a["read_schemas"])
    assert _audit(spark, "knn_cosine_pq")["broadcast_join"]


def test_multimodal_header_meta_is_map_only(spark):
    """r11 contract: container-header parsing is pure projection — zero
    exchanges, no broadcast, no Python. At 100 TB this is the difference
    between scan-speed metadata extraction and an accidental shuffle."""
    a = _audit(spark, "multimodal_header_meta")
    assert a["exchanges"] == 0
    assert not a["broadcast_join"]


def test_kmeans_final_assignment_plan_shape(spark):
    """r11 contract: the deterministic Lloyd's FINAL assignment is one
    broadcast of the K-row centroid state plus exactly one shuffle (the
    per-vector argmin window). Iteration state is localCheckpointed, so
    the audited plan is the last round's — the per-round shape."""
    a = _audit(spark, "ml_kmeans_clusters")
    assert a["broadcast_join"], "K-row centroid state must broadcast"
    assert a["exchanges"] == 1  # the vec_id argmin window partitioning


def test_dedup_family_exchange_budgets(spark):
    """r11: exact exchange pins for the dedup family at SF_CORRECT — the
    plan-shape side of the 100 TB claims in dedup.py / linededup.py.
    These do NOT pin the join STRATEGY (at this SF the banded (band,
    hash) equi-joins broadcast; at TB scale AQE picks a shuffle join —
    both are the designed shape): they pin the stage COUNT, so an
    accidental `.distinct()` after pair generation (the pre-r4 shape the
    map-side first-band dedup removed), a corpus-wide sort, or an
    all-pairs self-join regression shows up here as extra exchanges
    long before a cluster run finds it.

    - minhash/simhash pairs+groups, both hash families, and the
      increment-vs-corpus screen: everything below the band join is
      map-side; zero exchanges at this SF. All five pair queries share
      dedup.band_pairs, so each one is pinned.
    - exact/tokenset groups: exactly the ONE census aggregation their
      docstrings promise.
    - decontam_ngram_overlap (both names): the benchmark's distinct
      hashes and the hit-count aggregate, the only two exchanges; the
      corpus side reaches the probe map-only.
    - line_dedup_kept: census + kept-join + rebuild = 3.
    """
    pins = {
        "dedup_minhash_pairs": 0,
        "dedup_minhash_groups": 0,
        "dedup_simhash_pairs": 0,
        "dedup_simhash_groups": 0,
        "dedup_minhash_md5_pairs": 0,
        "dedup_simhash_md5_pairs": 0,
        "dedup_incremental_minhash": 0,
        "dedup_exact_groups": 1,
        "dedup_tokenset_groups": 1,
        "decontam_ngram_overlap": 2,
        "decontam_ngram_overlap_fast": 2,
        "line_dedup_kept": 3,
    }
    for name, pin in pins.items():
        a = _audit(spark, name)
        assert a["exchanges"] == pin, (
            f"{name}: {a['exchanges']} exchanges vs the designed {pin} — "
            f"if intentional, update this pin and PLANS.md together"
        )
