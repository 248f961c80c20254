"""Oracle + semantics checks for the curation operators (decontamination,
language rebalancing, context-window chunking)."""

from __future__ import annotations

import pytest

from dic_a1_spark.functions.sweeps import tau_label
from pyspark.sql import functions as F

from dic_a1_spark.operators import curation
from dic_a1_spark.plans.explain import formatted_plan
from tests.conftest import SF_CORRECT
from tests.oracle_utils import compare


@pytest.mark.parametrize("name", sorted(curation.ORACLES))
def test_matches_oracle(spark, name):
    compare(spark, curation.ORACLES[name], curation.QUERIES[name], SF_CORRECT, name)


def test_decontam_flags_real_overlap(spark):
    df = curation.decontam_ngram_overlap(spark, SF_CORRECT)
    rows = df.collect()
    assert all(r["doc_id"] >= curation.BENCH_DOCS for r in rows)
    n_contam = sum(1 for r in rows if r["contaminated"])
    assert 0 < n_contam < len(rows)  # some but not all flagged


def test_decontam_benchmark_side_broadcasts(spark):
    plan = formatted_plan(curation.decontam_ngram_overlap(spark, SF_CORRECT))
    # the benchmark shingle set is the build side of a broadcast hash
    # probe — the corpus side is never the shuffled side of that join
    assert "BroadcastHashJoin" in plan


def test_decontam_names_share_one_body():
    """Both registered decontam names run the one hash-probe body."""
    assert (
        curation.QUERIES["decontam_ngram_overlap_fast"]
        is curation.QUERIES["decontam_ngram_overlap"]
    )


def test_rebalance_caps_heavy_language_keeps_light_whole(spark):
    from dic_a1_spark.sources.readers import load_table

    d = load_table(spark, SF_CORRECT, "documents")
    before = {r["lang"]: r["n"] for r in d.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    total = sum(before.values())
    after = {
        r["lang"]: r["n"]
        for r in curation.lang_rebalance_sample(spark, SF_CORRECT)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for lang, n in before.items():
        if n <= curation.LANG_CAP * total:
            # under the cap: passes through WHOLE (the lpad-truncation trap)
            assert after[lang] == n, (lang, after[lang], n)
        else:
            # over the cap: downsampled to ~cap share (hash noise allowed)
            assert after[lang] < n
            assert after[lang] <= 1.25 * curation.LANG_CAP * total


def test_pipeline_is_intersection_of_stage_gates(spark):
    """Every pipeline survivor must pass EVERY stage's own registered
    gate, and every benchmark doc must be gone (decontamination drops the
    eval set itself)."""
    surv = {r["doc_id"] for r in curation.curation_pipeline(spark, SF_CORRECT).collect()}
    assert surv, "pipeline produced no survivors — vacuous"
    assert all(i >= curation.BENCH_DOCS for i in surv)

    from dic_a1_spark.operators.textstats import text_quality_filter
    from pyspark.sql import functions as F2

    quality = {
        r["doc_id"]
        for r in text_quality_filter(spark, SF_CORRECT).where(F2.col("keep") == 1).collect()
    }
    clean = {
        r["doc_id"]
        for r in curation.decontam_ngram_overlap(spark, SF_CORRECT)
        .where(~F2.col("contaminated"))
        .collect()
    }
    assert surv <= quality
    assert surv <= clean


def test_pack_bins_respect_capacity_discipline(spark):
    """Fixed-boundary packing invariants: every tokenized doc packed
    exactly once; within a (shard, bin) the tokens BEFORE each doc fit
    under the capacity (a bin only ever overshoots by its final doc);
    bin ids per shard are contiguous from 0."""
    rows = curation.doc_pack_bins(spark, SF_CORRECT).collect()
    assert rows
    from collections import defaultdict

    by_shard = defaultdict(list)
    for r in rows:
        assert r["pack_shard"] == r["doc_id"] % curation.PACK_SHARDS
        by_shard[r["pack_shard"]].append(r)
    assert len({r["doc_id"] for r in rows}) == len(rows)
    for shard, docs in by_shard.items():
        docs.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in docs:
            assert r["bin_id"] == cum // curation.PACK_CAPACITY, r
            cum += r["n_tokens"]
        bins = sorted({r["bin_id"] for r in docs})
        assert bins == list(range(len(bins))), f"shard {shard} bins not contiguous"


def test_rebalance_is_deterministic(spark):
    a = sorted(r["doc_id"] for r in curation.lang_rebalance_sample(spark, SF_CORRECT).collect())
    b = sorted(r["doc_id"] for r in curation.lang_rebalance_sample(spark, SF_CORRECT).collect())
    assert a == b


def test_chunks_cover_all_tokens_with_overlap(spark):
    df = curation.doc_chunk_windows(spark, SF_CORRECT)
    rows = df.where(F.col("doc_id") == 1).orderBy("chunk_id").collect()
    assert rows, "doc 1 missing"
    n_tokens = rows[0]["n_tokens"]
    # Every token position is covered: last chunk reaches the end.
    last_start = rows[-1]["chunk_id"] * curation.CHUNK_STRIDE
    assert last_start + curation.CHUNK_WIDTH >= n_tokens
    # Non-final chunks are full width.
    for r in rows[:-1]:
        assert len(r["chunk_text"].split(" ")) == curation.CHUNK_WIDTH


def test_chunking_is_map_only(spark):
    plan = formatted_plan(curation.doc_chunk_windows(spark, SF_CORRECT))
    assert "Exchange" not in plan  # no shuffle at all


def test_repetition_ratio_nonvacuous_and_map_only(spark):
    """Both verdicts must occur on the corpus (a gate that never fires is
    untested), and the fold form must compile without any Exchange."""
    rows = curation.text_repetition_ratio(spark, SF_CORRECT).collect()
    keeps = {r["keep"] for r in rows}
    assert keeps == {True, False}, f"vacuous repetition gate: {keeps}"
    for r in rows:
        assert 1 <= r["max_count"] <= r["n_bigrams"]
    plan = formatted_plan(curation.text_repetition_ratio(spark, SF_CORRECT))
    assert "Exchange" not in plan


def test_split_assign_fractions_and_determinism(spark):
    """~80/10/10 within tolerance at sf0.01, every doc assigned exactly
    once, and re-running yields identical assignments."""
    rows = curation.doc_split_assign(spark, SF_CORRECT).collect()
    n = len(rows)
    counts = {}
    for r in rows:
        counts[r["split"]] = counts.get(r["split"], 0) + 1
    assert set(counts) == {"train", "val", "test"}
    assert 0.7 <= counts["train"] / n <= 0.9
    again = {r["doc_id"]: r["split"] for r in curation.doc_split_assign(
        spark, SF_CORRECT).collect()}
    assert {r["doc_id"]: r["split"] for r in rows} == again


def test_pack_concat_consistent_with_bins(spark):
    """Every bin's member list matches the bin assignment exactly and
    token totals add up."""
    bins = curation.doc_pack_bins(spark, SF_CORRECT).collect()
    concat = curation.doc_pack_concat(spark, SF_CORRECT).collect()
    expect = {}
    for r in bins:
        expect.setdefault((r["pack_shard"], r["bin_id"]), []).append(
            (r["doc_id"], r["n_tokens"])
        )
    assert len(concat) == len(expect)
    for r in concat:
        members = sorted(expect[(r["pack_shard"], r["bin_id"])])
        # doc_ids is a numeric-sorted, space-joined string (driver-safe)
        assert [int(d) for d in r["doc_ids"].split()] == [d for d, _ in members]
        assert r["n_docs"] == len(members)
        assert r["total_tokens"] == sum(t for _, t in members)


def test_decontam_threshold_sweep_monotone_and_consistent(spark):
    """Sweep counts monotone decreasing; the CONTAM_RATIO point equals
    the production decontam query's contaminated count."""
    row = curation.decontam_threshold_sweep(spark, SF_CORRECT).collect()[0]
    counts = [
        row[tau_label("flagged", t)]
        for t in curation.DECONTAM_SWEEP_TAUS
    ]
    assert counts == sorted(counts, reverse=True)
    assert counts[0] > counts[-1] > 0
    at_prod = row[tau_label("flagged", curation.CONTAM_RATIO)]
    per = curation.decontam_ngram_overlap(spark, SF_CORRECT).collect()
    assert at_prod == sum(r["contaminated"] for r in per)
    assert row["n_docs"] == len(per)


def test_decontam_by_split_partitions_the_corpus(spark):
    cells = curation.decontam_by_split(spark, SF_CORRECT).collect()
    per = curation.decontam_ngram_overlap(spark, SF_CORRECT).collect()
    assert sum(r["n_docs"] for r in cells) == len(per)
    assert sum(
        r["n_docs"] for r in cells if r["contaminated"]
    ) == sum(r["contaminated"] for r in per)
    assert {r["split"] for r in cells} == {"train", "val", "test"}


def test_pack_efficiency_consistent_with_bins(spark):
    rep = curation.pack_efficiency_report(spark, SF_CORRECT).collect()
    bins = curation.doc_pack_bins(spark, SF_CORRECT).collect()
    assert sum(r["n_docs"] for r in rep) == len(bins)
    assert sum(r["total_tokens"] for r in rep) == sum(
        r["n_tokens"] for r in bins
    )
    # utilization must equal the ratio the report claims — bin_id
    # skipping for over-capacity docs means there is NO universal upper
    # bound (reviewer-flagged), so pin consistency, not a magic 2.0
    for r in rep:
        assert r["utilization"] > 0.0
        expect = r["total_tokens"] / (r["n_bins"] * curation.PACK_CAPACITY)
        assert abs(r["utilization"] - expect) <= 5e-5 + 1e-12
