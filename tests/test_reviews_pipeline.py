"""End-to-end reviews pipeline test against an independent plain-Python
implementation of the reference semantics (tests/reference_impl.py)."""

from __future__ import annotations

import json
import math
import random

import pytest

from tests import reference_impl

CATS = ["Book", "Electronic", "Home_and_Kitche"]  # incl. truncated-name quirks
VOCAB = [
    "spark", "shuffle", "parquet", "catalyst", "tungsten", "codegen",
    "window", "broadcast", "partition", "lineage", "barrier", "skew",
]
STOP = ["the", "and", "a", "of"]


@pytest.fixture(scope="module")
def fixture_paths(tmp_path_factory):
    rng = random.Random(7)
    base = tmp_path_factory.mktemp("reviews")
    lines = []
    for i in range(120):
        cat = CATS[i % 3] if i % 17 else None  # some records missing category
        words = rng.sample(VOCAB, rng.randint(2, 6)) + rng.sample(STOP, 2)
        words += [words[0]] * 2  # repeated word: per-review dedup must collapse
        text = " ".join(words)
        # punctuation storm incl. chars NOT in the translate set (<>)
        text = text.replace(" ", ", ", 1) + " (2024) don't <great> 100% €5 §2"
        rec = {"reviewText": text, "overall": 5.0, "asin": f"A{i}"}
        if cat is not None:
            rec["category"] = cat
        if i % 29 == 0:
            rec.pop("reviewText")  # missing text -> default ''
        lines.append(json.dumps(rec))
        if i % 23 == 0:
            lines.append('{"category": "Book", "reviewText": broken')  # corrupt
    reviews = base / "reviews.json"
    reviews.write_text("\n".join(lines) + "\n")
    stops = base / "stopwords.txt"
    stops.write_text("\n".join(STOP + ["the", "and"]) + "\n")  # with dup lines
    return str(reviews), str(stops), lines


def test_reviews_pipeline_matches_reference_semantics(spark, fixture_paths, tmp_path):
    from dic_a1_spark.operators.reviews import run_pipeline, reviews_chisq

    reviews_path, stopwords_path, lines = fixture_paths
    expected, exp_total, exp_cats = reference_impl.pipeline(
        lines, set(STOP), k=75
    )

    topk, vocab, counters = reviews_chisq(spark, reviews_path, stopwords_path, k=75)
    got: dict[str, dict[str, float]] = {}
    for r in topk.collect():
        got.setdefault(r["category"], {})[r["word"]] = r["chi2"]

    assert set(got) == set(expected)
    for cat in expected:
        assert set(got[cat]) == set(expected[cat]), f"word set mismatch in {cat}"
        for w, chi in expected[cat].items():
            assert math.isclose(got[cat][w], chi, rel_tol=1e-12), (cat, w)

    crow = counters.collect()
    assert crow[0]["n_total"] == exp_total
    assert {r["category"]: r["cat_n"] for r in crow} == exp_cats


def test_tokenizer_quirks(spark, fixture_paths):
    """`<`/`>` survive; digits/punct/apostrophes split; stopwords gone;
    defaults applied (SURVEY.md P1-P6 incl. the translate-set quirk)."""
    from dic_a1_spark.operators.reviews import reviews_to_docs
    from dic_a1_spark.functions.text import explode_tokens, remove_stopwords

    reviews_path, _, _ = fixture_paths
    docs = reviews_to_docs(spark, reviews_path)
    words = {
        r["word"]
        for r in remove_stopwords(explode_tokens(docs)).select("word").distinct().collect()
    }
    assert "<great>" in words          # <> not in the translate set
    assert "don" in words and "t" in words  # apostrophe splits
    assert "2024" not in words         # digits -> space
    assert "€5" not in words and "the" not in words
    cats = {r["category"] for r in docs.select("category").distinct().collect()}
    assert "Unknown" in cats           # missing category default


def test_cli_end_to_end(fixture_paths, tmp_path):
    import subprocess, sys, json as _json

    reviews_path, stopwords_path, _ = fixture_paths
    out = tmp_path / "out"
    proc = subprocess.run(
        [sys.executable, "-m", "dic_a1_spark.cli", "chisq",
         "--input", reviews_path, "--output", str(out),
         "--stopwords", stopwords_path],
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    payload = _json.loads(proc.stdout.strip().splitlines()[-1])
    assert payload["output_lines"] == 5  # 4 categories (incl Unknown) + vocab line
    text = (out / "chisq_output.txt").read_text().splitlines()
    assert len(text) == 5 and text[-1].startswith("[")
    from dic_a1_spark.sources.sinks import parse_counters_line

    total, per_cat = parse_counters_line((out / "counters.txt").read_text())
    assert total > 0 and set(per_cat) >= {"Book", "Electronic", "Unknown"}


REFERENCE_STOPWORDS = "/root/reference/src/data/stopwords.txt"


def test_full_reference_stopword_file_parity(spark, tmp_path):
    """Closes the stopword-fidelity gap: run the pipeline with the actual
    596-line reference stopwords.txt (duplicates in file, set lookup —
    reference src/wordCountJob.py:41-48 semantics) and assert parity with
    the plain-Python reimplementation using the same file."""
    import os

    if not os.path.isfile(REFERENCE_STOPWORDS):
        pytest.skip("reference stopwords.txt not available")

    with open(REFERENCE_STOPWORDS) as fh:
        stopset = {line.strip() for line in fh if line.strip()}
    assert len(stopset) >= 500  # the real list, not a surrogate

    # corpus salted with real reference stopwords ('about', 'able',
    # 'zero', ...) so the filter provably uses the full file
    rng = random.Random(13)
    stop_sample = sorted(stopset)[::37]  # ~16 words spread across the file
    lines = []
    for i in range(90):
        cat = CATS[i % 3]
        words = rng.sample(VOCAB, rng.randint(3, 6)) + rng.sample(stop_sample, 4)
        rec = {"category": cat, "reviewText": " ".join(words)}
        lines.append(json.dumps(rec))
    reviews = tmp_path / "reviews_refstop.json"
    reviews.write_text("\n".join(lines) + "\n")

    from dic_a1_spark.operators.reviews import reviews_chisq

    expected, exp_total, exp_cats = reference_impl.pipeline(lines, stopset, k=75)
    topk, vocab, counters = reviews_chisq(
        spark, str(reviews), REFERENCE_STOPWORDS, k=75
    )
    got: dict[str, dict[str, float]] = {}
    for r in topk.collect():
        got.setdefault(r["category"], {})[r["word"]] = r["chi2"]

    assert set(got) == set(expected)
    for cat in expected:
        assert set(got[cat]) == set(expected[cat]), f"word set mismatch in {cat}"
        for w, chi in expected[cat].items():
            assert math.isclose(got[cat][w], chi, rel_tol=1e-12), (cat, w)
    # none of the planted stopwords may survive into any top-k list
    surviving = {w for cat in got for w in got[cat]} & stopset
    assert not surviving, f"stopwords leaked through: {surviving}"

    crow = counters.collect()
    assert crow[0]["n_total"] == exp_total
    assert {r["category"]: r["cat_n"] for r in crow} == exp_cats


def _run_files(spark, reviews_path, stopwords_path, out_dir):
    from dic_a1_spark.operators.reviews import run_pipeline

    lines = run_pipeline(spark, reviews_path, str(out_dir), stopwords_path=stopwords_path)
    files = {name: (out_dir / name).read_bytes() for name in ("chisq_output.txt", "counters.txt")}
    return lines, files


def test_output_files_byte_stable_across_shuffle_partitions(spark, fixture_paths, tmp_path):
    """Aggregates are deterministic: the written files do not depend on
    how many partitions the shuffles use."""
    reviews_path, stopwords_path, _ = fixture_paths
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        runs = []
        for parts in ("1", "8"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            runs.append(_run_files(spark, reviews_path, stopwords_path, tmp_path / parts))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert runs[0] == runs[1]


def _sql_executions(spark) -> dict:
    """{execution id: execution record} from Spark's SQL status store,
    after the listener bus has delivered every event. A record's
    physicalPlanDescription() is its final physical plan text; read it
    only for the executions of interest, because the store keeps the
    whole session's plans and moving all of them over py4j takes tens of
    seconds. The store is a private API (the same one perfbench reads);
    this is the one place that touches it, so a Spark upgrade that
    changes it fails here."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    it = store.executionsList().iterator()
    out = {}
    while it.hasNext():
        e = it.next()
        out[e.executionId()] = e
    return out


def test_run_pipeline_is_one_scan_one_action(spark, fixture_paths, tmp_path):
    """One run_pipeline call runs one SQL execution whose final plan scans
    the reviews JSON once, and it leaves no persisted RDD behind."""
    import re

    from dic_a1_spark.operators.reviews import run_pipeline

    reviews_path, stopwords_path, _ = fixture_paths
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    seen = _sql_executions(spark)
    run_pipeline(spark, reviews_path, str(tmp_path / "out"), stopwords_path=stopwords_path)
    new = {
        i: e.physicalPlanDescription()
        for i, e in _sql_executions(spark).items()
        if i not in seen
    }

    assert len(new) == 1, f"expected one SQL execution, got {len(new)}"
    (plan,) = new.values()
    # The executed tree comes before AQE's "Initial Plan"; the node details
    # after both trees give each scan's location.
    executed = plan.split("== Initial Plan ==")[0]
    locations = [
        re.search(rf"^\({node}\) Scan text.*?^Location: (.*?)$", plan, flags=re.M | re.S)[1]
        for node in re.findall(r"Scan text\s+\((\d+)\)", executed)
    ]
    assert sum(reviews_path in loc for loc in locations) == 1, locations
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted


def _assert_pipeline_matches_reference(spark, lines, tmp_path, stopwords=None):
    """run_pipeline's two files against tests/reference_impl.pipeline, with
    the stopword file ``stopwords`` or (None) the built-in list."""
    import ast

    from dic_a1_spark.config import STOPWORDS
    from dic_a1_spark.sources.sinks import parse_counters_line

    reviews = tmp_path / "reviews.json"
    reviews.write_text("".join(line + "\n" for line in lines))
    stopwords_path = None
    if stopwords is not None:
        sw = tmp_path / "stopwords.txt"
        sw.write_text("\n".join(stopwords) + "\n")
        stopwords_path = str(sw)
    expected, exp_total, exp_cats = reference_impl.pipeline(
        lines, set(STOPWORDS if stopwords is None else stopwords), k=75
    )

    got_lines, files = _run_files(spark, str(reviews), stopwords_path, tmp_path / "out")
    assert files["chisq_output.txt"].decode().splitlines() == got_lines
    got = {}
    for line in got_lines[:-1]:
        cat, scores = line.split("\t", 1)
        got[cat] = ast.literal_eval(scores)
    assert set(got) == set(expected)
    for cat, scores in expected.items():
        assert set(got[cat]) == set(scores), cat
        for w, chi in scores.items():
            assert math.isclose(got[cat][w], chi, rel_tol=1e-12), (cat, w)
    assert ast.literal_eval(got_lines[-1]) == sorted({w for s in expected.values() for w in s})
    assert parse_counters_line(files["counters.txt"].decode()) == (exp_total, exp_cats)
    return got_lines


def _review(cat, text):
    return json.dumps({"category": cat, "reviewText": text})


def test_wordless_reviews_count_but_add_no_words(spark, tmp_path):
    """Reviews whose text is empty, punctuation or only stopwords count in
    their category and in N but add no words; a category made only of such
    reviews has a counter and no output line."""
    rng = random.Random(3)
    lines = []
    for i in range(60):
        cat = CATS[i % 3]
        lines.append(_review(cat, " ".join(rng.sample(VOCAB, rng.randint(1, 5)))))
        if i % 4 == 0:
            lines.append(_review(cat, ["", "the and", "  ...!! 42 ", "A of THE"][i % 16 // 4]))
    lines += [_review("Quiet", ""), _review("Quiet", "the a of"), json.dumps({"category": "Quiet"})]
    got = _assert_pipeline_matches_reference(spark, lines, tmp_path, stopwords=STOP)
    assert not any(line.startswith("Quiet\t") for line in got)


def test_single_category_corpus_is_all_degenerate(spark, tmp_path):
    lines = [_review("Book", " ".join(VOCAB[i % 5 : i % 5 + 3])) for i in range(20)]
    assert _assert_pipeline_matches_reference(spark, lines, tmp_path, stopwords=STOP) == ["[]"]


def test_all_malformed_file(spark, tmp_path):
    lines = ['{"category": "Book", "reviewText": broken', "not json", "[1, 2]"]
    assert _assert_pipeline_matches_reference(spark, lines, tmp_path, stopwords=STOP) == ["[]"]
    assert (tmp_path / "out" / "counters.txt").read_text() == "0 {}\n"


def test_builtin_stopword_list(spark, tmp_path):
    """stopwords_path=None filters with the built-in list and keeps the
    per-review markers, including those of stopword-only reviews."""
    rng = random.Random(5)
    lines = [
        _review(CATS[i % 3], " ".join(rng.sample(VOCAB, 3) + ["the", "and", "of"]))
        for i in range(45)
    ]
    lines += [_review("Book", "the and of"), _review("Electronic", "")]
    _assert_pipeline_matches_reference(spark, lines, tmp_path, stopwords=None)
