"""Tests of the benchmark itself: seeded generators, metric names and the
correctness checker. Run with ``python -m pytest perfbench/tests -q``."""

from __future__ import annotations

import ast
import hashlib
import json
import re
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())
CFG = json.loads((HERE / "config.json").read_text())

SMALL_REVIEWS = dict(CFG["reviews_chisq"], reviews=400, vocab=600, category_words=40)
SMALL_TABLES = dict(customer=50, supplier=10, part=40, orders=200, lineitem=800,
                    events=300, users=20, documents=40, embeddings=30)
SMALL_CORPUS = dict(CFG["dedup_groups"]["corpus"], documents=40, embeddings=30)


def _digest_dir(d: str) -> dict[str, str]:
    return {str(f.relative_to(d)): hashlib.sha256(f.read_bytes()).hexdigest()
            for f in sorted(Path(d).rglob("*")) if f.is_file()}


@pytest.mark.parametrize("write,cfg", [
    (gen.write_reviews, SMALL_REVIEWS),
    (gen.write_tables, SMALL_TABLES),
    (gen.write_dedup_corpus, SMALL_CORPUS),
])
def test_generators_repeat_per_seed_and_differ_across_seeds(tmp_path, write, cfg):
    dirs = {}
    for label, seed in (("a", 7), ("b", 7), ("c", 8)):
        d = tmp_path / label
        d.mkdir()
        write(seed, cfg, str(d))
        dirs[label] = _digest_dir(str(d))
    assert dirs["a"] == dirs["b"]
    assert dirs["a"].keys() == dirs["c"].keys()
    assert all(dirs["a"][f] != dirs["c"][f] for f in dirs["a"] if f.endswith((".json", ".parquet"))
               and f not in ("region.parquet", "nation.parquet"))


def test_reviews_input_has_malformed_and_defaulted_lines(tmp_path):
    info = gen.write_reviews(3, dict(SMALL_REVIEWS, reviews=2000), str(tmp_path))
    bad = no_cat = no_text = 0
    lines = [ln for f in sorted(Path(info["reviews"]).iterdir()) for ln in f.read_text().splitlines()]
    assert len(lines) == 2000
    for line in lines:
        try:
            rec = json.loads(line)
        except ValueError:
            bad += 1
            continue
        no_cat += "category" not in rec
        no_text += "reviewText" not in rec
    assert bad and no_cat and no_text
    stop = Path(info["stopwords"]).read_text().split()
    assert len(stop) > len(set(stop))


def test_metric_names_are_well_formed_and_unique():
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in SPEC[k]]
    assert len(names) == len(set(names))
    for n in names + [w["name"] for w in SPEC["workloads"]]:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n), n
    assert {w["name"] for w in SPEC["workloads"]} == set(workloads.WORKLOADS)


def _fake_passes(queries):
    stats = {"jobs": 3, "stages": 4, "tasks": 8, "run_s": 1.0, "cpu_s": 0.5, "gc_s": 0.1,
             "input_b": 2.0**20, "shuffle_write_b": 1.0, "shuffle_read_b": 1.0,
             "spill_b": 0.0, "arrow_b": 0.0, "py_cpu_s": 0.0, "job_s": [0.1, 0.2]}
    rec = lambda q: {"name": q, "seconds": 0.5, "build_s": 0.1, "digest": "x", "stats": dict(stats),
                     "phases": {"analysis": 0.01, "optimization": 0.02, "planning": 0.01}}
    return [[rec(q) for q in queries] for _ in range(2)]


def test_every_declared_metric_is_produced(tmp_path):
    wl = workloads.build("query_mix", CFG, str(tmp_path), 1)
    wl.input_bytes = 2**20
    queries = [q for w in ("query_mix", "dedup_groups") for q in CFG[w]["queries"]]
    passes = _fake_passes(CFG["query_mix"]["queries"])
    setups = [{"total": 3.0, "get_spark": 1.0, "all_queries": 0.5, "first_job": 0.5,
               "python_workers": 1.0}] * 3
    per_layer = run._per_layer(wl, passes, setups, [1.0, 1.1], (0, 0.0), {}, 4, queries)
    e2e = run._end_to_end(wl, passes, setups, 100.0)
    assert set(per_layer) == {m["name"] for m in SPEC["per_layer"]}
    assert set(e2e) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(v > 0 for v in e2e.values())


@pytest.fixture(scope="module")
def reviews(tmp_path_factory):
    d = tmp_path_factory.mktemp("reviews")
    info = gen.write_reviews(5, dict(SMALL_REVIEWS, reviews=1500), str(d))
    return info, check.reference_chisq(info["reviews"], info["stopwords"])


def _reviews_digest(ref, lines, per_category=None):
    text = "\n".join(lines) + "\n"
    return workloads.reviews_digest(lines, text, ref["total"], per_category or ref["per_category"])


def test_reference_chisq_shape(reviews):
    _, ref = reviews
    assert len(ref["lines"]) == len(ref["per_category"]) + 1
    assert "Unknown" in ref["per_category"]


def test_checker_rejects_one_swapped_top_word(reviews):
    _, ref = reviews
    good = _reviews_digest(ref, ref["lines"])
    cat, body = ref["lines"][0].split("\t", 1)
    top = ast.literal_eval(body)
    first, second = list(top)[:2]
    swapped = {(second if w == first else first if w == second else w): v for w, v in top.items()}
    bad_lines = [f"{cat}\t{swapped!s}"] + ref["lines"][1:]
    assert _reviews_digest(ref, bad_lines) != good
    assert _reviews_digest(ref, list(ref["lines"])) == good


def test_checker_rejects_wrong_counters(reviews):
    _, ref = reviews
    wrong = dict(ref["per_category"])
    wrong["Book"] += 1
    assert _reviews_digest(ref, ref["lines"], wrong) != _reviews_digest(ref, ref["lines"])


def test_canonical_ignores_row_order_and_rejects_a_dropped_row():
    cols = ["doc_id", "group_id"]
    rows = [(i, i // 3) for i in range(30)]
    good = check.canonical(cols, rows)
    assert check.canonical(cols[::-1], [(g, d) for d, g in reversed(rows)]) == good
    assert check.canonical(cols, rows[:-1]) != good
    assert check.canonical(cols, rows[:-1] + [(29, 8)]) != good
