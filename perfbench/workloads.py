"""The three workloads: their inputs, their operations and their checks.

A workload prepares its inputs once per seed (cached under the work
directory), lists the operations of one pass, runs one operation as a
timed call into the package's public functions, and turns each result into
a digest that is compared with an expectation computed independently of
the program (plain Python for the reviews pipeline, the registered DuckDB
oracles for registry queries).
"""

from __future__ import annotations

import ast
import json
import os
import shutil

import check
import gen


def _cached_json(path: str, make):
    if os.path.exists(path):
        with open(path, encoding="utf-8") as fh:
            return json.load(fh)
    value = make()
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(value, fh)
    os.replace(tmp, path)
    return value


def _prepared_dir(work: str, key: str, write) -> tuple[str, dict]:
    """Generate inputs into ``work/inputs/key`` unless a finished copy is
    already there; return the directory and the generator's summary."""
    d = os.path.join(work, "inputs", key)
    meta = os.path.join(d, "_inputs.json")
    if not os.path.exists(meta):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        info = write(d)
        with open(meta, "w", encoding="utf-8") as fh:
            json.dump(info, fh)
    with open(meta, encoding="utf-8") as fh:
        return d, json.load(fh)


def _input_bytes(d: str, suffix: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d) if f.endswith(suffix))


class Op:
    """One timed operation's outcome."""

    __slots__ = ("name", "seconds", "build_s", "digest", "df")

    def __init__(self, name, seconds, build_s, digest, df=None):
        self.name, self.seconds, self.build_s, self.digest, self.df = (
            name, seconds, build_s, digest, df)


def reviews_digest(lines: list[str], text: str, total: int, per_category: dict) -> str:
    value = (lines, text, total, sorted(per_category.items()))
    return check.canonical(["v"], [(repr(value),)])


class ReviewsChisq:
    """The paper's job: reviews JSON in, 23 chi-square lines + counters out.
    One operation is one ``operators.reviews.run_pipeline`` call."""

    name = "reviews_chisq"

    def __init__(self, cfg: dict, work: str, seed: int):
        self.cfg, self.work, self.seed = cfg, work, seed
        self.pass_estimate_s = float(cfg["pass_estimate_s"])

    def prepare(self) -> None:
        key = f"{self.name}-{self.seed}"
        self.dir, info = _prepared_dir(self.work, key, lambda d: gen.write_reviews(self.seed, self.cfg, d))
        self.reviews = info["reviews"]
        self.stopwords = os.path.join(self.dir, "stopwords.txt")
        self.lines = info["lines"]
        self.input_bytes = info["bytes"]
        self.out = os.path.join(self.work, "out", key)

    def load(self) -> None:
        from dic_a1_spark.operators.reviews import run_pipeline

        self.run_pipeline = run_pipeline

    def items_per_pass(self) -> int:
        return self.lines

    def pass_order(self) -> list[str]:
        return ["run_pipeline"]

    def warmup(self, spark) -> None:
        """One untimed pipeline run, so the measured passes see the warm
        state of a caller that runs the job repeatedly."""
        self.run_pipeline(spark, self.reviews, self.out, stopwords_path=self.stopwords)

    def run(self, spark, name: str, tr) -> Op:
        with tr.span("operators.reviews.run_pipeline") as s:
            lines = self.run_pipeline(spark, self.reviews, self.out, stopwords_path=self.stopwords)
        return Op(name, s.seconds, 0.0, self.digest(lines, self.out))

    @staticmethod
    def digest(lines: list[str], out_dir: str) -> str:
        """Digest of the returned lines, the written output file and the
        counters file (its category dict compared as sorted items, since
        the key order follows Spark's row order)."""
        with open(os.path.join(out_dir, "chisq_output.txt"), encoding="utf-8") as fh:
            text = fh.read()
        with open(os.path.join(out_dir, "counters.txt"), encoding="utf-8") as fh:
            total, per_cat = fh.read().strip().split(" ", 1)
        return reviews_digest(lines, text, int(total), ast.literal_eval(per_cat))

    def expected(self) -> dict[str, str]:
        def make():
            ref = check.reference_chisq(self.reviews, self.stopwords)
            text = "\n".join(ref["lines"]) + "\n"
            return {"run_pipeline": reviews_digest(ref["lines"], text, ref["total"], ref["per_category"])}

        return _cached_json(os.path.join(self.work, "expected", f"{self.name}-{self.seed}.json"), make)


class RegistryQueries:
    """A list of registered queries over generated parquet tables. One
    operation is ``q(spark, dir)`` (the build, which may run jobs) followed
    by ``collect()`` of the frame (the execute); the collected rows are the
    checked result."""

    def __init__(self, name: str, cfg: dict, write, work: str, seed: int, items_per_pass):
        self.name, self.queries, self.write = name, list(cfg["queries"]), write
        self.warmup_pass = bool(cfg["warmup_pass"])
        self.pass_estimate_s = float(cfg["pass_estimate_s"])
        self.work, self.seed = work, seed
        self._items = items_per_pass

    def prepare(self) -> None:
        key = f"{self.name}-{self.seed}"
        self.dir, info = _prepared_dir(self.work, key, lambda d: self.write(self.seed, d))
        self.rows = info["rows"]
        self.input_bytes = _input_bytes(self.dir, ".parquet")

    def load(self) -> None:
        from dic_a1_spark.registry import all_queries

        qs = all_queries()
        self.fns = {n: qs[n] for n in self.queries}

    def items_per_pass(self) -> int:
        return self._items(self)

    def pass_order(self) -> list[str]:
        """The configured order, the same in every pass and run: a seeded
        order moves JIT warm-up between queries and widens the run-to-run
        spread of the latency percentiles."""
        return list(self.queries)

    def warmup(self, spark) -> None:
        """One untimed pass when the config asks for it; otherwise each
        query's first run in the session is what is timed, as a batch job
        that runs each step once sees it."""
        if self.warmup_pass:
            for n in self.queries:
                spark.catalog.clearCache()
                self.fns[n](spark, self.dir).collect()

    def run(self, spark, name: str, tr) -> Op:
        with tr.span("operators.build") as b:
            df = self.fns[name](spark, self.dir)
        with tr.span("operators.execute") as e:
            rows = df.collect()
        return Op(name, e.end - b.start, b.seconds, check.canonical(df.columns, rows), df)

    def expected(self) -> dict[str, str]:
        def make():
            from dic_a1_spark.registry import all_oracles

            return check.oracle_digests(self.dir, self.queries, all_oracles())

        return _cached_json(os.path.join(self.work, "expected", f"{self.name}-{self.seed}.json"), make)


def build(name: str, cfg: dict, work: str, seed: int):
    os.makedirs(os.path.join(work, "expected"), exist_ok=True)
    if name == "reviews_chisq":
        return ReviewsChisq(cfg[name], work, seed)
    if name == "query_mix":
        c = cfg[name]
        return RegistryQueries(
            name, c, lambda s, d: gen.write_tables(s, c["tables"], d),
            work, seed, items_per_pass=lambda w: len(w.queries))
    if name == "dedup_groups":
        c = cfg[name]
        return RegistryQueries(
            name, c, lambda s, d: gen.write_dedup_corpus(s, c["corpus"], d),
            work, seed,
            items_per_pass=lambda w: w.rows["documents"] + w.rows["embeddings"])
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("reviews_chisq", "query_mix", "dedup_groups")
