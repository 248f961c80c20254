"""The two §2 ledger cells with no assertion until round 9:

- S8 stdout result echo (cli._cmd_query's JSON line — the analogue of
  the reference wrapper catting results to the terminal,
  src/main.sh:84-86): run the real CLI in a subprocess and parse what
  lands on stdout. Subprocess, not capsys: the CLI owns its
  SparkSession lifecycle (get_spark ... spark.stop()), and running it
  in-process would stop the session-scoped pytest fixture.
- D4 runner/environment switch (session.get_spark's master/env
  plumbing — reference src/main.sh:18-50 switches -r inline/local/
  hadoop): a config-matrix smoke in an isolated JVM per cell, because
  getOrCreate() returns the existing session and ignores a new master,
  so a matrix inside one JVM would silently assert nothing.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"


def _run(argv: list[str], env: dict[str, str] | None = None) -> str:
    e = dict(os.environ)
    if env:
        e.update(env)
    out = subprocess.run(
        [sys.executable, *argv],
        cwd=REPO,
        env=e,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return out.stdout


def test_cli_query_echoes_result_json_on_stdout():
    """S8: the query subcommand must end with one parseable JSON line
    carrying the row count, timing, and a bounded sample."""
    stdout = _run(
        [
            "-m",
            "dic_a1_spark.cli",
            "query",
            "embedding_norms",
            "--sf-dir",
            SF,
            "--limit",
            "3",
        ]
    )
    payload = json.loads(stdout.strip().splitlines()[-1])
    assert payload["query"] == "embedding_norms"
    assert payload["rows"] == 500  # sf0.001 embeddings row count
    assert payload["elapsed_sec"] > 0
    assert 0 < len(payload["sample"]) <= 3
    assert {"vec_id", "l2_norm"} <= set(payload["sample"][0])


def test_cli_bench_resolves_bench_py_outside_the_repo_root(monkeypatch, tmp_path):
    """`cli bench` must find bench.py from the package, not the cwd."""
    from dic_a1_spark import cli

    calls = []
    monkeypatch.setattr(subprocess, "call", lambda argv, **kw: calls.append(argv) or 0)
    monkeypatch.chdir(tmp_path)
    assert cli.main(["bench"]) == 0
    bench = Path(calls[0][1])
    assert bench.is_absolute() and bench.is_file() and bench.name == "bench.py"


def test_cli_query_list_enumerates_registry():
    stdout = _run(["-m", "dic_a1_spark.cli", "query", "list"])
    names = stdout.split()
    assert len(names) >= 240
    assert "knn_cosine_bruteforce" in names
    assert names == sorted(names)


_MATRIX_SNIPPET = """
import json
from dic_a1_spark.session import get_spark
spark = get_spark(app_name="d4-matrix", master={master!r})
print("D4JSON " + json.dumps({{
    "master": spark.sparkContext.master,
    "shuffle": spark.conf.get("spark.sql.shuffle.partitions"),
    "tz": spark.conf.get("spark.sql.session.timeZone"),
}}))
spark.stop()
"""


def _matrix_cell(master: str | None, env: dict[str, str] | None = None) -> dict:
    stdout = _run(["-c", _MATRIX_SNIPPET.format(master=master)], env=env)
    line = next(l for l in stdout.splitlines() if l.startswith("D4JSON "))
    return json.loads(line[len("D4JSON "):])


def test_session_factory_explicit_master_wins():
    """D4: an explicit master override reaches the session verbatim."""
    got = _matrix_cell("local[2]")
    assert got["master"] == "local[2]"
    assert got["tz"] == "UTC"


def test_session_factory_env_defaults():
    """D4: with no explicit master, local[$SPARK_GRAFT_CPUS] applies and
    SPARK_GRAFT_SHUFFLE_PARTITIONS sizes the shuffle. (Env is read at
    module import, hence the fresh interpreter.)"""
    got = _matrix_cell(
        None,
        env={"SPARK_GRAFT_CPUS": "4", "SPARK_GRAFT_SHUFFLE_PARTITIONS": "8"},
    )
    assert got["master"] == "local[4]"
    assert got["shuffle"] == "8"
