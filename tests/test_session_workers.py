"""get_spark() must let Python workers import the package from any
working directory: pandas UDFs and mapInPandas closures reference
module-level kernels, which the workers import by name.

Runs in a subprocess started OUTSIDE the repo with no PYTHONPATH — the
shape of a tool or bench started from another directory — because the
session-scoped test JVM already carries its environment.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = f"""
import sys
sys.path.insert(0, {REPO!r})
from dic_a1_spark.operators.similarity import _round4_ge_boundary
from dic_a1_spark.session import get_spark


def tag(batches):  # pickled by value; the kernel it calls is imported by name
    for pdf in batches:
        yield pdf.assign(t=_round4_ge_boundary(0.4))


spark = get_spark(app_name="worker-path", master="local[1]")
print("T", spark.range(1).mapInPandas(tag, "id long, t double").first()["t"])
spark.stop()
"""


def test_workers_import_package_outside_repo_root(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "T 0.39995" in out.stdout.splitlines(), out.stderr[-3000:]
