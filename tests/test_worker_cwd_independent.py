"""Python workers must import the package regardless of driver cwd.

Round-7 verdict item 2: ~23 ops ship cloudpickled functions that
reference ``e2e_data_pipeline_spark`` by module path; workers used to
resolve that import only because every driver so far launched from
``/root/repo``. ``session.ensure_worker_imports`` now ``addPyFile``s a
package zip (and our own builder also sets
``spark.executorEnv.PYTHONPATH``), so a driver started from ANY cwd
works. This test proves it the hard way: a fresh subprocess JVM, cwd a
temp dir, PYTHONPATH scrubbed of the repo root, a bare driver-style
session, and one pickled-function op (``source_python_ds`` — a Python
DataSource whose reader executes worker-side) collected end-to-end.
"""

from __future__ import annotations

import os
import subprocess
import sys

from tests.conftest import REPO_ROOT

SCRIPT = r"""
import sys
sys.path.insert(0, sys.argv[1])  # driver-side import, as the harness does
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()
)
import __spark_entry__ as em

df = em.queries()["source_python_ds"](spark, "/root/testdata/sf0.001")
n = len(df.collect())
assert n > 0, n
print("CWD_INDEPENDENT_OK", n)
"""


def test_pickled_op_runs_from_foreign_cwd(tmp_path):
    env = dict(os.environ)
    # scrub any inherited repo-root PYTHONPATH so only the runtime
    # remedies (addPyFile / executorEnv) can make the import work
    parts = [
        p
        for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != REPO_ROOT
    ]
    env["PYTHONPATH"] = os.pathsep.join(parts)
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, REPO_ROOT],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "CWD_INDEPENDENT_OK" in proc.stdout


def test_suite_imports_this_checkout():
    """The package under test is the one beside this test file, not a
    copy at some fixed path that happens to be first on ``sys.path``."""
    import e2e_data_pipeline_spark

    pkg = os.path.dirname(os.path.abspath(e2e_data_pipeline_spark.__file__))
    assert os.path.dirname(pkg) == REPO_ROOT
