"""Python-worker stages import the package from any working directory."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_lsh_signatures_runs_from_a_foreign_working_directory(tmp_path):
    """A session the package did not build, a working directory that
    does not hold the package, and the package on ``sys.path`` only:
    the ``mapInArrow`` MinHash pass must still import it in its Python
    workers (it failed with ModuleNotFoundError before the package was
    shipped to them)."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import SparkSession
        spark = (
            SparkSession.builder.master("local[1]")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        from alternating_least_squares_spark.functions.dedup import (
            lsh_signatures,
        )
        docs = spark.createDataFrame(
            [(1, "a b c d"), (2, None)], "doc_id long, text string"
        )
        rows = lsh_signatures(docs, "doc_id", "text").collect()
        print("ROWS", len(rows))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert "ROWS 2" in run.stdout
