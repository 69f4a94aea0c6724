"""Session construction (session.py): Python-boundary operators must run
under a local master no matter which directory the driver starts in."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parents[1]


def test_local_python_workers_import_package_from_any_cwd(tmp_path):
    """The SimHash mapInArrow kernel calls a module-level helper, which
    cloudpickle ships by reference: local-mode Python workers start in
    the driver's cwd, so they import the package only through
    spark.executorEnv.PYTHONPATH."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(REPO_ROOT)!r})
        from dynamic_etl_pipeline_spark.operators.dedup import simhash_fingerprints
        from dynamic_etl_pipeline_spark.session import get_spark

        spark = get_spark("cwd-check", master="local[1]")
        df = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "g h i j k l")], "doc_id long, text string"
        )
        rows = simhash_fingerprints(df, "doc_id", "text").collect()
        print("FINGERPRINTS", len(rows))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env.setdefault("SPARK_LOCAL_DIRS", str(tmp_path / "spark-local"))
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "ModuleNotFoundError" not in proc.stderr, proc.stderr[-2000:]
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "FINGERPRINTS 2" in proc.stdout
