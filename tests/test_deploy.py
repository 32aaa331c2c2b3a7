"""Shipping the package to the Python workers (deploy.py)."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_udfs_run_with_driver_outside_the_repo(tmp_path):
    """A driver in another directory, with the package on its own sys.path
    only, runs a UDF that pickles a package function by reference: the
    workers can import geowave_spark because get_spark ships it, and the
    zip is built in the driver's TMPDIR."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from geowave_spark.functions.registry import register_all
        from geowave_spark.session import get_spark

        spark = get_spark("deploy-test", master="local[1]", shuffle_partitions=1)
        register_all(spark)
        print(spark.sql("SELECT st_distance('POINT (0 0)', 'POINT (3 4)') AS d").first().d)
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "SPARK_LOCAL_DIRS")}
    env.update(
        TMPDIR=str(tmp_path),
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_GRAFT_LOCAL_DIR=str(tmp_path / "spark-local"),
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split()[-1] == "5.0"
    assert (tmp_path / "geowave_spark_pyfiles.zip").is_file()
