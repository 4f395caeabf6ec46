"""SparkSession factory behaviour that only shows in a fresh process."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = f"""
import sys
sys.path.insert(0, {ROOT!r})
from miru_spark.session import get_spark

def touch(batches):
    import miru_spark  # resolved on the Python worker's own path
    yield from batches

spark = get_spark("worker_path", master="local[1]", shuffle_partitions=1)
print(spark.range(3).mapInPandas(touch, "id long").count())
spark.stop()
"""


def test_local_python_workers_import_engine_from_any_cwd(tmp_path):
    """A driver that has the engine only on its own sys.path, started
    outside the repo with PYTHONPATH unset, can still run pandas UDFs
    that import miru_spark: get_spark puts the engine's parent
    directory on the local Python workers' path."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    p = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    assert p.stdout.strip().splitlines()[-1] == "3"
