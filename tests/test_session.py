"""``get_spark`` resolves its environment when the session is built, so a
caller that imports the package first and configures it afterwards still
gets what it asked for."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_LATE_ENV = """
import os
import mlops_pipelines_featurestore_gcp_spark as pkg

os.environ["SPARK_GRAFT_CPUS"] = "3"
os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
spark = pkg.get_spark("late-env")
print(
    spark.sparkContext.master,
    spark.conf.get("spark.sql.shuffle.partitions"),
    spark.conf.get("spark.driver.memory"),
)
spark.stop()
"""


def test_env_set_after_import_reaches_the_session():
    # a fresh interpreter: the shared test session stays untouched
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")}
    proc = subprocess.run(
        [sys.executable, "-c", _LATE_ENV], cwd=REPO, env=env, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.split() == ["local[3]", "3", "1g"]
