"""``session.get_spark``: Python workers import the package wherever
the driver starts, not only from the repo root."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the driver finds the package through sys.path only, as bench.py and
# the tools do; the workers get nothing but what get_spark ships
CHILD = f"""
import sys
sys.path.insert(0, {REPO!r})
from crime_spark_ml_spark.operators.dedup import minhash_signatures
from crime_spark_ml_spark.session import get_spark

spark = get_spark("worker-import", cpus=2, shuffle_partitions=2, driver_memory="1g")
spark.sparkContext.setLogLevel("ERROR")
docs = spark.createDataFrame([(1, "a b c d e"), (2, "a b c d f")], "doc_id long, text string")
print(sorted(r.doc_id for r in minhash_signatures(docs, num_hashes=4).collect()))
spark.stop()
"""


def test_python_workers_import_package_outside_repo_root():
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", CHILD],
        cwd="/tmp",
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert proc.stdout.strip().splitlines()[-1] == "[1, 2]"
