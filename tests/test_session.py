"""The session factory's driver heap is a ceiling committed on demand:
the JVM starts without an initial heap equal to the ceiling and without
pre-touching it, so its resident memory follows what a job uses."""

import os
import subprocess
import sys

# A fresh session: the shared test session's resident memory reflects every
# test that ran before it (its heap grew past 5 GB in a full run), not one
# small job.
PROBE = """
from pyspark.sql import functions as F
from professional_services_data_validator_spark.session import get_spark

spark = get_spark("psdv-rss-probe", master="local[2]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
rows = spark.range(200_000).groupBy((F.col("id") % 10).alias("k")).count().collect()
assert len(rows) == 10
pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
with open(f"/proc/{pid}/status") as f:
    print(next(int(line.split()[1]) for line in f if line.startswith("VmRSS:")))
spark.stop()
"""


def test_driver_heap_not_reserved_at_start(spark):
    args = list(
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getRuntimeMXBean().getInputArguments()
    )
    assert "-XX:+AlwaysPreTouch" not in args
    assert not [a for a in args if a.startswith("-Xms")], args


def test_driver_rss_follows_the_job_not_the_ceiling():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    env = {**os.environ, "SPARK_DRIVER_MEM": "4g", "PYTHONPATH": path}
    p = subprocess.run(
        [sys.executable, "-c", PROBE], env=env, cwd=root,
        capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    rss_kb = int(p.stdout.split()[-1])
    assert rss_kb < 4 * 2**20 // 2, rss_kb
