"""The CLI as a process: every subcommand runs under ``python -m``, one
call uses one Spark session, and the session it started is stopped also
when the command fails. Each check runs in a fresh interpreter, because the
test session would otherwise be the caller's session."""

import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _python(args, **kw):
    path = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    env = {**os.environ, "SPARK_DRIVER_MEM": "1g", "PYTHONPATH": path}
    return subprocess.run(
        [sys.executable, *args], env=env, cwd=ROOT,
        capture_output=True, text=True, timeout=600, **kw,
    )


def test_python_m_runs_commands_defined_below_main(tmp_path):
    """`expect` is defined below `main`, like `curate`, `profile` and
    `snapshot-diff`. Spark-free: the rules file is rejected before a
    session starts."""
    rules = tmp_path / "rules.json"
    rules.write_text('[{"column": "a"}]')
    p = _python([
        "-m", "professional_services_data_validator_spark.cli",
        "expect", "--source-path", "x", "--rules", str(rules),
    ])
    assert p.returncode == 1
    assert "rule needs a 'kind'" in p.stderr, p.stderr[-2000:]


CONTEXTS = """
import sys

from pyspark import SparkContext

from professional_services_data_validator_spark.cli import main

starts = []
init = SparkContext.__init__


def counting_init(self, *a, **k):
    starts.append(1)
    init(self, *a, **k)


SparkContext.__init__ = counting_init
rc = main(["configs", "run", "--config-dir", sys.argv[1]])
print(rc, len(starts))
"""


def test_configs_run_dir_uses_one_spark_context(tmp_path):
    table = str(tmp_path / "t")
    os.makedirs(table)
    pq.write_table(
        pa.table({"k": [1, 2, 3], "v": [1.0, 2.0, 3.0]}),
        os.path.join(table, "part-0.parquet"),
    )
    cfgs = tmp_path / "configs"
    cfgs.mkdir()
    block = "  - type: Column\n    star_aggregates: {count: '*'}\n"
    for name in ("a.yaml", "b.yaml"):
        (cfgs / name).write_text(
            f"source_path: {table}\ntarget_path: {table}\n"
            f"validations:\n{block}{block}"
        )
    p = _python(["-c", CONTEXTS, str(cfgs)])
    assert p.returncode == 0, p.stderr[-3000:]
    assert p.stdout.split()[-2:] == ["0", "1"], p.stdout[-2000:]


FAILED_QUERY = """
from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

from professional_services_data_validator_spark.cli import main

try:
    main(["query", "--sql", "SELECT * FROM no_such_view"])
except AnalysisException:
    print("raised", SparkSession.getActiveSession() is None)
"""


def test_failed_command_stops_its_session():
    p = _python(["-c", FAILED_QUERY])
    assert p.returncode == 0, p.stderr[-3000:]
    assert p.stdout.split()[-2:] == ["raised", "True"], p.stdout[-2000:]
