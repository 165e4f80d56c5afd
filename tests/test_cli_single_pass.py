"""`validate … --output`: the report write is the job's one pass over the
report rows. The exit code comes from counts observed during the write,
stdout renders this run's rows read back from the output, and the report
and every lineage row of the job share one run id."""

import json
import signal
import tempfile

from pyspark.sql import functions as F

N_ROWS = 40
#: report fail rows of the planted defects: the deleted row, and the
#: mutated row once per side (the hash joins with the PK)
N_FAIL = 3


def _sides(spark, d, defects=True):
    src = spark.range(N_ROWS).select(
        F.concat(F.lit("c"), (F.col("id") % 4).cast("string")).alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.concat(F.lit("text "), F.col("id").cast("string")).alias("text"),
    )
    tgt = src
    if defects:
        tgt = src.filter(F.col("turn_idx") != 3).withColumn(
            "text",
            F.when(F.col("turn_idx") == 7, F.lit("mutated")).otherwise(
                F.col("text")
            ),
        )
    src.write.mode("overwrite").parquet(d + "/src")
    tgt.write.mode("overwrite").parquet(d + "/tgt")


def _row_args(d, *extra):
    return [
        "validate", "row",
        "--source-path", d + "/src",
        "--target-path", d + "/tgt",
        "--primary-keys", "conv_id,turn_idx",
        "--hash", "*",
        "--output", d + "/report",
        "--format", "json",
        *extra,
    ]


def _records(out: str) -> list[dict]:
    return json.loads(out.strip().splitlines()[-1])


def test_appended_runs_exit_codes_and_stdout_is_this_run(spark, capsys):
    """Two runs append to one output: planted defects exit 1, identical
    sides exit 0, and the second run prints only its own rows."""
    from professional_services_data_validator_spark.cli import main

    with tempfile.TemporaryDirectory() as d:
        _sides(spark, d)
        assert main(_row_args(d)) == 1
        capsys.readouterr()
        _sides(spark, d, defects=False)
        assert main(_row_args(d)) == 0
        recs = _records(capsys.readouterr().out)
        written = spark.read.parquet(d + "/report")
        runs = written.groupBy("run_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("validation_status") == "fail").cast("int")).alias(
                "n_fail"
            ),
        ).collect()
        assert len(runs) == 2
        assert sorted(r.n_fail for r in runs) == [0, N_FAIL]
        assert len(recs) == N_ROWS
        assert {r["validation_status"] for r in recs} == {"success"}


def test_read_back_opens_only_this_writes_files(spark, capsys):
    """Stdout reads the files this run's write added, not the output's
    history: an unreadable file already in the output directory is never
    opened. The output path holds characters a URI escapes."""
    import os

    from professional_services_data_validator_spark.cli import main

    with tempfile.TemporaryDirectory(prefix="out put%20") as d:
        _sides(spark, d)
        junk = d + "/report/validation_status=success"
        os.makedirs(junk)
        earlier = junk + "/part-00000-earlier.snappy.parquet"
        with open(earlier, "wb") as f:
            f.write(b"not a parquet file")
        assert main(_row_args(d)) == 1
        recs = _records(capsys.readouterr().out)
        os.remove(earlier)
        assert len(recs) == spark.read.parquet(d + "/report").count()
        assert sum(r["validation_status"] == "fail" for r in recs) == N_FAIL


def test_filter_status_reads_back_fail_rows_only(spark, capsys):
    from professional_services_data_validator_spark.cli import main

    with tempfile.TemporaryDirectory() as d:
        _sides(spark, d)
        assert main(_row_args(d, "--filter-status", "fail")) == 1
        recs = _records(capsys.readouterr().out)
        assert len(recs) == N_FAIL
        assert {r["validation_status"] for r in recs} == {"fail"}


def _main_within(argv, seconds=180):
    """Run the CLI under an alarm, so that a job that never returns fails
    the test instead of hanging the suite (the CLI runs in this thread: it
    only leaves a session it found active in its own thread running)."""
    from professional_services_data_validator_spark.cli import main

    def expire(*_):
        raise TimeoutError(f"{argv[:2]} did not finish in {seconds} s")

    old = signal.signal(signal.SIGALRM, expire)
    signal.alarm(seconds)
    try:
        return main(argv)
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)


def test_empty_sides_exit_zero(spark, capsys):
    """An empty report writes no data file: the observed counts are 0 and
    the read-back (explicit schema) renders no rows."""
    with tempfile.TemporaryDirectory() as d:
        empty = spark.range(0).select(
            F.col("id").cast("string").alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
            F.col("id").cast("string").alias("text"),
        )
        empty.write.parquet(d + "/src")
        empty.write.parquet(d + "/tgt")
        assert _main_within(_row_args(d)) == 0
        assert _records(capsys.readouterr().out) == []
        rc = _main_within([
            "validate", "column",
            "--source-path", d + "/src",
            "--target-path", d + "/tgt",
            "--count", "*",
            "--grouped-columns", "conv_id",
            "--output", d + "/column",
            "--format", "json",
        ])
        assert rc == 0
        assert _records(capsys.readouterr().out) == []


def test_output_path_persists_nothing(spark, monkeypatch):
    from pyspark.sql.classic.dataframe import DataFrame

    from professional_services_data_validator_spark.cli import main

    def refuse(*a, **k):
        raise AssertionError("the --output path must not cache the report")

    with tempfile.TemporaryDirectory() as d:
        _sides(spark, d)
        monkeypatch.setattr(DataFrame, "persist", refuse)
        monkeypatch.setattr(DataFrame, "cache", refuse)
        assert main(_row_args(d)) == 1


def test_lineage_rows_carry_the_report_run_id(spark):
    """Checksum verdicts, per-partition row verdicts and the report of one
    `validate row` job are written under one run id."""
    from professional_services_data_validator_spark.cli import main

    with tempfile.TemporaryDirectory() as d:
        _sides(spark, d)
        rc = main(_row_args(
            d,
            "--lineage-dir", d + "/lineage",
            "--partition-keys", "conv_id",
            "--num-partitions", "2",
            "--checksum-first", "turn_idx % 5",
        ))
        assert rc == 1
        report_ids = {
            r.run_id
            for r in spark.read.parquet(d + "/report")
            .select("run_id").distinct().collect()
        }
        lineage = spark.read.parquet(d + "/lineage")
        stages = {r.stage for r in lineage.select("stage").distinct().collect()}
        assert stages == {"Row", "Row:checksum"}
        lineage_ids = {
            r.run_id for r in lineage.select("run_id").distinct().collect()
        }
        assert len(report_ids) == 1
        assert lineage_ids == report_ids


def test_small_report_write_observes_each_row_once(spark):
    """The single sorted file of a small report comes from one execution of
    the report: an observed count equals the row count (a global orderBy's
    sampling job would run the plan twice and count every row twice)."""
    from pyspark.sql import Observation

    from professional_services_data_validator_spark.sources.sinks import (
        write_report,
    )

    report = spark.range(100).select(
        (F.col("id") % 7).cast("string").alias("validation_name"),
        F.lit("success").alias("validation_status"),
    )
    obs = Observation()
    with tempfile.TemporaryDirectory() as d:
        write_report(
            report.observe(obs, F.count(F.lit(1)).alias("n")),
            d + "/rep",
            small=True,
        )
        names = [r.validation_name for r in spark.read.parquet(d + "/rep").collect()]
    assert obs.get["n"] == 100
    assert names == sorted(names)
