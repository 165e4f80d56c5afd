"""spark-submit --py-files packaging + CLI job tests (north-rule surface)."""

import json
import os
import subprocess
import sys
import tempfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_fixtures(spark, d):
    from professional_services_data_validator_spark.sources.readers import (
        register_transcripts,
    )

    register_transcripts(spark, "/root/testdata/sf0.001")
    spark.table("transcripts").drop("event_id").write.parquet(d + "/src")
    spark.table("transcripts_target").drop("event_id").write.parquet(d + "/tgt")
    cfg = d + "/validation.yaml"
    with open(cfg, "w") as f:
        f.write(
            """
type: GroupedColumn
source_table: transcripts
target_table: transcripts_target
aggregates:
  - {agg_type: count}
  - {agg_type: sum, column: turn_idx}
group_by: [ts]
threshold: 0.0
"""
        )
    return cfg


def test_cli_main_in_process(spark):
    from professional_services_data_validator_spark.cli import main

    with tempfile.TemporaryDirectory() as d:
        cfg = _write_fixtures(spark, d)
        rc = main(
            [
                "--config", cfg,
                "--source-path", d + "/src",
                "--target-path", d + "/tgt",
                "--lineage-dir", d + "/lineage",
                "--partition-by", "CAST(ts AS DATE)",
                "--output", d + "/report",
                "--filter-status", "fail",
            ]
        )
        assert rc == 1  # defects present -> failing exit code
        # report written
        rep = spark.read.parquet(d + "/report")
        assert rep.count() > 0
        # lineage rows written for the grouped run
        lin = spark.read.parquet(d + "/lineage")
        assert lin.count() > 0

        # resume: re-run skips passed partitions (fewer report rows)
        rc2 = main(
            [
                "--config", cfg,
                "--source-path", d + "/src",
                "--target-path", d + "/tgt",
                "--lineage-dir", d + "/lineage",
                "--partition-by", "CAST(ts AS DATE)",
                "--resume",
            ]
        )
        assert rc2 == 1


def test_cli_schema_validation_and_manifest_emission(spark):
    """Schema validation dispatches through run_validation (round-2 fix:
    previously only reachable via the library call), and --emit-manifest
    writes the runnable partition units."""
    from professional_services_data_validator_spark.cli import main

    with tempfile.TemporaryDirectory() as d:
        _write_fixtures(spark, d)
        cfg = d + "/schema.yaml"
        with open(cfg, "w") as f:
            f.write("type: Schema\nallow_list: 'int:bigint'\n")
        rc = main(
            [
                "--config", cfg,
                "--source-path", d + "/src",
                "--target-path", d + "/tgt",
                "--lineage-dir", d + "/lineage",
                "--partition-keys", "conv_id,turn_idx",
                "--num-partitions", "4",
                "--emit-manifest", d + "/manifest",
            ]
        )
        assert rc == 0  # identical schemas -> success exit
        man = spark.read.parquet(d + "/manifest")
        assert man.count() == 4
        assert "where_clause" in man.columns


def test_cli_row_manifest_resume(spark):
    """Row validation with a PK-range partition manifest: verdicts land in
    lineage per manifest partition, and --resume prunes passed ranges from
    the scan (reference generate-table-partitions + per-YAML fan-out)."""
    from pyspark.sql import functions as F

    from professional_services_data_validator_spark.cli import main

    with tempfile.TemporaryDirectory() as d:
        _write_fixtures(spark, d)
        cfg = d + "/row_validation.yaml"
        with open(cfg, "w") as f:
            f.write(
                """
type: Row
primary_keys: [conv_id, turn_idx]
hash_columns: '*'
"""
            )
        common = [
            "--config", cfg,
            "--source-path", d + "/src",
            "--target-path", d + "/tgt",
            "--lineage-dir", d + "/lineage",
            "--partition-keys", "conv_id,turn_idx",
            "--num-partitions", "4",
            "--output", d + "/report",
        ]
        rc = main(common)
        assert rc == 1  # injected defects -> fail exit
        lin = spark.read.parquet(d + "/lineage")
        run1 = lin.filter(F.col("stage") == "Row")
        assert run1.select("partition_id").distinct().count() == 4
        statuses = {
            r.partition_id: r.verdict
            for r in run1.select("partition_id", "verdict").collect()
        }
        passed_first = {p for p, v in statuses.items() if v == "success"}

        # row-level report written partitioned by status (no coalesce(1))
        assert os.path.isdir(d + "/report/validation_status=fail")

        rc2 = main(common + ["--resume"])
        assert rc2 == 1  # failing partitions re-run and still fail
        lin2 = spark.read.parquet(d + "/lineage").filter(
            F.col("stage") == "Row"
        )
        # resumed run recorded verdicts only for not-yet-passed partitions
        reran = (
            lin2.groupBy("partition_id")
            .count()
            .filter(F.col("count") > 1)
            .select("partition_id")
            .collect()
        )
        assert passed_first.isdisjoint({r.partition_id for r in reran})


def _report_rows(spark, path):
    """Collected report minus run-scoped volatiles (run_id, timestamps)."""
    df = spark.read.parquet(path)
    drop = [
        c for c in ("run_id", "start_time", "end_time") if c in df.columns
    ]
    rows = [tuple(r) for r in df.drop(*drop).collect()]
    return sorted(rows, key=lambda t: tuple(str(x) for x in t))


def test_cli_validate_column_flags_match_yaml(spark):
    """VERDICT r2 #3: the reference's primary UX is flag-driven
    `validate column ...` (cli_tools.py:474-800). A flag run must produce a
    report identical to the equivalent explicit YAML config."""
    from professional_services_data_validator_spark.cli import main

    with tempfile.TemporaryDirectory() as d:
        _write_fixtures(spark, d)
        cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        cfg = d + "/equiv.yaml"
        aggs = ["  - {agg_type: count}\n"] + [
            f"  - {{agg_type: count, column: {c}}}\n" for c in cols
        ] + ["  - {agg_type: sum, column: turn_idx}\n"]
        with open(cfg, "w") as f:
            f.write(
                "type: GroupedColumn\ngroup_by: [ts]\naggregates:\n"
                + "".join(aggs)
            )
        io = ["--source-path", d + "/src", "--target-path", d + "/tgt"]
        rc_yaml = main(
            ["--config", cfg, "--output", d + "/rep_yaml"] + io
        )
        rc_flags = main(
            [
                "validate", "column",
                "--count", "*",
                "--sum", "turn_idx",
                "--grouped-columns", "ts",
                "--output", d + "/rep_flags",
            ] + io
        )
        assert rc_yaml == rc_flags
        assert _report_rows(spark, d + "/rep_yaml") == _report_rows(
            spark, d + "/rep_flags"
        )


def test_cli_validate_row_flags(spark):
    """validate row --hash '*' end-to-end: same report as the YAML config
    (hash mode, trim/CI flags default off)."""
    from professional_services_data_validator_spark.cli import main

    with tempfile.TemporaryDirectory() as d:
        _write_fixtures(spark, d)
        cfg = d + "/row.yaml"
        with open(cfg, "w") as f:
            f.write(
                "type: Row\nprimary_keys: [conv_id, turn_idx]\n"
                "hash_columns: '*'\n"
            )
        io = ["--source-path", d + "/src", "--target-path", d + "/tgt"]
        rc_yaml = main(["--config", cfg, "--output", d + "/rep_yaml"] + io)
        rc_flags = main(
            [
                "validate", "row",
                "--primary-keys", "conv_id,turn_idx",
                "--hash", "*",
                "--output", d + "/rep_flags",
            ] + io
        )
        assert rc_yaml == rc_flags == 1  # injected defects -> fail exit
        assert _report_rows(spark, d + "/rep_yaml") == _report_rows(
            spark, d + "/rep_flags"
        )


def test_cli_validate_schema_flags_and_filters(spark):
    """validate schema with --allow-list, plus --filters parsing on a
    column validation ('src' and 'src:tgt' forms)."""
    from professional_services_data_validator_spark.cli import (
        _parse_filters,
        main,
    )

    assert _parse_filters("a > 1") == [{"ftype": "custom", "source": "a > 1"}]
    assert _parse_filters("a > 1:b > 2") == [
        {"ftype": "custom", "source": "a > 1", "target": "b > 2"}
    ]
    with pytest.raises(SystemExit):
        _parse_filters("a:b:c")

    with tempfile.TemporaryDirectory() as d:
        _write_fixtures(spark, d)
        rc = main(
            [
                "validate", "schema",
                "--allow-list", "int:bigint",
                "--source-path", d + "/src",
                "--target-path", d + "/tgt",
            ]
        )
        assert rc == 0  # identical schemas


def test_cli_report_dag_executes_once(spark, monkeypatch, capsys):
    """VERDICT r2 #2: the job entrypoint used to re-execute the validation
    DAG for every downstream action (verdicts, write, text, exit count) —
    up to 4x the full outer join. An accumulator inside the report DAG
    counts row evaluations across ALL of main()'s actions; with --output
    the write is the one pass (the exit code comes from counts observed
    during it, the text from the written rows), so it must equal n
    exactly, where the old code paid ~3n."""
    import professional_services_data_validator_spark.plans.compiler as compiler
    from pyspark.sql import functions as F

    acc = spark.sparkContext.accumulator(0)

    @F.udf("int")
    def bump(x):
        acc.add(1)
        return x

    n = 50

    def fake_run_validation(config, source, target, spark=None,
                            run_metadata=None):
        s = source.sparkSession if source is not None else spark
        return s.range(n).select(
            bump(F.col("id").cast("int")).alias("checked"),
            F.lit(run_metadata.run_id if run_metadata else "r1").alias(
                "run_id"
            ),
            F.lit("success").alias("validation_status"),
        )

    monkeypatch.setattr(compiler, "run_validation", fake_run_validation)
    from professional_services_data_validator_spark.cli import main

    with tempfile.TemporaryDirectory() as d:
        _write_fixtures(spark, d)
        cfg = d + "/count.yaml"
        with open(cfg, "w") as f:
            f.write("type: Column\naggregates:\n  - {agg_type: count}\n")
        rc = main(
            [
                "--config", cfg,
                "--source-path", d + "/src",
                "--target-path", d + "/tgt",
                "--output", d + "/rep",
                "--format", "json",
            ]
        )
        assert rc == 0
    shown = [
        ln for ln in capsys.readouterr().out.splitlines() if ln.startswith("[")
    ]
    assert len(json.loads(shown[-1])) == n  # the read-back render ran
    assert acc.value == n, f"report DAG executed {acc.value / n:.1f}x"


def test_cli_query_command(spark, capsys):
    """`psdv-spark query --sql ...` (reference cli_tools.py:364-371)."""
    from professional_services_data_validator_spark.cli import main

    with tempfile.TemporaryDirectory() as d:
        _write_fixtures(spark, d)
        rc = main(
            [
                "query",
                "--sql", "SELECT count(*) AS n, min(turn_idx) AS lo FROM t",
                "--table", f"t={d}/src",
            ]
        )
        assert rc == 0
        out = capsys.readouterr().out
        assert "n" in out and "lo" in out
        n = spark.read.parquet(d + "/src").count()
        assert str(n) in out


def test_cli_catalog_table_sources(spark):
    """--source-table/--target-table resolve through the session catalog
    (cli `_load_side` -> ``spark.read.table``) — the exact read path an
    Iceberg catalog table takes in production (north-rule input is an
    Iceberg transcripts table; here the catalog entries are managed
    parquet tables, same API surface). The report must be identical to
    the parquet-path run over the same data."""
    from professional_services_data_validator_spark.cli import main

    with tempfile.TemporaryDirectory() as d:
        _write_fixtures(spark, d)
        spark.read.parquet(d + "/src").write.saveAsTable("cat_src_cli_test")
        spark.read.parquet(d + "/tgt").write.saveAsTable("cat_tgt_cli_test")
        try:
            flags = [
                "validate", "column",
                "--count", "*",
                "--sum", "turn_idx",
                "--grouped-columns", "ts",
            ]
            rc_path = main(
                flags
                + ["--source-path", d + "/src", "--target-path", d + "/tgt",
                   "--output", d + "/rep_path"]
            )
            rc_cat = main(
                flags
                + ["--source-table", "cat_src_cli_test",
                   "--target-table", "cat_tgt_cli_test",
                   "--output", d + "/rep_cat"]
            )
            assert rc_path == rc_cat
            assert _report_rows(spark, d + "/rep_path") == _report_rows(
                spark, d + "/rep_cat"
            )
        finally:
            spark.sql("DROP TABLE IF EXISTS cat_src_cli_test")
            spark.sql("DROP TABLE IF EXISTS cat_tgt_cli_test")


@pytest.mark.slow
def test_spark_submit_py_files(spark):
    """Real spark-submit with the zip artifact — the packaging contract."""
    subprocess.run(["sh", os.path.join(REPO, "package.sh")], check=True)
    with tempfile.TemporaryDirectory() as d:
        cfg = _write_fixtures(spark, d)
        env = dict(os.environ)
        env["SPARK_GRAFT_CPUS"] = "4"
        out = subprocess.run(
            [
                os.path.join(os.path.dirname(sys.executable), "spark-submit"),
                "--master", "local[4]",
                "--py-files", os.path.join(REPO, "dist/psdv_spark.zip"),
                os.path.join(REPO, "jobs/run_validation.py"),
                "--config", cfg,
                "--source-path", d + "/src",
                "--target-path", d + "/tgt",
            ],
            capture_output=True,
            text=True,
            env=env,
            timeout=300,
        )
        assert out.returncode == 1, out.stderr[-2000:]
        assert "validation_name" in out.stdout


def test_cli_rate_gate_and_profile_sequence(spark, capsys):
    """validate row --rate-gate prints the Wilson section and drives the
    exit code by evidence; profile --sequence emits the loop +
    sequence-anomaly sections."""
    from professional_services_data_validator_spark.cli import main

    with tempfile.TemporaryDirectory() as d:
        _write_fixtures(spark, d)
        io = ["--source-path", d + "/src", "--target-path", d + "/tgt"]
        base = [
            "validate", "row",
            "--primary-keys", "conv_id,turn_idx",
            "--hash", "*",
            "--filter-status", "fail",
        ] + io
        # lenient tolerance: gate passes but the report still fails (rc 1)
        rc = main(base + ["--rate-gate", "ts:0.5"])
        out = capsys.readouterr().out
        assert rc == 1
        assert "violation-rate gate" in out
        assert "wilson_lower" in out
        # identical run WITHOUT the flag: no gate section
        rc2 = main(base)
        assert "violation-rate gate" not in capsys.readouterr().out
        assert rc2 == 1

        rc3 = main(
            [
                "profile",
                "--source-path", d + "/src",
                "--columns", "role",
                "--numeric-columns", "turn_idx",
                "--top-k", "0",
                "--sequence", "conv_id:turn_idx:role:text",
                "--sequence-top", "3",
            ]
        )
        out3 = capsys.readouterr().out
        assert rc3 == 0
        assert "== sequence_anomaly ==" in out3
        assert "== loops ==" in out3
