"""The CLI's lineage verdicts and rate gate compare what the report
compares: the compiler's prepared row sides (calculated fields + filters),
aligned on the config's primary keys."""

import json
import tempfile

import pytest
from pyspark.sql import functions as F


def _write_sides(spark, sf_dir, d, target):
    from professional_services_data_validator_spark.sources.readers import (
        register_transcripts,
    )

    register_transcripts(spark, sf_dir)
    src = spark.table("transcripts").drop("event_id")
    src.write.parquet(d + "/src")
    target(src).write.parquet(d + "/tgt")
    return src.count()


def _row_args(d, *compare):
    return [
        "validate", "row",
        "--source-path", d + "/src",
        "--target-path", d + "/tgt",
        "--primary-keys", "conv_id,turn_idx",
        *(compare or ("--hash", "*")),
    ]


def _tool_changed(src):
    """Every row differs from the source, but only in ``tool``."""
    return src.withColumn(
        "tool", F.concat(F.coalesce("tool", F.lit("")), F.lit("-changed"))
    )


def test_lineage_verdicts_join_on_primary_keys(spark, sf_dir):
    """Identical sides: every manifest partition passes, and the verdict
    row counts add up to the table (one aligned row per PK, not one per
    partition-key pair)."""
    from professional_services_data_validator_spark.cli import main

    with tempfile.TemporaryDirectory() as d:
        n = _write_sides(spark, sf_dir, d, lambda src: src)
        rc = main(_row_args(d) + [
            "--lineage-dir", d + "/lineage",
            "--partition-keys", "conv_id",
            "--num-partitions", "4",
        ])
        assert rc == 0
        rows = spark.read.parquet(d + "/lineage").filter(
            F.col("stage") == "Row"
        ).collect()
        assert len(rows) == 4
        assert {r.verdict for r in rows} == {"success"}
        assert sum(json.loads(r.metrics)["n_rows"] for r in rows) == n


def test_partition_keys_must_be_primary_keys(spark, sf_dir):
    from professional_services_data_validator_spark.cli import main

    with tempfile.TemporaryDirectory() as d:
        _write_sides(spark, sf_dir, d, lambda src: src)
        with pytest.raises(SystemExit, match="not among the primary keys"):
            main(_row_args(d) + [
                "--lineage-dir", d + "/lineage",
                "--partition-keys", "role",
            ])


def test_rate_gate_sees_the_filtered_sides(spark, sf_dir, capsys):
    """Defects only at turn_idx >= 5 and --filters 'turn_idx < 5': the
    report passes, so the gate over the same filtered rows passes too."""
    from professional_services_data_validator_spark.cli import main

    def defects_late(src):
        late = F.col("turn_idx") >= 5
        return src.withColumn(
            "text",
            F.when(late & (F.col("turn_idx") % 3 == 0), F.lit("mutated"))
            .otherwise(F.col("text")),
        ).filter(~late | (F.col("turn_idx") % 7 != 0))

    with tempfile.TemporaryDirectory() as d:
        _write_sides(spark, sf_dir, d, defects_late)
        assert main(_row_args(d)) == 1  # the defects are there unfiltered
        capsys.readouterr()
        rc = main(_row_args(d) + [
            "--filters", "turn_idx < 5",
            "--rate-gate", "ts:0.0",
        ])
        out = capsys.readouterr().out
        assert "violation-rate gate" in out
        assert rc == 0


def test_concat_lineage_verdicts_compare_the_concat_columns(spark, sf_dir):
    """`--concat text` with a target differing only in `tool`: the report
    passes, and so does every lineage partition (none left for --resume
    to re-run)."""
    from professional_services_data_validator_spark.cli import main

    with tempfile.TemporaryDirectory() as d:
        _write_sides(spark, sf_dir, d, _tool_changed)
        rc = main(_row_args(d, "--concat", "text") + [
            "--lineage-dir", d + "/lineage",
            "--partition-keys", "conv_id,turn_idx",
            "--num-partitions", "3",
        ])
        assert rc == 0
        rows = spark.read.parquet(d + "/lineage").filter(
            F.col("stage") == "Row"
        ).collect()
        assert len(rows) == 3
        assert {r.verdict for r in rows} == {"success"}
        assert [json.loads(r.metrics)["n_hash_mismatch"] for r in rows] == [
            0, 0, 0
        ]


def test_concat_rate_gate_compares_the_concat_columns(spark, sf_dir):
    """Same data: the rate gate counts no violation, as `--hash text`
    does."""
    from professional_services_data_validator_spark.cli import main

    with tempfile.TemporaryDirectory() as d:
        _write_sides(spark, sf_dir, d, _tool_changed)
        assert main(_row_args(d, "--concat", "text") + [
            "--rate-gate", "ts:0.0",
        ]) == 0
