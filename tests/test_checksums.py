"""Checksum-first partition validation (operators/checksums.py): per-day
fingerprints agree with ground truth on the deterministic defect fixtures,
and the drill-down (row-validate ONLY failing partitions) finds exactly the
violations a full row validation finds."""

from pyspark.sql import functions as F

from professional_services_data_validator_spark.operators.checksums import (
    checksum_validation,
    failing_partition_predicate,
    partition_checksums,
)
from professional_services_data_validator_spark.operators.row_compare import (
    row_violations,
)

HASH_COLS = ["role", "text", "tool", "ts_us"]


def _sides(spark, transcripts):
    us = F.unix_micros(F.col("ts").cast("timestamp"))  # fixture ts is _ntz
    src = transcripts.withColumn("ts_us", us).drop("event_id")
    tgt = spark.table("transcripts_target").withColumn(
        "ts_us", us
    ).drop("event_id")
    return src, tgt


def _day(col="ts"):
    return F.date_format(col, "yyyy-MM-dd")


def test_checksum_verdicts_match_ground_truth(spark, transcripts):
    """A day fails the checksum compare iff it actually contains a defect
    (deleted / mutated / tool-nulled row) — computed independently from the
    full row validation's violation set."""
    src, tgt = _sides(spark, transcripts)
    verdicts = checksum_validation(src, tgt, _day(), HASH_COLS)
    got_fail = {
        r["partition_id"]
        for r in verdicts.collect()
        if r["validation_status"] == "fail"
    }

    viol = row_violations(src, tgt, ["conv_id", "turn_idx"],
                          hash_columns=HASH_COLS)
    # violation rows carry the PKs; map them back to their day via the source
    # (or target, for missing_in_source) row
    days = (
        viol.join(
            src.select("conv_id", "turn_idx", _day().alias("d")),
            ["conv_id", "turn_idx"], "left",
        )
        .join(
            tgt.select("conv_id", "turn_idx", _day().alias("d2")),
            ["conv_id", "turn_idx"], "left",
        )
        .select(F.coalesce("d", "d2").alias("day"))
        .distinct()
        .collect()
    )
    want_fail = {r["day"] for r in days}
    assert got_fail == want_fail
    assert 0 < len(got_fail) < verdicts.count()  # some dirty, some clean


def test_checksum_drilldown_equals_full_row_validation(spark, transcripts):
    """The checksum-first pipeline: fingerprint -> row-validate only failing
    partitions. Must find EXACTLY the full run's violations (any violation
    flips its partition's count or 120-bit XOR, so no dirty partition is
    cleared)."""
    src, tgt = _sides(spark, transcripts)
    verdicts = checksum_validation(src, tgt, _day(), HASH_COLS)
    failing = [
        r["partition_id"]
        for r in verdicts.collect()
        if r["validation_status"] == "fail"
    ]
    pred_s = failing_partition_predicate(failing, _day())
    pred_t = failing_partition_predicate(failing, _day())

    drilled = row_violations(
        src.filter(pred_s), tgt.filter(pred_t),
        ["conv_id", "turn_idx"], hash_columns=HASH_COLS,
    )
    full = row_violations(src, tgt, ["conv_id", "turn_idx"],
                          hash_columns=HASH_COLS)
    key = lambda r: (r["conv_id"], r["turn_idx"], r["violation_type"])
    assert sorted(map(key, drilled.collect())) == sorted(
        map(key, full.collect())
    )


def test_checksum_identical_sides_all_pass(spark, transcripts):
    src, _ = _sides(spark, transcripts)
    verdicts = checksum_validation(src, src, _day(), HASH_COLS)
    assert verdicts.filter(
        F.col("validation_status") != "success"
    ).count() == 0
    one = verdicts.first()
    assert one["checksum_match"] is True
    assert one["n_rows_src"] == one["n_rows_tgt"]


def test_checksum_missing_partition_fails(spark, transcripts):
    """A partition present on one side only fails (count NULL on the other
    side), it is not silently skipped."""
    src, _ = _sides(spark, transcripts)
    first_day = src.select(_day().alias("d")).orderBy("d").first()["d"]
    tgt = src.filter(_day() != first_day)
    verdicts = checksum_validation(src, tgt, _day(), HASH_COLS)
    row = verdicts.filter(F.col("partition_id") == first_day).first()
    assert row["validation_status"] == "fail"
    assert row["n_rows_tgt"] is None


def test_cli_checksum_first_report_matches_plain_run(spark, transcripts):
    """`validate row --checksum-first 'date(ts)'` must report exactly the
    fail rows of the plain run (the fingerprint pass may only skip CLEAN
    partitions), and the checksum verdicts land in lineage under the
    ':checksum' stage."""
    import os
    import tempfile

    from professional_services_data_validator_spark.cli import main

    with tempfile.TemporaryDirectory() as d:
        transcripts.drop("event_id").write.parquet(d + "/src")
        spark.table("transcripts_target").drop("event_id").write.parquet(
            d + "/tgt"
        )
        base = [
            "validate", "row",
            "--source-path", d + "/src",
            "--target-path", d + "/tgt",
            "--primary-keys", "conv_id,turn_idx",
            "--hash", "*",
        ]
        rc_plain = main(base + ["--output", d + "/rep_plain"])
        rc_ck = main(
            base
            + [
                "--checksum-first", "date(ts)",
                "--output", d + "/rep_ck",
                "--lineage-dir", d + "/lineage",
            ]
        )
        assert rc_plain == rc_ck == 1  # planted defects
        cols = ["group_by_columns", "validation_status"]
        plain = sorted(
            map(tuple, spark.read.parquet(d + "/rep_plain")
                .filter(F.col("validation_status") == "fail")
                .select(*cols).collect())
        )
        ck = sorted(
            map(tuple, spark.read.parquet(d + "/rep_ck")
                .filter(F.col("validation_status") == "fail")
                .select(*cols).collect())
        )
        assert plain == ck and len(plain) > 0
        lin = spark.read.parquet(d + "/lineage")
        stages = {r["stage"] for r in lin.select("stage").distinct().collect()}
        assert any(s.endswith(":checksum") for s in stages)
        n_ck_verdicts = lin.filter(
            F.col("stage").endswith(":checksum")
        ).count()
        assert n_ck_verdicts == 30  # one per day partition
        assert os.path.isdir(d + "/lineage")


def test_partition_checksums_shuffle_is_post_aggregate(spark, transcripts):
    """Scale property: the only exchange in the fingerprint plan sits AFTER
    the partial hash aggregate — the shuffle carries O(partitions) fingerprint
    rows, never the row hashes themselves."""
    src, _ = _sides(spark, transcripts)
    plan = partition_checksums(
        src, _day(), HASH_COLS
    )._jdf.queryExecution().executedPlan().toString()
    # partial aggregate below the exchange, final above it
    assert "Exchange" in plan
    # plan prints top-down: final agg above the exchange, partial below
    above, below = plan.split("Exchange", 1)
    assert "HashAggregate" in above and "partial_bit_xor" in below
    # the sha256 row hash is COMPUTED below the partial agg (map side);
    # the exchange moves only (group, count, xor) partials
    assert "sha2" in below and "sha2" not in above.split("functions=")[0]
    assert "partial_count" in below
