"""CLI parity commands: generate-table-partitions, configs list/get/run,
validate --config-file store mode, find-tables, --format.

Reference surface: cli_tools.py:240-320 (generate-table-partitions),
:374-420 (configs), :343-360 (find-tables), :970-986 (--config-file,
--format); partition_builder.py (NNNN.yaml emission format).
"""

import json
import os
import tempfile

from pyspark.sql import functions as F


def _row_fixtures(spark, d):
    from professional_services_data_validator_spark.sources.readers import (
        register_transcripts,
    )

    register_transcripts(spark, "/root/testdata/sf0.001")
    spark.table("transcripts").drop("event_id").write.parquet(d + "/src")
    spark.table("transcripts_target").drop("event_id").write.parquet(
        d + "/tgt"
    )


def test_generate_table_partitions_and_configs_run(spark):
    """The emitted NNNN.yaml files are runnable row-validation configs whose
    PK-range filters tile the table: running every partition file finds
    exactly the violations a single full run finds."""
    from professional_services_data_validator_spark.cli import main

    with tempfile.TemporaryDirectory() as d:
        _row_fixtures(spark, d)
        cdir = d + "/partitions"
        rc = main(
            [
                "generate-table-partitions",
                "--source-path", d + "/src",
                "--target-path", d + "/tgt",
                "--primary-keys", "conv_id,turn_idx",
                "--hash", "*",
                "--partition-num", "4",
                "--parts-per-file", "2",
                "--config-dir", cdir,
            ]
        )
        assert rc == 0
        files = sorted(os.listdir(cdir))
        assert files == ["0000.yaml", "0001.yaml"]

        # full-run violation count (ground truth)
        full = main(
            [
                "validate", "row",
                "--source-path", d + "/src",
                "--target-path", d + "/tgt",
                "--primary-keys", "conv_id,turn_idx",
                "--hash", "*",
                "--output", d + "/rep_full",
            ]
        )
        assert full == 1  # planted defects -> fail exit code
        n_full = (
            spark.read.parquet(d + "/rep_full")
            .filter(F.col("validation_status") == "fail")
            .count()
        )
        assert n_full > 0

        # per-partition runs: union of violations == full run
        for i, fname in enumerate(files):
            rc_i = main(
                [
                    "configs", "run",
                    "--config-file", os.path.join(cdir, fname),
                    "--output", d + "/rep_parts",
                ]
            )
            assert rc_i in (0, 1)
        n_parts = (
            spark.read.parquet(d + "/rep_parts")
            .filter(F.col("validation_status") == "fail")
            .count()
        )
        assert n_parts == n_full


def test_configs_list_and_get(spark, capsys):
    from professional_services_data_validator_spark.cli import main

    with tempfile.TemporaryDirectory() as d:
        for n in ("a.yaml", "b.yaml", "notes.txt"):
            with open(os.path.join(d, n), "w") as f:
                f.write("type: Row\n")
        assert main(["configs", "list", "--config-dir", d]) == 0
        out = capsys.readouterr().out.splitlines()
        assert out == ["a.yaml", "b.yaml"]

        assert main(
            ["configs", "get", "--config-file", os.path.join(d, "a.yaml")]
        ) == 0
        assert "type: Row" in capsys.readouterr().out


def test_validate_config_file_store_then_run(spark):
    """--config-file stores instead of running; `configs run` on the stored
    file produces the identical report to the direct flag run (reference
    cli_tools.py:970-974 store semantics)."""
    from professional_services_data_validator_spark.cli import main

    with tempfile.TemporaryDirectory() as d:
        _row_fixtures(spark, d)
        cfg = d + "/stored.yaml"
        rc = main(
            [
                "validate", "column",
                "--source-path", d + "/src",
                "--target-path", d + "/tgt",
                "--sum", "*",
                "--count", "*",
                "--config-file", cfg,
            ]
        )
        assert rc == 0 and os.path.exists(cfg)
        # stored, not run: no report yet
        rc_direct = main(
            [
                "validate", "column",
                "--source-path", d + "/src",
                "--target-path", d + "/tgt",
                "--sum", "*",
                "--count", "*",
                "--output", d + "/rep_direct",
            ]
        )
        rc_stored = main(
            [
                "configs", "run",
                "--config-file", cfg,
                "--output", d + "/rep_stored",
            ]
        )
        assert rc_direct == rc_stored
        cols = [
            "validation_name", "validation_type", "source_agg_value",
            "target_agg_value", "validation_status",
        ]
        a = sorted(
            map(tuple, spark.read.parquet(d + "/rep_direct")
                .select(*cols).collect())
        )
        b = sorted(
            map(tuple, spark.read.parquet(d + "/rep_stored")
                .select(*cols).collect())
        )
        assert a == b


def test_validate_config_file_json_store(spark):
    from professional_services_data_validator_spark.cli import main

    with tempfile.TemporaryDirectory() as d:
        _row_fixtures(spark, d)
        cfg = d + "/stored.json"
        rc = main(
            [
                "validate", "row",
                "--source-path", d + "/src",
                "--target-path", d + "/tgt",
                "--primary-keys", "conv_id,turn_idx",
                "--hash", "*",
                "--config-file-json", cfg,
            ]
        )
        assert rc == 0
        stored = json.load(open(cfg))
        assert stored["type"] == "Row"
        assert stored["hash_columns"] == "*"
        assert stored["source_path"] == d + "/src"


def test_configs_run_dir_and_kube_completions(spark, monkeypatch):
    """`configs run --config-dir` executes every file; with
    --kube-completions only the file at $JOB_COMPLETION_INDEX runs
    (reference __main__.py:365-401 config_runner)."""
    import yaml

    from professional_services_data_validator_spark.cli import main

    with tempfile.TemporaryDirectory() as d:
        _row_fixtures(spark, d)
        cdir = d + "/cfgs"
        os.makedirs(cdir)
        for i, agg in enumerate(("count", "sum")):
            with open(os.path.join(cdir, f"{i:04d}.yaml"), "w") as f:
                yaml.safe_dump(
                    {
                        "type": "Column",
                        "source_path": d + "/src",
                        "target_path": d + "/tgt",
                        "aggregates": [
                            {"agg_type": agg, "column": "turn_idx"}
                        ],
                    },
                    f,
                )
        # directory mode: both files run -> 2 report rows appended
        rc = main(
            ["configs", "run", "--config-dir", cdir,
             "--output", d + "/rep_all"]
        )
        assert rc in (0, 1)
        names_all = {
            r["validation_name"]
            for r in spark.read.parquet(d + "/rep_all").collect()
        }
        assert names_all == {"count__turn_idx", "sum__turn_idx"}

        # indexed fan-out: only file 0001 (sum) runs
        monkeypatch.setenv("JOB_COMPLETION_INDEX", "1")
        rc = main(
            ["configs", "run", "--config-dir", cdir, "--kube-completions",
             "--output", d + "/rep_one"]
        )
        assert rc in (0, 1)
        names_one = {
            r["validation_name"]
            for r in spark.read.parquet(d + "/rep_one").collect()
        }
        assert names_one == {"sum__turn_idx"}

        # out-of-range index is an explicit error
        monkeypatch.setenv("JOB_COMPLETION_INDEX", "7")
        try:
            main(
                ["configs", "run", "--config-dir", cdir,
                 "--kube-completions"]
            )
            raise AssertionError("expected SystemExit")
        except SystemExit as e:
            assert "out of range" in str(e)


def test_find_tables_command(spark, capsys):
    from professional_services_data_validator_spark.cli import main

    with tempfile.TemporaryDirectory() as d:
        _row_fixtures(spark, d)
        rc = main(
            [
                "find-tables",
                "--table", "orders=" + d + "/src",
                "--table", "orders_v2=" + d + "/tgt",
                "--score-cutoff", "0.7",
            ]
        )
        assert rc == 0
        pairs = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert any(
            {p["source_table"], p["target_table"]} == {"orders", "orders_v2"}
            for p in pairs
        )


def test_report_format_csv_json(spark, capsys):
    from professional_services_data_validator_spark.cli import main

    with tempfile.TemporaryDirectory() as d:
        _row_fixtures(spark, d)
        base = [
            "validate", "column",
            "--source-path", d + "/src",
            "--target-path", d + "/tgt",
            "--count", "*",
        ]
        main(base + ["--format", "json"])
        out = capsys.readouterr().out
        rows = json.loads(out.strip().splitlines()[-1])
        assert rows and rows[0]["validation_type"] == "Column"

        main(base + ["--format", "csv"])
        out = capsys.readouterr().out
        assert "validation_name,validation_type" in out


def test_cli_curate_matches_contract_composition(spark, tmp_path):
    """`psdv-spark curate` with the contract query's parameters must emit
    verdicts identical to q_corpus_curation (same %37 corpus/bench split),
    and --keep-only must emit exactly the kept subset."""
    import __spark_entry__ as entry
    from professional_services_data_validator_spark.cli import main

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    corpus_p = str(tmp_path / "corpus")
    bench_p = str(tmp_path / "bench")
    docs.filter(F.col("doc_id") % 37 != 0).write.parquet(corpus_p)
    (
        docs.filter(F.col("doc_id") % 37 == 0)
        .select(F.col("doc_id").alias("bench_id"), "text")
        .write.parquet(bench_p)
    )
    out_p = str(tmp_path / "verdicts")
    rc = main([
        "curate",
        "--docs-path", corpus_p,
        "--bench-path", bench_p,
        "--bench-id-col", "bench_id",
        "--dedup-shingle-k", "2", "--minhash-num", "8",
        "--minhash-bands", "4", "--dedup-threshold", "0.5",
        "--contam-k", "3", "--contam-min-overlap", "2",
        "--quality-min", "0.55",
        "--output", out_p,
    ])
    assert rc == 0
    got = {
        r["doc_id"]: (
            r["cluster_id"], r["cluster_size"], r["is_canonical"],
            r["is_contaminated"], r["quality_score"], r["keep"],
        )
        for r in spark.read.parquet(out_p).collect()
    }
    want = {
        r["doc_id"]: (
            r["cluster_id"], r["cluster_size"], r["is_canonical"],
            r["is_contaminated"], r["quality_score"], r["keep"],
        )
        for r in entry.queries()["corpus_curation"](spark, sf).collect()
    }
    assert got == want

    keep_p = str(tmp_path / "kept")
    rc = main([
        "curate",
        "--docs-path", corpus_p,
        "--bench-path", bench_p,
        "--bench-id-col", "bench_id",
        "--dedup-shingle-k", "2", "--minhash-num", "8",
        "--minhash-bands", "4", "--dedup-threshold", "0.5",
        "--contam-k", "3", "--contam-min-overlap", "2",
        "--quality-min", "0.55",
        "--keep-only", "--output", keep_p,
    ])
    assert rc == 0
    kept = {r["doc_id"] for r in spark.read.parquet(keep_p).collect()}
    assert kept == {d for d, v in want.items() if v[5]}


def test_cli_profile_matches_operators(spark, tmp_path, capsys):
    """`psdv-spark profile` output parquet must equal the operators run
    directly; stdout carries all three sections; --approx skips the exact
    heavy hitters and still emits the sketch profiles."""
    from professional_services_data_validator_spark.cli import main
    from professional_services_data_validator_spark.operators.aggregates import (
        categorical_profile,
        frequent_values,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("a", "x", 1, 1.5), ("b", "x", 2, 2.5), ("b", None, 2, None)],
        "s string, t string, i int, d double",
    ).write.parquet(src)
    out_p = str(tmp_path / "prof")
    rc = main([
        "profile", "--source-path", src,
        "--top-k", "2", "--output", out_p,
    ])
    assert rc == 0
    stdout = capsys.readouterr().out
    for section in ("categorical", "frequent_values", "numeric"):
        assert f"== {section} ==" in stdout
    df = spark.read.parquet(src)
    want_cat = {tuple(r) for r in categorical_profile(df, ["s", "t"]).collect()}
    got_cat = {tuple(r) for r in spark.read.parquet(
        f"{out_p}/categorical"
    ).collect()}
    assert got_cat == want_cat
    want_fv = {tuple(r) for r in frequent_values(df, ["s", "t"], k=2).collect()}
    got_fv = {tuple(r) for r in spark.read.parquet(
        f"{out_p}/frequent_values"
    ).collect()}
    assert got_fv == want_fv
    num = {r["column"]: r for r in spark.read.parquet(
        f"{out_p}/numeric"
    ).collect()}
    assert set(num) == {"i", "d"}
    assert num["i"].n == 3 and num["d"].n == 2

    rc = main(["profile", "--source-path", src, "--approx", "--top-k", "2"])
    assert rc == 0
    stdout = capsys.readouterr().out
    # approx mode: MG heavy hitters (exact recount -> same values at this
    # cardinality), HLL cardinalities, t-digest percentiles
    assert "== frequent_values ==" in stdout
    assert "== categorical ==" in stdout and "== numeric ==" in stdout


def test_cli_snapshot_diff_matches_operator(spark, tmp_path, capsys):
    """`snapshot-diff` job output matches the snapshot_diff operator run
    directly; exit code 1 iff anything changed, 0 on identical versions."""
    from pyspark.sql import functions as F

    from professional_services_data_validator_spark.cli import main
    from professional_services_data_validator_spark.operators.snapshot import (
        snapshot_diff_rows,
        snapshot_diff_summary,
    )

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "b", 40)],
        "id int, part string, val int",
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 21), (4, "b", 40), (5, "b", 50)],
        "id int, part string, val int",
    )
    od, nd = str(tmp_path / "old"), str(tmp_path / "new")
    old.write.parquet(od)
    new.write.parquet(nd)
    rows_out = str(tmp_path / "delta")
    summ_out = str(tmp_path / "rollup")

    rc = main([
        "snapshot-diff",
        "--old-path", od, "--new-path", nd,
        "--primary-keys", "id",
        "--partition-by", "part",
        "--rows-output", rows_out,
        "--summary-output", summ_out,
    ])
    capsys.readouterr()
    assert rc == 1  # changes found -> revalidation needed

    got_rows = {
        (r["id"], r["diff_status"])
        for r in spark.read.parquet(rows_out).collect()
    }
    want_rows = {
        (r["id"], r["diff_status"])
        for r in snapshot_diff_rows(
            old, new, ["id"], partition_col=F.col("part")
        ).collect()
    }
    assert got_rows == want_rows

    got_summ = {
        r["partition_id"]: (r["n_added"], r["n_removed"], r["n_changed"],
                            r["n_unchanged"], r["revalidate"])
        for r in spark.read.parquet(summ_out).collect()
    }
    want_summ = {
        r["partition_id"]: (r["n_added"], r["n_removed"], r["n_changed"],
                            r["n_unchanged"], r["revalidate"])
        for r in snapshot_diff_summary(
            old, new, ["id"], F.col("part")
        ).collect()
    }
    assert got_summ == want_summ

    # identical versions: clean exit, nothing to revalidate
    rc = main([
        "snapshot-diff",
        "--old-path", od, "--new-path", od,
        "--primary-keys", "id",
    ])
    capsys.readouterr()
    assert rc == 0


def test_cli_profile_compare_mode(spark, tmp_path, capsys):
    """`profile --target-path` emits a per-(column, metric) diff-verdict
    section identical to the profile_compare operator and exits 1 on any
    failing metric, 0 when the shapes agree within threshold."""
    from pyspark.sql import functions as F

    from professional_services_data_validator_spark.cli import main
    from professional_services_data_validator_spark.operators.aggregates import (
        profile_compare,
    )

    src = spark.createDataFrame(
        [(i, float(i % 10), float(i % 5)) for i in range(100)],
        "id int, a double, b double",
    )
    tgt = src.withColumn("a", F.col("a") * 2)  # shape shift in column a
    sp, tp = str(tmp_path / "src"), str(tmp_path / "tgt")
    src.write.parquet(sp)
    tgt.write.parquet(tp)
    outd = str(tmp_path / "prof")

    rc = main([
        "profile", "--source-path", sp, "--target-path", tp,
        "--numeric-columns", "a,b", "--columns", "id",
        "--threshold-pct", "1.0", "--output", outd,
    ])
    capsys.readouterr()
    assert rc == 1  # column a drifted

    got = {
        (r["column"], r["metric"]): (r["pct_diff"], r["validation_status"])
        for r in spark.read.parquet(outd + "/compare").collect()
    }

    def _melt(frame):
        return frame.select(
            F.explode(F.array(*[
                F.struct(F.lit(c).alias("column"),
                         F.col(c).cast("double").alias("v"))
                for c in ("a", "b")
            ])).alias("e")
        ).select("e.column", "e.v")

    want = {
        (r["column"], r["metric"]): (r["pct_diff"], r["validation_status"])
        for r in profile_compare(
            _melt(src), _melt(tgt), ["column"], "v", threshold_pct=1.0
        ).collect()
    }
    assert got == want
    assert all(s == "success" for (c, _), (_, s) in got.items() if c == "b")
    assert any(s == "fail" for (c, _), (_, s) in got.items() if c == "a")

    # identical tables: clean exit
    rc = main([
        "profile", "--source-path", sp, "--target-path", sp,
        "--numeric-columns", "a,b", "--columns", "id",
    ])
    capsys.readouterr()
    assert rc == 0


def test_cli_snapshot_diff_detail_flag(spark, tmp_path, capsys):
    """--detail adds changed_columns to the row-level delta parquet."""
    from professional_services_data_validator_spark.cli import main

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20)], "id int, part string, val int"
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "zz", 20)], "id int, part string, val int"
    )
    od, nd = str(tmp_path / "o"), str(tmp_path / "n")
    old.write.parquet(od)
    new.write.parquet(nd)
    rows_out = str(tmp_path / "delta")
    rc = main([
        "snapshot-diff", "--old-path", od, "--new-path", nd,
        "--primary-keys", "id", "--detail", "--rows-output", rows_out,
    ])
    capsys.readouterr()
    assert rc == 1
    rows = spark.read.parquet(rows_out).collect()
    assert [(r["id"], r["diff_status"], r["changed_columns"])
            for r in rows] == [(2, "changed", ["part"])]


def test_cli_curate_seen_path_incremental(spark, tmp_path, capsys):
    """--seen-path (bloom seen_filter) must drop exactly the docs whose
    content hash occurs in the ingested corpus BEFORE curation — verdict
    ids equal the hash anti-join, and the summary reports the skip count.
    Tiny --bloom-bits forces the false-positive verify path."""
    from professional_services_data_validator_spark.cli import main

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    new_p, seen_p = str(tmp_path / "new"), str(tmp_path / "seen")
    docs.write.parquet(new_p)
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(seen_p)
    out_p = str(tmp_path / "verdicts")
    rc = main([
        "curate", "--docs-path", new_p,
        "--seen-path", seen_p, "--bloom-bits", "4096", "--bloom-hashes", "4",
        "--dedup-shingle-k", "2", "--minhash-num", "8",
        "--minhash-bands", "4", "--dedup-threshold", "0.5",
        "--output", out_p,
    ])
    assert rc == 0
    got = {r["doc_id"] for r in spark.read.parquet(out_p).collect()}
    keys = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(F.md5("text").alias("__k")).dropDuplicates()
    )
    want = {
        r["doc_id"]
        for r in docs.join(
            keys, F.md5(docs["text"]) == F.col("__k"), "left_anti"
        ).collect()
    }
    assert got == want and 0 < len(want) < docs.count()
    out = capsys.readouterr().out
    assert f"{docs.count() - len(want)} already-ingested docs skipped" in out


def test_cli_curate_bench_path_default_id_columns(spark, tmp_path, capsys):
    """curate --bench-path with the default id columns: corpus and bench
    set both carry ``doc_id``, so decontaminate's output holds two columns
    of that name; the CLI must still flag exactly the doc that shares a
    shingle with the bench doc."""
    from professional_services_data_validator_spark.cli import main

    docs_p, bench_p = str(tmp_path / "docs"), str(tmp_path / "bench")
    spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "a stitch in time saves nine they say often"),
            (3, "every cloud has a silver lining in the end"),
            (4, "all that glitters is not gold as we know"),
            (5, "where there is smoke there is usually fire"),
            (6, "actions speak louder than words in most cases"),
        ],
        "doc_id int, text string",
    ).write.parquet(docs_p)
    spark.createDataFrame(
        [(100, "quiz: the quick brown fox jumps over it")],
        "doc_id int, text string",
    ).write.parquet(bench_p)
    out_p = str(tmp_path / "verdicts")
    rc = main([
        "curate", "--docs-path", docs_p, "--bench-path", bench_p,
        "--dedup-shingle-k", "2", "--minhash-num", "8",
        "--minhash-bands", "4", "--dedup-threshold", "0.5",
        "--contam-k", "3", "--output", out_p,
    ])
    assert rc == 0
    got = {
        r["doc_id"]: r["is_contaminated"]
        for r in spark.read.parquet(out_p).collect()
    }
    assert got == {d: d == 1 for d in range(1, 7)}
    assert "1 contaminated" in capsys.readouterr().out


def test_cli_profile_entropy_and_skew_sections(spark, tmp_path, capsys):
    """profile --entropy --skew-key adds sections that equal the operators
    run directly (parquet outputs byte-equal)."""
    from professional_services_data_validator_spark.cli import main
    from professional_services_data_validator_spark.operators.aggregates import (
        column_entropy,
    )
    from professional_services_data_validator_spark.operators.partitioning import (
        key_skew_profile,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), ("b", "x", 2), ("b", "x", 3)],
        "s string, t string, i int",
    ).write.parquet(src)
    out_p = str(tmp_path / "prof")
    rc = main([
        "profile", "--source-path", src, "--top-k", "0",
        "--entropy", "--skew-key", "s,t", "--output", out_p,
    ])
    assert rc == 0
    stdout = capsys.readouterr().out
    assert "== entropy ==" in stdout and "== skew ==" in stdout
    df = spark.read.parquet(src)
    want_ent = {tuple(r) for r in column_entropy(df, ["s", "t"]).collect()}
    got_ent = {
        tuple(r) for r in spark.read.parquet(f"{out_p}/entropy").collect()
    }
    assert got_ent == want_ent
    want_skew = key_skew_profile(df, ["s", "t"]).collect()[0].asDict()
    got_skew = spark.read.parquet(f"{out_p}/skew").collect()[0].asDict()
    assert got_skew == want_skew


def test_cli_profile_compare_categorical_section(spark, tmp_path, capsys):
    """profile --target-path with categorical columns adds the
    compare_categorical verdict section (== operator output) and drives
    the exit code."""
    from professional_services_data_validator_spark.cli import main
    from professional_services_data_validator_spark.operators.aggregates import (
        categorical_compare,
    )

    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "s string, i int"
    ).write.parquet(src)
    spark.createDataFrame(
        [("b", 1), ("b", 2), ("b", 3)], "s string, i int"
    ).write.parquet(tgt)
    out_p = str(tmp_path / "prof")
    rc = main([
        "profile", "--source-path", src, "--target-path", tgt,
        "--columns", "s", "--numeric-columns", "i", "--top-k", "0",
        "--output", out_p,
    ])
    assert rc == 1  # modal value a->b and n_distinct 2->1 fail
    assert "== compare_categorical ==" in capsys.readouterr().out
    want = {
        tuple(r)
        for r in categorical_compare(
            spark.read.parquet(src), spark.read.parquet(tgt), ["s"]
        ).collect()
    }
    got = {
        tuple(r)
        for r in spark.read.parquet(f"{out_p}/compare_categorical").collect()
    }
    assert got == want


def test_cli_validate_explain_dry_run(spark, tmp_path, capsys):
    """--explain prints the formatted physical plan and exits 0 without
    executing (no output parquet is written)."""
    from professional_services_data_validator_spark.cli import main

    src = str(tmp_path / "s")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"
    ).write.parquet(src)
    out_p = str(tmp_path / "report")
    rc = main([
        "validate", "column",
        "--source-path", src, "--target-path", src,
        "--count", "*", "--output", out_p, "--explain",
    ])
    assert rc == 0
    stdout = capsys.readouterr().out
    assert "== Physical Plan ==" in stdout
    import os as _os

    assert not _os.path.exists(out_p)  # nothing executed or written


def test_cli_profile_mi_section(spark, tmp_path, capsys):
    from professional_services_data_validator_spark.cli import main
    from professional_services_data_validator_spark.operators.aggregates import (
        mutual_information,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("a", "1", "x"), ("a", "1", "y"), ("b", "2", "x"), ("b", "2", "y")],
        "p string, q string, r string",
    ).write.parquet(src)
    out_p = str(tmp_path / "prof")
    rc = main([
        "profile", "--source-path", src, "--top-k", "0",
        "--mi", "p:q,p:r", "--output", out_p,
    ])
    assert rc == 0
    assert "== mutual_information ==" in capsys.readouterr().out
    df = spark.read.parquet(src)
    got = {
        (r.col_a, r.col_b): (r.mi, r.nmi)
        for r in spark.read.parquet(f"{out_p}/mutual_information").collect()
    }
    assert got[("p", "q")] == tuple(
        mutual_information(df, "p", "q").collect()[0][3:]
    )
    assert got[("p", "q")][1] == 1.0  # q determined by p
    assert abs(got[("p", "r")][0]) < 1e-9  # independent


def test_cli_profile_outliers_benford_fd_sections(spark, tmp_path, capsys):
    """profile --outliers/--benford/--fd sections equal the operators run
    directly (same parquet-vs-operator discipline as the base profile)."""
    from professional_services_data_validator_spark.cli import main
    from professional_services_data_validator_spark.operators.aggregates import (
        benford_check,
        fd_violations,
        robust_outlier_profile,
    )

    src = str(tmp_path / "src_obf")
    spark.createDataFrame(
        [
            ("k1", "x", 1.0),
            ("k1", "y", 2.0),  # k1 -> two deps: FD violation
            ("k2", "z", 3.0),
            ("k2", "z", 400.0),  # the MAD outlier
        ],
        "det string, dep string, d double",
    ).write.parquet(src)
    out_p = str(tmp_path / "prof_obf")
    rc = main([
        "profile", "--source-path", src, "--top-k", "0",
        "--outliers", "--outlier-k", "3.0",
        "--benford", "d", "--fd", "det:dep",
        "--output", out_p,
    ])
    assert rc == 0
    stdout = capsys.readouterr().out
    for section in ("outliers", "benford", "fd_violations"):
        assert f"== {section} ==" in stdout
    df = spark.read.parquet(src)
    want_out = {tuple(r) for r in robust_outlier_profile(
        df, ["d"], k=3.0
    ).collect()}
    got_out = {tuple(r) for r in spark.read.parquet(
        f"{out_p}/outliers"
    ).collect()}
    assert got_out == want_out
    want_bf = {tuple(r) for r in benford_check(df, F.col("d")).select(
        F.lit("d").alias("column"), "*"
    ).collect()}
    got_bf = {tuple(r) for r in spark.read.parquet(
        f"{out_p}/benford"
    ).collect()}
    assert got_bf == want_bf
    got_fd = {tuple(r) for r in spark.read.parquet(
        f"{out_p}/fd_violations"
    ).collect()}
    want_fd = {tuple(r) for r in fd_violations(df, "det", "dep").select(
        F.lit("det -> dep").alias("fd"), "*"
    ).collect()}
    assert got_fd == want_fd
    assert len(got_fd) == 1  # only k1 violates
