"""spark-submit job entrypoint + flag-driven CLI.

Reference analog: the full CLI surface
(reference data_validation/__main__.py:662-688 dispatch,
cli_tools.py:474-800 validate subcommand flags, cli_tools.py:364-371 the raw
``query`` command, __main__.py:639-651 ``configs run`` and the
kube-completions fan-out :352-401). There: one container per partition YAML.
Here: ONE spark-submit job; partitions are Spark tasks, resume comes from
the lineage table instead of per-partition YAML files.

Three entry styles (all through ``main``):

    # 1. YAML/JSON config (legacy, also reachable as `run`):
    psdv-spark --config my_validation.yaml --source-path ... --target-path ...

    # 2. reference-style flag-driven validation (cli_tools.py:474-800):
    psdv-spark validate column --sum '*' --count '*' \
        --grouped-columns ts --source-path ... --target-path ...
    psdv-spark validate row --primary-keys conv_id,turn_idx --hash '*' ...
    #    --rate-gate ts:0.003 adds a per-day Wilson-interval violation-rate
    #    section (fails only on statistical evidence of excess)
    psdv-spark validate schema --allow-list 'int:bigint' ...
    psdv-spark validate custom-query --source-query 'SELECT ...' ...

    # 3. ad-hoc SQL against registered tables (cli_tools.py:364-371):
    psdv-spark query --sql 'SELECT count(*) FROM t' --table t=/path/parquet

    # 4. partition a row validation into runnable YAML units
    #    (cli_tools.py:240-320 + partition_builder.py):
    psdv-spark generate-table-partitions --primary-keys conv_id,turn_idx \
        --partition-num 16 --parts-per-file 4 --config-dir parts/ ...
    psdv-spark configs list --config-dir parts/
    psdv-spark configs run --config-file parts/0000.yaml ...

    # 5. pair up source/target tables by name similarity (:343-360):
    psdv-spark find-tables --table orders=/a --table orders_v2=/b

    # 6. training-data curation pipeline (BASELINE extension, no reference
    #    analog — the corpus_curation composition as a job):
    psdv-spark curate --docs-path corpus/ --bench-path evalset/ \
        --quality-min 0.55 --keep-only --output curated/

    # 7. one-table data profile (engine extension): cardinalities, nulls,
    #    heavy hitters, numeric percentiles; --approx = sketch paths;
    #    --sequence conv:turn:role:text adds stuck-loop + transition-model
    #    anomaly sections over conversation tables
    psdv-spark profile --source-path t/ --top-k 5 --output prof/

    # 8. incremental validation between two versions of one table
    #    (operators/snapshot.py): exit 1 = partitions need revalidation
    psdv-spark snapshot-diff --old-path v1/ --new-path v2/ \
        --primary-keys conv_id,turn_idx --partition-by 'CAST(ts AS DATE)' \
        --rows-output delta/ --summary-output rollup/

Cluster usage:
    ./package.sh                         # builds dist/psdv_spark.zip
    spark-submit --py-files dist/psdv_spark.zip \
        jobs/run_validation.py --config my_validation.yaml \
        --lineage-dir /data/lineage --resume
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F


def load_config(path: str) -> dict:
    with open(path) as f:
        text = f.read()
    try:
        import yaml

        return yaml.safe_load(text)
    except ImportError:  # pragma: no cover
        return json.loads(text)


def _register_tables(spark: SparkSession, regs) -> None:
    """``--table name=path``: each parquet path as a temp view."""
    for reg in regs or []:
        name, _, path = reg.partition("=")
        if not path:
            raise SystemExit(f"--table needs name=path, got {reg!r}")
        spark.read.parquet(path).createOrReplaceTempView(name)


def _add_job_args(p: argparse.ArgumentParser) -> None:
    """Flags shared by `run` and every `validate` subcommand: IO, lineage,
    partition manifest, resume."""
    p.add_argument("--source-path", help="parquet path of the source table")
    p.add_argument("--target-path", help="parquet path of the target table")
    p.add_argument("--source-table", help="catalog table name (Iceberg)")
    p.add_argument("--target-table", help="catalog table name (Iceberg)")
    p.add_argument("--lineage-dir", help="lineage table location")
    p.add_argument(
        "--resume",
        action="store_true",
        help="skip partitions already passed under the same config hash",
    )
    p.add_argument(
        "--partition-by",
        default=None,
        help="partition expression for per-partition verdicts, e.g. "
        "'CAST(ts AS DATE)'",
    )
    p.add_argument(
        "--partition-keys",
        default=None,
        help="comma-separated PK columns: builds a partition manifest "
        "(reference generate-table-partitions) whose partitions are the "
        "resume/verdict unit",
    )
    p.add_argument(
        "--num-partitions",
        type=int,
        default=8,
        help="manifest partition count (with --partition-keys)",
    )
    p.add_argument(
        "--emit-manifest",
        default=None,
        help="also write the partition manifest table (partition_id, "
        "bounds, where_clause) to this path — the analog of reference "
        "generate-table-partitions' per-partition YAML emission",
    )
    p.add_argument(
        "--use-manifest",
        default=None,
        help="load a previously emitted manifest instead of recomputing "
        "boundaries — guarantees --resume sees the ORIGINAL partition "
        "ranges even if the table changed since (ADVICE r2)",
    )
    p.add_argument("--output", help="report output path (parquet append)")
    p.add_argument(
        "--filter-status", choices=["success", "fail"], help="report filter"
    )
    p.add_argument(
        "--explain",
        action="store_true",
        help="dry run: print the report's formatted physical plan (what "
        "shuffles, which join strategy, pushed filters) and exit 0 "
        "without executing the validation",
    )
    p.add_argument(
        "--format",
        choices=["table", "text", "csv", "json"],
        default="table",
        help="stdout report format (reference cli_tools.py --format)",
    )
    p.add_argument(
        "--checksum-first",
        default=None,
        metavar="PARTITION_EXPR",
        help="ROW validations: partition SQL expression (e.g. 'date(ts)'). "
        "Runs the aggregate-only partition-checksum compare first "
        "(operators/checksums.py — shuffle is O(partitions) fingerprints, "
        "not O(rows)) and row-joins ONLY partitions whose fingerprints "
        "differ; per-partition checksum verdicts land in the lineage table "
        "under stage '<type>:checksum'",
    )


def _add_validate_flags(p: argparse.ArgumentParser, vtype: str) -> None:
    """The reference validate flag surface (cli_tools.py:474-800), mapped
    onto ValidationConfig keys."""
    p.add_argument(
        "--filters",
        default=None,
        help="'source_filter' or 'source_filter:target_filter' raw SQL "
        "predicates (reference cli_tools.get_filters)",
    )
    p.add_argument("--threshold", type=float, default=0.0)
    p.add_argument("--labels", default=None, help="key=value,key=value")
    p.add_argument(
        "--config-file",
        default=None,
        help="store the validation config as YAML at this path instead of "
        "running it (reference cli_tools.py:970-974)",
    )
    p.add_argument(
        "--config-file-json",
        default=None,
        help="store the validation config as JSON instead of running it "
        "(reference cli_tools.py:975-978)",
    )
    if vtype in ("column", "custom-query"):
        for agg in ("count", "sum", "min", "max", "avg", "std", "bit-xor"):
            p.add_argument(
                f"--{agg}",
                default=None,
                help=f"columns for {agg.replace('-', '_')} "
                "aggregation: comma list or '*' (type-driven expansion)",
            )
        p.add_argument(
            "--grouped-columns",
            default=None,
            help="comma list of GROUP BY columns (GroupedColumn validation)",
        )
        p.add_argument(
            "--cast-to-bigint",
            action="store_true",
            help="pre-cast int32 columns to int64 before SUM "
            "(reference --cast-to-bigint)",
        )
        p.add_argument(
            "--wildcard-include-string-len",
            action="store_true",
            help="include string columns (as length()) in '*' aggregate "
            "expansion (reference -wis, __main__.py:93-94)",
        )
        p.add_argument(
            "--wildcard-include-timestamp",
            action="store_true",
            help="include timestamp/date columns in '*' aggregate "
            "expansion (reference -wit, __main__.py:96-97)",
        )
    if vtype in ("row", "custom-query"):
        p.add_argument(
            "--primary-keys", default=None,
            help="comma list of PK columns",
        )
        p.add_argument(
            "--hash", default=None,
            help="'*' or comma list: sha256 row-hash comparison",
        )
        p.add_argument(
            "--concat", default=None,
            help="'*' or comma list: compare the raw concat of the columns "
            "instead of its hash (reference cli_tools.py:610-617)",
        )
        p.add_argument(
            "--comparison-fields", default=None,
            help="comma list of value-compared columns",
        )
        p.add_argument("--trim-string-pks", action="store_true")
        p.add_argument("--case-insensitive-match", action="store_true")
        if vtype == "row":
            # reference cli_tools.py:567-578 (not supported for
            # custom-query there either)
            p.add_argument(
                "--use-random-row", action="store_true",
                help="validate a random sample of source primary keys "
                "instead of the full table",
            )
            p.add_argument(
                "--random-row-batch-size", type=int, default=None,
                help="random-row sample size (default "
                "10,000; reference -rbs)",
            )
        p.add_argument(
            "--rate-gate", default=None, metavar="DAY_COL[:THRESHOLD]",
            help="row validation only: append a per-day Wilson-interval "
            "violation-rate gate section (operators/row_compare.py "
            "violation_rate_gate); a day fails — and the job exits 1 — "
            "only when the interval's LOWER bound clears THRESHOLD "
            "(default 0.01)",
        )
    if vtype == "schema":
        p.add_argument(
            "--allow-list", default=None,
            help="'srctype:tgttype,...' acceptable type drifts",
        )
        p.add_argument(
            "--exclusion-columns", default=None,
            help="comma list of columns excluded from schema comparison",
        )
    if vtype == "custom-query":
        p.add_argument("--source-query", help="raw SQL for the source side")
        p.add_argument("--target-query", help="raw SQL for the target side")
        p.add_argument("--source-query-file")
        p.add_argument("--target-query-file")
        p.add_argument(
            "--table",
            action="append",
            default=[],
            help="name=parquet_path temp-view registration for the queries "
            "(repeatable)",
        )


def build_parser() -> argparse.ArgumentParser:
    top = argparse.ArgumentParser(prog="psdv-spark")
    sub = top.add_subparsers(dest="command")

    run = sub.add_parser("run", help="run a YAML/JSON validation config")
    run.add_argument("--config", required=True,
                     help="validation config YAML/JSON")
    _add_job_args(run)

    val = sub.add_parser(
        "validate", help="flag-driven validation (reference validate cmd)"
    )
    vsub = val.add_subparsers(dest="validate_type", required=True)
    for vtype in ("column", "row", "schema", "custom-query"):
        vp = vsub.add_parser(vtype)
        _add_validate_flags(vp, vtype)
        _add_job_args(vp)

    q = sub.add_parser(
        "query", help="run ad-hoc SQL (reference cli_tools.py:364-371)"
    )
    q.add_argument("--sql", required=True)
    q.add_argument(
        "--table",
        action="append",
        default=[],
        help="name=parquet_path registration (repeatable)",
    )
    q.add_argument("--max-rows", type=int, default=100)

    # configs list|get|run (reference cli_tools.py:374-420 + __main__:639-651)
    cfgs = sub.add_parser(
        "configs", help="list / inspect / run stored validation YAML configs"
    )
    csub = cfgs.add_subparsers(dest="configs_cmd", required=True)
    clist = csub.add_parser("list", help="list validation configs in a dir")
    clist.add_argument("--config-dir", default=".")
    cget = csub.add_parser("get", help="print a validation config")
    cget.add_argument("--config-file", required=True)
    crun = csub.add_parser(
        "run", help="run every validation block in a YAML config"
    )
    crun.add_argument("--config-file", default=None)
    crun.add_argument(
        "--config-dir",
        default=None,
        help="run every config file in a directory (reference config_runner "
        "directory mode, __main__.py:384-401)",
    )
    crun.add_argument(
        "--kube-completions",
        "-kc",
        action="store_true",
        help="indexed fan-out: with --config-dir, run ONLY the file whose "
        "sorted position equals $JOB_COMPLETION_INDEX / $CLOUD_RUN_TASK_INDEX "
        "(reference __main__.py:365-383 — one container per partition YAML)",
    )
    _add_job_args(crun)

    # generate-table-partitions (reference cli_tools.py:240-320 +
    # partition_builder.py): emit NNNN.yaml row-validation configs whose
    # filters are contiguous PK ranges; `configs run` executes them.
    gtp = sub.add_parser(
        "generate-table-partitions",
        help="split a row validation into N PK-range partition configs",
    )
    gtp.add_argument("--primary-keys", required=True)
    gtp.add_argument("--partition-num", type=int, required=True)
    gtp.add_argument("--config-dir", required=True)
    gtp.add_argument(
        "--parts-per-file",
        type=int,
        default=1,
        help="validation blocks per emitted YAML (reference -ppf)",
    )
    gtp.add_argument("--hash", default="*")
    gtp.add_argument("--comparison-fields", default=None)
    gtp.add_argument("--filters", default=None)
    gtp.add_argument("--threshold", type=float, default=0.0)
    gtp.add_argument("--labels", default=None)
    gtp.add_argument("--trim-string-pks", action="store_true")
    gtp.add_argument("--case-insensitive-match", action="store_true")
    gtp.add_argument("--source-path")
    gtp.add_argument("--target-path")
    gtp.add_argument("--source-table")
    gtp.add_argument("--target-table")

    # find-tables (reference cli_tools.py:343-360): fuzzy-match table names
    ft = sub.add_parser(
        "find-tables", help="pair source/target tables by Jaro similarity"
    )
    ft.add_argument(
        "--table",
        action="append",
        default=[],
        help="name=parquet_path registration (repeatable); omit to use "
        "the session catalog",
    )
    ft.add_argument("--score-cutoff", type=float, default=0.8)

    # curate: the training-data curation pipeline as a job (no reference
    # analog — BASELINE training-pipeline extension; same composition as
    # the corpus_curation contract query)
    cur = sub.add_parser(
        "curate",
        help="per-doc keep/drop verdicts: near-dup canonical AND not "
        "eval-contaminated AND quality >= threshold",
    )
    cur.add_argument("--docs-path", required=True, help="corpus parquet")
    cur.add_argument("--id-col", default="doc_id")
    cur.add_argument("--text-col", default="text")
    cur.add_argument("--bench-path", default=None,
                     help="eval/benchmark parquet (skip = no contamination "
                     "check)")
    cur.add_argument("--bench-id-col", default="doc_id")
    cur.add_argument("--bench-text-col", default="text")
    cur.add_argument("--quality-min", type=float, default=0.55)
    cur.add_argument("--dedup-shingle-k", type=int, default=3)
    cur.add_argument("--minhash-num", type=int, default=16)
    cur.add_argument("--minhash-bands", type=int, default=4)
    cur.add_argument("--dedup-threshold", type=float, default=0.5)
    cur.add_argument("--contam-k", type=int, default=8)
    cur.add_argument("--contam-min-overlap", type=int, default=1)
    cur.add_argument("--keep-only", action="store_true",
                     help="emit only the kept docs instead of all verdicts")
    cur.add_argument("--output", default=None,
                     help="parquet output dir (omit = print summary only)")
    cur.add_argument("--seen-path", default=None,
                     help="previously-ingested corpus parquet: docs whose "
                     "content hash occurs there are dropped BEFORE curation "
                     "(exact bloom seen_filter — operators/bloom.py)")
    cur.add_argument("--seen-text-col", default=None,
                     help="text column in --seen-path (default: --text-col)")
    cur.add_argument("--bloom-bits", type=int, default=1 << 22,
                     help="seen-set bloom bitset size (bits; sizing only "
                     "affects the verify-join volume, never correctness)")
    cur.add_argument("--bloom-hashes", type=int, default=5)

    # expect: single-table declarative expectations, all rules in ONE
    # aggregate pass (no reference analog — BASELINE validation-engine
    # extension; see operators/expectations.py)
    exp = sub.add_parser(
        "expect",
        help="evaluate a YAML rule list against one table in a single "
        "aggregate pass; exit 1 if any rule fails",
    )
    exp.add_argument("--source-path")
    exp.add_argument("--source-table")
    exp.add_argument("--rules", required=True,
                     help="YAML/JSON file: list of rule dicts "
                     "(kind, column, threshold, lo, hi, values, pattern, "
                     "expr, name)")
    exp.add_argument("--approx", action="store_true",
                     help="HLL sketches for 'unique' rules (100-TB path)")
    exp.add_argument("--filter-status", default=None,
                     choices=["success", "fail"])
    exp.add_argument("--format", default="table",
                     choices=["table", "text", "csv", "json"])
    exp.add_argument("--output", default=None,
                     help="parquet output dir for the report")

    prof = sub.add_parser(
        "profile",
        help="data profile of one table: per-column cardinality / nulls / "
        "heavy hitters + numeric percentile profiles (engine extension; "
        "the reference's aggregate surface has no profiler)",
    )
    prof.add_argument("--source-path")
    prof.add_argument("--source-table")
    prof.add_argument(
        "--columns", default=None,
        help="comma list for the categorical profile; default: every "
        "non-numeric column",
    )
    prof.add_argument(
        "--numeric-columns", default=None,
        help="comma list for the numeric profile; default: every numeric "
        "column",
    )
    prof.add_argument("--top-k", type=int, default=5,
                      help="heavy hitters per column (0 disables)")
    prof.add_argument(
        "--approx", action="store_true",
        help="sketch paths: HyperLogLog++ cardinalities, t-digest "
        "percentiles, Misra-Gries heavy hitters (the 100-TB default)",
    )
    prof.add_argument(
        "--num-counters", type=int, default=1024,
        help="Misra-Gries counters per column under --approx (values "
        "with frequency > n/(counters+1) are guaranteed found)",
    )
    prof.add_argument("--output", default=None,
                      help="parquet output dir (one subdir per section)")
    prof.add_argument("--target-path", default=None,
                      help="compare mode: second table; emits a per-"
                      "(column, metric) profile-diff verdict section and "
                      "exits 1 on any fail (operators/aggregates.py "
                      "profile_compare)")
    prof.add_argument("--target-table", default=None)
    prof.add_argument("--threshold-pct", type=float, default=0.0,
                      help="compare mode: max |percent difference| per "
                      "metric before a row fails")
    prof.add_argument("--entropy", action="store_true",
                      help="add a per-column Shannon-entropy / uniqueness "
                      "section over the categorical columns "
                      "(operators/aggregates.py column_entropy)")
    prof.add_argument("--skew-key", default=None,
                      help="comma list of key columns: add a group-size "
                      "skew-diagnostics section (max_share/p99/skew_ratio; "
                      "operators/partitioning.py key_skew_profile)")
    prof.add_argument("--mi", default=None,
                      help="column pairs 'a:b[,c:d]': add a mutual-"
                      "information section (one row per pair; "
                      "operators/aggregates.py mutual_information)")
    prof.add_argument("--outliers", action="store_true",
                      help="add a median/MAD robust-outlier section over "
                      "the numeric columns (operators/aggregates.py "
                      "robust_outlier_profile)")
    prof.add_argument("--outlier-k", type=float, default=5.0,
                      help="MAD multiplier for the outlier gate "
                      "(|x - median| > k * 1.4826 * MAD)")
    prof.add_argument("--benford", default=None,
                      help="comma list of numeric columns: add a first-"
                      "significant-digit Benford-conformance section per "
                      "column (operators/aggregates.py benford_check)")
    prof.add_argument("--fd", default=None,
                      help="column pairs 'a:b[,c:d]': add a functional-"
                      "dependency violation section (does a determine b; "
                      "operators/aggregates.py fd_violations)")
    prof.add_argument("--sequence", default=None,
                      metavar="CONV:TURN:ROLE[:TEXT]",
                      help="conversation-sequence sections: stuck-loop "
                      "detection (needs TEXT; operators/conversation.py "
                      "loop_detection) and per-conversation transition-"
                      "model anomaly scores (role_sequence_anomaly); "
                      "each section shows the top rows by severity")
    prof.add_argument("--sequence-top", type=int, default=50,
                      help="rows kept per sequence section (the full "
                      "frames are corpus-sized; the CLI is a diagnostic "
                      "view)")

    # snapshot-diff: incremental validation between two versions of the
    # same table (operators/snapshot.py; the Iceberg snapshot-to-snapshot
    # step — reference analog is re-running validate row between versions)
    sd = sub.add_parser(
        "snapshot-diff",
        help="classify added/removed/changed rows between two versions "
        "of one table and roll the counts up per partition; exit 1 when "
        "anything changed (partitions need revalidation)",
    )
    sd.add_argument("--old-path", help="parquet path of the old version")
    sd.add_argument("--old-table", help="catalog name of the old version")
    sd.add_argument("--new-path", help="parquet path of the new version")
    sd.add_argument("--new-table", help="catalog name of the new version")
    sd.add_argument("--primary-keys", required=True,
                    help="comma-separated PK columns")
    sd.add_argument("--compare-columns", default=None,
                    help="comma list to hash-compare (default: every "
                    "shared non-PK column)")
    sd.add_argument("--partition-by", default=None,
                    help="partition expression for the rollup, e.g. "
                    "'CAST(ts AS DATE)' (omit = whole-table rollup)")
    sd.add_argument("--rows-output", default=None,
                    help="parquet dir for the row-level delta "
                    "(added/removed/changed PKs)")
    sd.add_argument("--detail", action="store_true",
                    help="add changed_columns to the row-level delta "
                    "(one xxhash64 per compare column through the "
                    "shuffle)")
    sd.add_argument("--summary-output", default=None,
                    help="parquet dir for the per-partition rollup")
    sd.add_argument("--max-print", type=int, default=50,
                    help="summary rows printed to stdout")
    sd.add_argument("--lineage-dir", default=None,
                    help="with --invalidate: lineage table to supersede")
    sd.add_argument("--invalidate", action="store_true",
                    help="append 'invalidated' lineage rows for every "
                    "revalidate partition, superseding stale 'success' "
                    "verdicts across ALL configs/stages — the next "
                    "--resume run then re-validates exactly the changed "
                    "partitions")
    return top


def _split_cols(s: str | None) -> list[str] | None:
    if s is None:
        return None
    return [c.strip() for c in s.split(",") if c.strip()]


def _parse_filters(s: str | None) -> list[dict]:
    """Reference cli_tools.get_filters: 'src' applies to both sides;
    'src:tgt' splits source/target; more than one ':' is an error (put
    complex predicates in a YAML config instead)."""
    if not s:
        return []
    parts = s.split(":")
    if len(parts) == 1:
        return [{"ftype": "custom", "source": parts[0]}]
    if len(parts) == 2:
        if not parts[0] or not parts[1]:
            raise SystemExit("--filters 'src:tgt' needs both sides non-empty")
        return [{"ftype": "custom", "source": parts[0], "target": parts[1]}]
    raise SystemExit("--filters accepts 'src' or 'src:tgt'")


_VTYPE_MAP = {
    "column": "Column",
    "row": "Row",
    "schema": "Schema",
    "custom-query": "Custom-query",
}


def _config_dict_from_flags(args: argparse.Namespace) -> dict:
    """argparse Namespace -> the same plain config dict a YAML file would
    produce (reference __main__.build_config_from_args :247-327). '*'
    aggregate expansion is deferred to _expand_star_aggregates (needs the
    source schema)."""
    vtype = _VTYPE_MAP[args.validate_type]
    d: dict = {"type": vtype, "filters": _parse_filters(args.filters)}
    if args.labels:
        d["labels"] = [
            tuple(kv.split("=", 1)) for kv in args.labels.split(",")
        ]
    d["threshold"] = args.threshold
    if args.validate_type in ("column", "custom-query"):
        aggs = {}
        for agg in ("count", "sum", "min", "max", "avg", "std", "bit_xor"):
            v = getattr(args, agg, None)
            if v:
                aggs[agg] = v
        d["_star_aggregates"] = aggs  # expanded against the source schema
        group = _split_cols(getattr(args, "grouped_columns", None))
        if group:
            d["group_by"] = group
            d["type"] = "GroupedColumn" if vtype == "Column" else vtype
        d["_cast_to_bigint"] = bool(getattr(args, "cast_to_bigint", False))
        d["_wildcard_include_string"] = bool(
            getattr(args, "wildcard_include_string_len", False)
        )
        d["_wildcard_include_timestamp"] = bool(
            getattr(args, "wildcard_include_timestamp", False)
        )
    if args.validate_type in ("row", "custom-query"):
        pks = _split_cols(getattr(args, "primary_keys", None))
        if pks:
            d["primary_keys"] = pks
        h = getattr(args, "hash", None)
        if h:
            d["hash_columns"] = "*" if h == "*" else _split_cols(h)
        cc = getattr(args, "concat", None)
        if cc:
            d["concat_columns"] = "*" if cc == "*" else _split_cols(cc)
        cf = _split_cols(getattr(args, "comparison_fields", None))
        if cf:
            d["comparison_fields"] = [{"column": c} for c in cf]
        if sum(bool(x) for x in (h, cc, cf)) > 1:
            raise SystemExit(
                "--hash / --concat / --comparison-fields are mutually "
                "exclusive (reference cli_tools.py:598-626)"
            )
        d["trim_string_pks"] = bool(getattr(args, "trim_string_pks", False))
        d["case_insensitive_match"] = bool(
            getattr(args, "case_insensitive_match", False)
        )
        if getattr(args, "use_random_row", False):
            d["use_random_row"] = True
        rbs = getattr(args, "random_row_batch_size", None)
        if rbs is not None:
            d["random_row_batch_size"] = int(rbs)
            if not getattr(args, "use_random_row", False):
                raise SystemExit(
                    "--random-row-batch-size requires --use-random-row"
                )
        if args.validate_type == "row" and not (h or cc or cf):
            raise SystemExit(
                "validate row needs --hash, --concat or --comparison-fields"
            )
    if args.validate_type == "schema":
        if args.allow_list:
            d["allow_list"] = args.allow_list
        excl = _split_cols(args.exclusion_columns)
        if excl:
            d["exclusion_columns"] = excl
    if args.validate_type == "custom-query":
        src_q = args.source_query or (
            open(args.source_query_file).read()
            if args.source_query_file else None
        )
        tgt_q = args.target_query or (
            open(args.target_query_file).read()
            if args.target_query_file else None
        )
        if not (src_q and tgt_q):
            raise SystemExit(
                "validate custom-query needs --source-query/--target-query"
            )
        d["source_table"] = src_q
        d["target_table"] = tgt_q
    return d


def _expand_star_aggregates(cfg_dict: dict, source) -> dict:
    """Resolve the deferred '*' aggregate flags against the source schema
    (reference config_manager.build_config_column_aggregates semantics via
    build_aggregate_specs) into explicit AggregateSpec dicts, so the final
    config is byte-identical to an explicitly written YAML."""
    star = cfg_dict.pop("_star_aggregates", None)
    cast_bigint = cfg_dict.pop("_cast_to_bigint", False)
    # reference defaults: '*' excludes string/timestamp unless the
    # --wildcard-include-* flags opt them in (__main__.py:77-97)
    incl_str = cfg_dict.pop("_wildcard_include_string", False)
    incl_ts = cfg_dict.pop("_wildcard_include_timestamp", False)
    if not star:
        return cfg_dict
    from .operators.aggregates import build_aggregate_specs

    specs = []
    seen = set()
    for agg, cols in star.items():
        columns = "*" if cols == "*" else _split_cols(cols)
        for s in build_aggregate_specs(
            source, [agg], columns, cast_to_bigint=cast_bigint,
            wildcard_include_string=incl_str,
            wildcard_include_timestamp=incl_ts,
        ):
            key = (s.agg_type, s.column)
            if key in seen:
                continue  # bare COUNT(*) added once per build call
            seen.add(key)
            specs.append(
                {
                    "agg_type": s.agg_type,
                    "column": s.column,
                    "precalc": s.precalc,
                }
            )
    cfg_dict["aggregates"] = specs
    return cfg_dict


def _load_side(spark: SparkSession, path: str | None, table: str | None):
    if path:
        return spark.read.parquet(path)
    if table:
        return spark.read.table(table)
    raise SystemExit("need --source-path/--target-path or catalog table names")


def _run_query(args: argparse.Namespace) -> int:
    """Ad-hoc SQL runner (reference cli_tools.py:364-371 run_raw_query:
    execute against a connection, print the result)."""
    from .session import get_spark

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark("psdv-query")
    _register_tables(spark, args.table)
    df = spark.sql(args.sql)
    rows = df.limit(args.max_rows + 1).collect()
    truncated = len(rows) > args.max_rows
    import pandas as pd

    pdf = pd.DataFrame(
        [r.asDict() for r in rows[: args.max_rows]], columns=df.columns
    )
    # to_string, not to_markdown: tabulate is not a dependency
    print(pdf.to_string(index=False))
    if truncated:
        print(f"... (truncated at {args.max_rows} rows)")
    if not preexisting:
        spark.stop()
    return 0


def _dump_config(cfg_dict: dict, args: argparse.Namespace) -> None:
    """validate --config-file / --config-file-json store mode (reference
    cli_tools.py:970-978 + __main__.store_yaml_config_file): persist the
    built config instead of running it. Source/target paths are embedded so
    `configs run` can execute the file standalone; '*' aggregates stay
    deferred as written flags unless a source is loadable now."""
    d = dict(cfg_dict)
    for k in ("source_path", "target_path", "source_table", "target_table"):
        v = getattr(args, k, None)
        if v and k not in d:
            d[k] = v
    # keep the stored file declarative: rename the deferred star-aggregates
    star = d.pop("_star_aggregates", None)
    if star:
        d["star_aggregates"] = star
    d.pop("_cast_to_bigint", None)
    if getattr(args, "cast_to_bigint", False):
        d["cast_to_bigint"] = True
    if args.config_file:
        import yaml

        with open(args.config_file, "w") as f:
            yaml.safe_dump(d, f, sort_keys=False)
    if args.config_file_json:
        with open(args.config_file_json, "w") as f:
            json.dump(d, f, indent=2, default=str)


def _iter_validation_blocks(cfg: dict):
    """A config file is either one validation dict or a
    ``validations: [...]`` list (the reference partition_builder format,
    partition_builder.py:76-82); top-level source/target locations apply to
    every block."""
    top_io = {
        k: cfg[k]
        for k in (
            "source_path", "target_path", "source_table", "target_table"
        )
        if cfg.get(k)
    }
    blocks = cfg.get("validations") or [cfg]
    for b in blocks:
        d = dict(b)
        for k, v in top_io.items():
            d.setdefault(k, v)
        yield d


def _run_config_blocks(args: argparse.Namespace, cfg: dict) -> int:
    """Run every validation block in a (possibly multi-block) config file;
    exit code is the OR of per-block failures (reference configs run)."""
    rc = 0
    for block in _iter_validation_blocks(cfg):
        b_args = argparse.Namespace(**vars(args))
        for k in ("source_path", "target_path", "source_table",
                  "target_table"):
            v = block.pop(k, None)
            if v and not getattr(b_args, k, None):
                setattr(b_args, k, v)
        if block.get("type") == "Expectations":
            rc |= _run_expect_block(b_args, block)
            continue
        if block.pop("cast_to_bigint", False):
            block["_cast_to_bigint"] = True
        star = block.pop("star_aggregates", None)
        if star:
            block["_star_aggregates"] = star
        rc |= _execute_job(b_args, block)
    return rc


def _run_configs_cmd(args: argparse.Namespace) -> int:
    """configs list|get|run (reference cli_tools.py:374-420)."""

    if args.configs_cmd == "list":
        names = sorted(
            n for n in os.listdir(args.config_dir)
            if n.endswith((".yaml", ".yml", ".json"))
        )
        for n in names:
            print(n)
        return 0
    if args.configs_cmd == "get":
        with open(args.config_file) as f:
            print(f.read())
        return 0
    # run: one file, a whole directory, or the indexed slice of a directory
    # (reference config_runner, __main__.py:352-401: --kube-completions picks
    # exactly the YAML matching the container's completion index so an
    # indexed K8s Job / Cloud Run task array fans out one partition per task)
    if args.config_file:
        return _run_config_blocks(args, load_config(args.config_file))
    if not args.config_dir:
        raise SystemExit("configs run needs --config-file or --config-dir")
    names = sorted(
        n for n in os.listdir(args.config_dir)
        if n.endswith((".yaml", ".yml", ".json"))
    )
    if args.kube_completions:
        idx_var = next(
            (
                v for v in ("JOB_COMPLETION_INDEX", "CLOUD_RUN_TASK_INDEX")
                if os.environ.get(v) is not None
            ),
            None,
        )
        if idx_var is None:
            raise SystemExit(
                "--kube-completions set but neither JOB_COMPLETION_INDEX "
                "nor CLOUD_RUN_TASK_INDEX is in the environment"
            )
        idx = int(os.environ[idx_var])
        if not 0 <= idx < len(names):
            raise SystemExit(
                f"{idx_var}={idx} out of range for {len(names)} config "
                f"file(s) in {args.config_dir}"
            )
        names = [names[idx]]
    rc = 0
    for n in names:
        rc |= _run_config_blocks(
            args, load_config(os.path.join(args.config_dir, n))
        )
    return rc


def _run_generate_partitions(args: argparse.Namespace) -> int:
    """generate-table-partitions (reference partition_builder.py): build the
    PK-range manifest distributed (row_number boundary windows — no
    driver-side scan), then emit ceil(n/ppf) YAML files named 0000.yaml...
    each holding `parts-per-file` row-validation blocks whose filters are the
    manifest's pushdown-able range predicates."""

    import yaml

    from .operators.partitioning import partition_manifest
    from .session import get_spark

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark("psdv-gtp")
    try:
        source = _load_side(spark, args.source_path, args.source_table)
        pkeys = _split_cols(args.primary_keys)
        manifest = partition_manifest(source, pkeys, args.partition_num)
        clauses = [
            r["where_clause"]
            for r in sorted(
                manifest.collect(), key=lambda r: int(r["partition_idx"])
            )
        ]
    finally:
        if not preexisting:
            spark.stop()

    base: dict = {
        "type": "Row",
        "primary_keys": pkeys,
        "threshold": args.threshold,
        "trim_string_pks": bool(args.trim_string_pks),
        "case_insensitive_match": bool(args.case_insensitive_match),
    }
    cf = _split_cols(args.comparison_fields)
    if cf:
        base["comparison_fields"] = [{"column": c} for c in cf]
    else:
        base["hash_columns"] = (
            "*" if args.hash == "*" else _split_cols(args.hash)
        )
    if args.labels:
        base["labels"] = [
            list(kv.split("=", 1)) for kv in args.labels.split(",")
        ]
    user_filters = _parse_filters(args.filters)

    top_io = {
        k: getattr(args, k)
        for k in ("source_path", "target_path", "source_table",
                  "target_table")
        if getattr(args, k, None)
    }
    os.makedirs(args.config_dir, exist_ok=True)
    ppf = max(1, args.parts_per_file)
    n_files = 0
    for i in range(0, len(clauses), ppf):
        blocks = []
        for wc in clauses[i:i + ppf]:
            b = dict(base)
            b["filters"] = list(user_filters) + [
                {"ftype": "custom", "source": wc, "target": wc}
            ]
            blocks.append(b)
        out = dict(top_io)
        out["validations"] = blocks
        fname = os.path.join(args.config_dir, f"{i // ppf:04d}.yaml")
        with open(fname, "w") as f:
            yaml.safe_dump(out, f, sort_keys=False)
        n_files += 1
    print(
        f"wrote {n_files} config file(s) covering {len(clauses)} "
        f"partition(s) to {args.config_dir}"
    )
    return 0


def _run_find_tables(args: argparse.Namespace) -> int:
    """find-tables (reference cli_tools.py:343-360): print JSON pairs of
    fuzzy-matched table names."""
    from .session import get_spark
    from .sources.readers import find_tables

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark("psdv-find-tables")
    try:
        _register_tables(spark, args.table)
        print(json.dumps(find_tables(spark, args.score_cutoff)))
    finally:
        if not preexisting:
            spark.stop()
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    # legacy invocation: bare flags = `run` (the spark-submit jobs and every
    # existing caller pass --config first)
    if argv and argv[0].startswith("-"):
        argv = ["run"] + argv
    args = build_parser().parse_args(argv)
    if args.command == "query":
        return _run_query(args)
    if args.command == "configs":
        return _run_configs_cmd(args)
    if args.command == "generate-table-partitions":
        return _run_generate_partitions(args)
    if args.command == "find-tables":
        return _run_find_tables(args)
    if args.command == "curate":
        return _run_curate(args)
    if args.command == "expect":
        return _run_expect(args)
    if args.command == "profile":
        return _run_profile(args)
    if args.command == "snapshot-diff":
        return _run_snapshot_diff(args)
    if args.command == "validate":
        cfg_dict = _config_dict_from_flags(args)
        if args.config_file or args.config_file_json:
            _dump_config(cfg_dict, args)
            return 0
        return _execute_job(args, cfg_dict)
    return _run_config_blocks(args, load_config(args.config))


def _execute_job(args: argparse.Namespace, cfg_dict: dict) -> int:
    from .config import ValidationConfig, consts
    from .lineage import LineageStore, config_hash
    from .metadata import RunMetadata
    from .plans.compiler import prepare_row_sides, run_validation
    from .session import get_spark
    from .sources.sinks import data_files, report_to_text, write_report

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark("psdv-job")

    is_custom_query = cfg_dict.get("type") == consts.CUSTOM_QUERY
    _register_tables(spark, getattr(args, "table", None))
    if is_custom_query and not (args.source_path or args.source_table):
        # custom-query sides are SQL text run by the compiler; the schema
        # for '*' aggregate expansion comes from the source query itself
        source = target = None
        if cfg_dict.get("_star_aggregates"):
            from .sources.readers import custom_query

            cfg_dict = _expand_star_aggregates(
                cfg_dict, custom_query(spark, cfg_dict["source_table"])
            )
    else:
        source = _load_side(spark, args.source_path, args.source_table)
        target = _load_side(spark, args.target_path, args.target_table)
        cfg_dict = _expand_star_aggregates(cfg_dict, source)
    config = ValidationConfig.from_dict(cfg_dict)
    # one run id for the report and every lineage row this job writes
    run = RunMetadata()

    ch = config_hash(cfg_dict)
    store = LineageStore(spark, args.lineage_dir) if args.lineage_dir else None

    if args.resume and store and args.partition_by and source is not None:
        passed = store.passed_partitions(ch, config.validation_type)
        part_expr = F.expr(args.partition_by).cast("string")
        # partition pruning: passed partitions never reach the operators
        source = source.join(
            F.broadcast(passed),
            part_expr == F.col("partition_id"),
            "left_anti",
        )
        target = target.join(
            F.broadcast(passed),
            part_expr == F.col("partition_id"),
            "left_anti",
        )

    manifest = None
    pkeys: list[str] = []
    if store and args.partition_keys and source is not None:
        from .operators.partitioning import (
            partition_manifest,
            pending_where,
        )

        pkeys = [k.strip() for k in args.partition_keys.split(",")]
        stray = [k for k in pkeys if k not in config.primary_keys]
        if config.validation_type == consts.ROW_VALIDATION and stray:
            # verdicts are per PK range: a partition key outside the PK
            # would split one row's identity across partitions
            raise SystemExit(
                f"--partition-keys {','.join(stray)}: not among the primary "
                f"keys ({','.join(config.primary_keys)}); partition keys "
                "must be PK columns"
            )
        if args.use_manifest:
            # reloading the original manifest pins partition identity to the
            # run that emitted it, even if the table changed since (ADVICE)
            manifest = spark.read.parquet(args.use_manifest)
        else:
            manifest = partition_manifest(source, pkeys, args.num_partitions)
        if args.emit_manifest and not args.use_manifest:
            manifest.coalesce(1).write.mode("overwrite").parquet(
                args.emit_manifest
            )
        if args.resume:
            pending = store.pending_partitions(
                manifest, ch, config.validation_type
            )
            wc = pending_where(pending)
            # one pushdown-able predicate; passed PK ranges never rescanned
            source = source.filter(F.expr(wc))
            target = target.filter(F.expr(wc))

    if (
        getattr(args, "checksum_first", None)
        and config.validation_type == consts.ROW_VALIDATION
        and source is not None
    ):
        # checksum-first drilldown: the fingerprint pass clears clean
        # partitions with a map-side-combined aggregate (no PK shuffle);
        # the O(rows) full-outer join below then runs over dirty partitions
        # only. Fingerprints use the same --hash '*' chain as the row join,
        # so a cleared partition is cleared against the same bytes.
        from .operators.checksums import (
            checksum_validation,
            failing_partition_predicate,
        )

        pexpr = F.expr(args.checksum_first).cast("string")
        ck_cols = (
            [c for c in source.columns if c not in config.primary_keys]
            if (config.hash_columns or "*") == "*"
            else list(config.hash_columns)
        )
        ck = checksum_validation(
            source, target, pexpr, ck_cols,
            case_insensitive=config.case_insensitive_match,
        ).persist()
        try:
            # one row per partition: the summary and the drill-down ids
            # come from one collect; the lineage append reads the cache
            verdict_rows = ck.collect()
            failing = [
                r["partition_id"]
                for r in verdict_rows
                if r["validation_status"] == consts.VALIDATION_STATUS_FAIL
            ]
            if store:
                store.append_verdicts(
                    ck, ch, run.run_id, f"{config.validation_type}:checksum"
                )
        finally:
            ck.unpersist()
        print(
            f"checksum-first: {len(failing)}/{len(verdict_rows)} partitions "
            "failed the fingerprint compare; row validation drills into "
            "those only"
        )
        pred = failing_partition_predicate(failing, pexpr)
        source = source.filter(pred)
        target = target.filter(pred)

    report = run_validation(
        config, source, target, spark=spark, run_metadata=run
    )
    row_src = row_tgt = None
    if config.validation_type == consts.ROW_VALIDATION and source is not None:
        # lineage verdicts and the rate gate compare what the report does
        row_src, row_tgt = prepare_row_sides(config, source, target)
    if getattr(args, "explain", False):
        # dry run: show the physical plan the job WOULD execute — shuffle
        # count, join strategy, pushdown — without paying for it
        report.explain("formatted")
        if not preexisting:
            spark.stop()
        return 0
    is_fail = F.col("validation_status") == consts.VALIDATION_STATUS_FAIL
    if args.output:
        # the write is the report's only pass: it observes the counts the
        # exit code needs, and stdout reads this run's rows back from the
        # files this write added. The output is append-mode, so earlier
        # runs' files are never opened; the run-id filter drops the rows of
        # a concurrent append into the same directory. An empty row report
        # adds no data file and reads back as zero rows.
        obs = Observation()
        observed = report.observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(is_fail, 1)).alias("n_fail"),
        )
        before = data_files(spark, args.output, report.schema)
        if config.validation_type == consts.ROW_VALIDATION:
            # O(rows) report: partitioned parallel append, never a global
            # sort / coalesce(1); partitioning on validation_status makes
            # --filter-status reads partition-pruned
            write_report(
                observed, args.output, partition_by=["validation_status"]
            )
        else:
            write_report(observed, args.output, small=True)
        failed = obs.get["n_fail"] > 0
        added = sorted(data_files(spark, args.output, report.schema) - before)
        shown = (
            spark.read.schema(report.schema)
            .option("basePath", args.output)
            .parquet(*added)
            if added
            else spark.createDataFrame([], report.schema)
        ).filter(F.col("run_id") == run.run_id)
    else:
        # no output to read back: the text render, the fail count and the
        # grouped lineage verdicts all read the report; the first action
        # fills the cache
        shown = report = report.persist()
    try:
        if store and manifest is not None and row_src is not None:
            # per-manifest-partition verdicts into the lineage table: the
            # resumable unit matches reference generate-table-partitions'
            # YAMLs. The verdicts align the compiler's prepared sides on the
            # config's PKs, like the report, and read each row's partition
            # off its aligned (coalesced) PK columns.
            from .operators.partitioning import assign_partition_id
            from .operators.row_compare import row_compare_verdicts

            mrows = sorted(
                manifest.collect(), key=lambda r: int(r["partition_idx"])
            )
            bound_rows = [{k: r[f"{k}_lower"] for k in pkeys} for r in mrows]
            part_ids = [r["partition_id"] for r in mrows]
            use_fields = (
                config.comparison_fields if not config.hash_columns else None
            )
            verdicts = row_compare_verdicts(
                row_src,
                row_tgt,
                config.primary_keys,
                partition_col=assign_partition_id(
                    pkeys, bound_rows, partition_ids=part_ids
                ),
                hash_columns=(
                    (config.hash_columns or "*") if not use_fields else None
                ),
                comparison_fields=use_fields or None,
                case_insensitive=config.case_insensitive_match,
                trim_string_pks=config.trim_string_pks,
            )
            store.append_verdicts(
                verdicts, ch, run.run_id, config.validation_type
            )

        if store and args.partition_by and config.group_by:
            # grouped runs: one verdict row per partition into lineage
            verdicts = shown.groupBy(
                F.col("group_by_columns").alias("partition_id")
            ).agg(
                F.count(F.lit(1)).alias("n_validations"),
                F.min(
                    F.when(
                        F.col("validation_status")
                        == consts.VALIDATION_STATUS_SUCCESS,
                        F.lit("success"),
                    ).otherwise(F.lit("fail"))
                ).alias("validation_status"),
            )
            store.append_verdicts(
                verdicts, ch, run.run_id, config.validation_type
            )

        print(
            report_to_text(
                shown,
                status_filter=args.filter_status,
                fmt=getattr(args, "format", "table"),
            )
        )
        if not args.output:
            failed = report.filter(is_fail).count() > 0

        gate_spec = getattr(args, "rate_gate", None)
        if gate_spec and row_src is not None:
            from .operators.row_compare import violation_rate_gate

            day_col, _, thr = gate_spec.partition(":")
            cmp_cols = [c.column for c in config.comparison_fields] or [
                c
                for c in row_src.columns
                if c not in config.primary_keys
                and c != day_col
                and c in row_tgt.columns
                and (
                    (config.hash_columns or "*") == "*"
                    or c in config.hash_columns
                )
            ]
            gate = violation_rate_gate(
                row_src,
                row_tgt,
                config.primary_keys,
                cmp_cols,
                day_col=day_col,
                threshold=float(thr) if thr else 0.01,
            ).persist()
            try:
                print("\n== violation-rate gate (Wilson 95%) ==")
                print(
                    report_to_text(
                        gate,
                        cols=gate.columns,
                        fmt=getattr(args, "format", "table"),
                    )
                )
                failed = failed or (
                    gate.filter(is_fail).limit(1).count() > 0
                )
            finally:
                gate.unpersist()
    finally:
        if not args.output:
            report.unpersist()
    if not preexisting:  # don't stop a session the caller owns
        spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":  # pragma: no cover
    sys.exit(main())


def _run_curate(args: argparse.Namespace) -> int:
    """Training-data curation job: dedup_clusters [+ decontaminate]
    + quality_score -> per-doc verdict frame (the corpus_curation
    composition with configurable inputs). Exit code 0 always — drops are
    the expected product, not failures."""
    from .operators.dedup import decontaminate, dedup_clusters
    from .operators.text import quality_score
    from .session import get_spark

    spark = get_spark("psdv-curate")
    docs = spark.read.parquet(args.docs_path)
    idc, txt = args.id_col, args.text_col
    n_seen_dropped = 0
    if args.seen_path:
        # incremental ingestion: drop docs already in the ingested corpus
        # before paying for dedup/contamination/quality. Exact at any
        # --bloom-bits (bloom misses bypass the join; hits are verified).
        from .operators.bloom import seen_filter

        seen = spark.read.parquet(args.seen_path)
        stc = args.seen_text_col or txt
        n_before = docs.count()
        docs = seen_filter(
            docs, seen, F.md5(F.col(txt)), seen_key=F.md5(F.col(stc)),
            n_bits=args.bloom_bits, n_hashes=args.bloom_hashes,
        ).persist()
        n_seen_dropped = n_before - docs.count()
    verdicts = dedup_clusters(
        docs, idc, txt,
        k=args.dedup_shingle_k,
        num_hashes=args.minhash_num,
        bands=args.minhash_bands,
        threshold=args.dedup_threshold,
    )
    if args.bench_path:
        bench = spark.read.parquet(args.bench_path)
        hits = decontaminate(
            docs, bench, idc, txt,
            args.bench_id_col, args.bench_text_col,
            k=args.contam_k, min_overlap=args.contam_min_overlap,
        )
        # the doc id is the first column; by name it is ambiguous when the
        # bench id column has the same name (both default to doc_id)
        contam = (
            hits.toDF(idc, *(f"__{c}" for c in hits.columns[1:]))
            .select(idc)
            .distinct()
            .withColumn("is_contaminated", F.lit(True))
        )
        verdicts = verdicts.join(contam, idc, "left")
    else:
        verdicts = verdicts.withColumn("is_contaminated", F.lit(False))
    qual = quality_score(docs, idc, txt).select(
        F.col("id").alias(idc), "quality_score"
    )
    contaminated = F.coalesce(F.col("is_contaminated"), F.lit(False))
    verdicts = verdicts.join(qual, idc).select(
        idc,
        "cluster_id",
        "cluster_size",
        "is_canonical",
        contaminated.alias("is_contaminated"),
        "quality_score",
        (
            F.col("is_canonical")
            & ~contaminated
            & (F.col("quality_score") >= args.quality_min)
        ).alias("keep"),
    )
    # one execution for the sink and the summary (summary always over the
    # FULL verdict set, even under --keep-only)
    verdicts = verdicts.persist()
    try:
        if args.output:
            out = (
                verdicts.filter(F.col("keep"))
                if args.keep_only
                else verdicts
            )
            out.write.mode("overwrite").parquet(args.output)
        total = verdicts.count()
        kept = verdicts.filter(F.col("keep")).count()
        dup = verdicts.filter(~F.col("is_canonical")).count()
        contam_n = verdicts.filter(F.col("is_contaminated")).count()
        lowq = verdicts.filter(
            F.col("quality_score") < args.quality_min
        ).count()
        seen_note = (
            f"; {n_seen_dropped} already-ingested docs skipped pre-curation"
            if args.seen_path else ""
        )
        print(
            f"curate: {total} docs -> keep {kept} "
            f"(drop: {dup} near-dup, {contam_n} contaminated, "
            f"{lowq} below quality {args.quality_min}){seen_note}"
        )
    finally:
        verdicts.unpersist()
        if args.seen_path:
            docs.unpersist()
    return 0


def _run_profile(args: argparse.Namespace) -> int:
    """One-table data profile job: categorical_profile (+ frequent_values)
    over string-ish columns and numeric_profile per numeric column, each a
    one/two-aggregate-pass plan (operators/aggregates.py). --approx swaps
    in the sketch variants (HLL cardinalities, t-digest percentiles) for
    tables whose distinct-value streams are themselves huge."""
    import pandas as pd

    from .operators.aggregates import (
        categorical_profile,
        frequent_values,
        frequent_values_approx,
        numeric_profile,
    )
    from .session import get_spark

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark("psdv-profile")
    df = _load_side(spark, args.source_path, args.source_table)
    numeric_types = ("int", "bigint", "smallint", "tinyint", "double",
                     "float", "decimal")
    dtypes = dict(df.dtypes)
    num_cols = _split_cols(args.numeric_columns) or [
        c for c, t in dtypes.items()
        if t.startswith(numeric_types)
    ]
    cat_cols = _split_cols(args.columns) or [
        c for c in df.columns if c not in num_cols
    ]
    mode = "approx" if args.approx else "exact"

    def _show(title: str, frame) -> None:
        pdf = pd.DataFrame([r.asDict() for r in frame.collect()],
                           columns=frame.columns)
        print(f"\n== {title} ==")
        print(pdf.to_string(index=False))

    sections = {}
    if cat_cols:
        sections["categorical"] = categorical_profile(df, cat_cols, mode=mode)
        if args.top_k > 0:
            sections["frequent_values"] = (
                frequent_values_approx(
                    df, cat_cols, k=args.top_k,
                    num_counters=args.num_counters,
                )
                if args.approx
                else frequent_values(df, cat_cols, k=args.top_k)
            )
    if cat_cols and getattr(args, "entropy", False):
        from .operators.aggregates import column_entropy

        sections["entropy"] = column_entropy(df, cat_cols)
    skew_keys = _split_cols(getattr(args, "skew_key", None))
    if skew_keys:
        from .operators.partitioning import key_skew_profile

        sections["skew"] = key_skew_profile(df, skew_keys)
    if getattr(args, "mi", None):
        from .operators.aggregates import mutual_information

        mi_frames = []
        for pair in args.mi.split(","):
            a, _, b = pair.strip().partition(":")
            if not b:
                raise SystemExit(f"--mi needs col_a:col_b, got {pair!r}")
            mi_frames.append(mutual_information(df, a, b))
        out_mi = mi_frames[0]
        for other in mi_frames[1:]:
            out_mi = out_mi.unionByName(other)
        sections["mutual_information"] = out_mi
    if getattr(args, "outliers", False) and num_cols:
        from .operators.aggregates import robust_outlier_profile

        sections["outliers"] = robust_outlier_profile(
            df, num_cols, k=args.outlier_k
        )
    benford_cols = _split_cols(getattr(args, "benford", None))
    if benford_cols:
        from .operators.aggregates import benford_check

        bf = [
            benford_check(df, F.col(c)).select(
                F.lit(c).alias("column"), "*"
            )
            for c in benford_cols
        ]
        out_bf = bf[0]
        for other in bf[1:]:
            out_bf = out_bf.unionByName(other)
        sections["benford"] = out_bf
    if getattr(args, "fd", None):
        from .operators.aggregates import fd_violations

        fd_frames = []
        for pair in args.fd.split(","):
            a, _, b = pair.strip().partition(":")
            if not b:
                raise SystemExit(f"--fd needs det:dep, got {pair!r}")
            fd_frames.append(
                fd_violations(df, a, b).select(
                    F.lit(f"{a} -> {b}").alias("fd"), "*"
                )
            )
        out_fd = fd_frames[0]
        for other in fd_frames[1:]:
            out_fd = out_fd.unionByName(other)
        sections["fd_violations"] = out_fd
    seq = getattr(args, "sequence", None)
    if seq:
        from .operators.conversation import (
            loop_detection,
            role_sequence_anomaly,
        )

        parts = seq.split(":")
        if len(parts) not in (3, 4):
            raise SystemExit(
                f"--sequence needs conv:turn:role[:text], got {seq!r}"
            )
        conv_c, turn_c, role_c = parts[:3]
        top = args.sequence_top
        if len(parts) == 4:
            sections["loops"] = (
                loop_detection(df, conv_c, turn_c, role_c, parts[3])
                .orderBy(
                    F.desc("max_run_len"), F.desc("n_repeat_turns"), "conv_id"
                )
                .limit(top)
            )
        sections["sequence_anomaly"] = (
            role_sequence_anomaly(df, conv_c, turn_c, role_c)
            .orderBy(F.desc("avg_nll"), "conv_id")
            .limit(top)
        )
    if num_cols:
        profs = [
            numeric_profile(df, [], c, mode=mode).select(
                F.lit(c).alias("column"), "*"
            )
            for c in num_cols
        ]
        out = profs[0]
        for other in profs[1:]:
            out = out.unionByName(other)
        sections["numeric"] = out
    rc = 0
    tgt_path = getattr(args, "target_path", None)
    tgt_table = getattr(args, "target_table", None)
    if (tgt_path or tgt_table) and num_cols:
        # compare mode: melt every numeric column to one (column, v) long
        # frame per side (map-only), then ONE profile_compare pass — one
        # profile aggregate per side covers all columns
        from .operators.aggregates import profile_compare

        tgt = _load_side(spark, tgt_path, tgt_table)

        def _melt(frame):
            return frame.select(
                F.explode(
                    F.array(*[
                        F.struct(
                            F.lit(c).alias("column"),
                            F.col(c).cast("double").alias("v"),
                        )
                        for c in num_cols
                    ])
                ).alias("e")
            ).select("e.column", "e.v")

        cmp_frame = profile_compare(
            _melt(df), _melt(tgt), ["column"], "v",
            threshold_pct=args.threshold_pct, mode=mode,
        )
        cmp_frame = cmp_frame.persist()
        sections["compare"] = cmp_frame
        if cmp_frame.filter(
            F.col("validation_status") == "fail"
        ).limit(1).count():
            rc = 1
    if (tgt_path or tgt_table) and cat_cols:
        # categorical compare: n_distinct / n_null / modal value+count per
        # string column (operators/aggregates.py categorical_compare)
        from .operators.aggregates import categorical_compare

        tgt = _load_side(spark, tgt_path, tgt_table)
        cat_cmp = categorical_compare(
            df, tgt, cat_cols, threshold_pct=args.threshold_pct
        ).persist()
        sections["compare_categorical"] = cat_cmp
        if cat_cmp.filter(
            F.col("validation_status") == "fail"
        ).limit(1).count():
            rc = 1
    for title, frame in sections.items():
        _show(title, frame)
        if args.output:
            frame.write.mode("overwrite").parquet(
                os.path.join(args.output, title)
            )
    if (tgt_path or tgt_table) and num_cols:
        sections["compare"].unpersist()
    if "compare_categorical" in sections:
        sections["compare_categorical"].unpersist()
    if not preexisting:
        spark.stop()
    return rc


def _rules_from_list(raw) -> list:
    """YAML/JSON rule dicts -> Expectation objects (shared by the `expect`
    command and `type: Expectations` config blocks)."""
    from .operators.expectations import Expectation

    if not isinstance(raw, list):
        raise SystemExit("expectations need a LIST of rule dicts")
    rules = []
    for d in raw:
        if not isinstance(d, dict) or "kind" not in d:
            raise SystemExit(f"rule needs a 'kind': {d!r}")
        if "values" in d:
            d = dict(d, values=tuple(d["values"]))
        try:
            rules.append(Expectation(**d))
        except TypeError as exc:
            raise SystemExit(f"bad rule {d!r}: {exc}")
    return rules


def _run_expect_block(args: argparse.Namespace, block: dict) -> int:
    """A `type: Expectations` block inside a validation config: single-table
    rule evaluation wired into the same configs-run / run surface as the
    two-table validations (rules:, approx:, plus the shared IO/report
    flags). Exit 1 when any rule fails."""
    from .operators.expectations import run_expectations
    from .session import get_spark
    from .sources.sinks import report_to_text

    rules = _rules_from_list(block.get("rules"))
    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark("psdv-expect")
    try:
        source = _load_side(spark, args.source_path, args.source_table)
        report = run_expectations(
            source, rules, approx=bool(block.get("approx"))
        ).persist()
        try:
            if getattr(args, "output", None):
                report.write.mode("overwrite").parquet(args.output)
            print(
                report_to_text(
                    report,
                    status_filter=getattr(args, "filter_status", None),
                    cols=report.columns,
                    fmt=getattr(args, "format", None) or "table",
                )
            )
            n_fail = report.filter(
                F.col("validation_status") == "fail"
            ).count()
        finally:
            report.unpersist()
    finally:
        if not preexisting:
            spark.stop()
    return 1 if n_fail else 0


def _run_expect(args: argparse.Namespace) -> int:
    """expect: evaluate a YAML/JSON rule list in one aggregate pass and
    print/persist the long-format report. Exit code 1 when any rule fails
    (the `run` command's fail-count convention)."""
    import yaml

    from .operators.expectations import run_expectations
    from .session import get_spark
    from .sources.sinks import report_to_text

    with open(args.rules) as f:
        raw = yaml.safe_load(f)
    rules = _rules_from_list(raw)

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark("psdv-expect")
    try:
        source = _load_side(spark, args.source_path, args.source_table)
        report = run_expectations(source, rules, approx=args.approx)
        # tiny (one row per rule): a single driver-side collect feeds the
        # sink, the text rendering, and the exit code — no recompute
        report = report.persist()
        try:
            if args.output:
                report.write.mode("overwrite").parquet(args.output)
            print(
                report_to_text(
                    report,
                    status_filter=args.filter_status,
                    cols=report.columns,
                    fmt=args.format,
                )
            )
            n_fail = report.filter(
                F.col("validation_status") == "fail"
            ).count()
        finally:
            report.unpersist()
    finally:
        if not preexisting:
            spark.stop()
    return 1 if n_fail else 0


def _run_snapshot_diff(args: argparse.Namespace) -> int:
    """Snapshot-diff job: classify per-PK changes between two versions of
    one table, print/write the per-partition rollup, optionally write the
    row-level delta. The classified diff is computed ONCE and persisted —
    the rollup, the optional row sink, and the exit-code count all reuse
    the same materialization (the report-persist lesson from the validate
    job: never re-execute the join per consumer)."""
    import pandas as pd

    from pyspark.sql import functions as F

    from .operators.snapshot import snapshot_diff, UNCHANGED
    from .session import get_spark

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark("psdv-snapshot-diff")
    try:
        old = _load_side(spark, args.old_path, args.old_table)
        new = _load_side(spark, args.new_path, args.new_table)
        pks = _split_cols(args.primary_keys)
        part = (
            F.expr(args.partition_by)
            if args.partition_by
            else F.lit("__all__")
        )
        diff = snapshot_diff(
            old, new, pks,
            compare_columns=_split_cols(args.compare_columns),
            partition_col=part,
            detail=bool(getattr(args, "detail", False)),
        )
        # the unchanged majority is dropped BEFORE persist: the cached
        # frame is O(changes) + one count row per partition
        changed = diff.filter(F.col("diff_status") != UNCHANGED).persist()
        # rollup WITHOUT re-running the join: removed/changed/unchanged
        # rows all carry the old side's partition value, so
        # n_unchanged = n_old(partition) - n_removed - n_changed — one
        # extra scan of the old side instead of a second two-sided join
        chg = changed.groupBy("partition_id").agg(
            F.count(F.when(F.col("diff_status") == "added", 1)).alias(
                "n_added"),
            F.count(F.when(F.col("diff_status") == "removed", 1)).alias(
                "n_removed"),
            F.count(F.when(F.col("diff_status") == "changed", 1)).alias(
                "n_changed"),
        )
        n_old = old.groupBy(part.alias("partition_id")).agg(
            F.count(F.lit(1)).alias("n_old")
        )
        counts = (
            n_old.join(chg, "partition_id", "full_outer")
            .fillna(0, ["n_old", "n_added", "n_removed", "n_changed"])
            .select(
                "partition_id", "n_added", "n_removed", "n_changed",
                (F.col("n_old") - F.col("n_removed") - F.col("n_changed"))
                .alias("n_unchanged"),
                (
                    (F.col("n_added") > 0) | (F.col("n_removed") > 0)
                    | (F.col("n_changed") > 0)
                ).alias("revalidate"),
            )
        )
        summ_rows = counts.orderBy("partition_id").limit(
            args.max_print
        ).collect()
        pdf = pd.DataFrame(
            [r.asDict() for r in summ_rows],
            columns=["partition_id", "n_added", "n_removed", "n_changed",
                     "n_unchanged", "revalidate"],
        )
        print(pdf.to_string(index=False))
        if args.summary_output:
            counts.write.mode("overwrite").parquet(args.summary_output)
        if args.rows_output:
            changed.write.mode("overwrite").parquet(args.rows_output)
        if args.invalidate:
            if not args.lineage_dir:
                raise SystemExit("--invalidate needs --lineage-dir")
            import uuid

            from .lineage import LineageStore

            store = LineageStore(spark, args.lineage_dir)
            n_inv = store.invalidate_partitions(
                counts.filter(F.col("revalidate")).select("partition_id"),
                run_id=str(uuid.uuid4()),
            )
            print(f"invalidated lineage rows: {n_inv}")
        n_changed = changed.count()
        print(f"\nchanged rows: {n_changed}")
        changed.unpersist()
        return 1 if n_changed else 0
    finally:
        if not preexisting:
            spark.stop()
