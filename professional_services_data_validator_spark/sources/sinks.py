"""Report sinks.

Reference analogs: text handler (reference data_validation/result_handlers/
text.py:37-85) and BigQuery appender (result_handlers/bigquery.py:25-121).
Here the durable sink is a parquet/Iceberg append; text output collects only
the final (small) report.
"""

from __future__ import annotations

from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def safe_collect(df: DataFrame, max_rows: int = 50_000) -> list:
    """Guarded driver collect (reference max_recursive_query_size,
    config_manager.py:145-148): refuse to materialize unbounded result sets
    on the driver. Operators never need this — it exists for callers who
    want rows in Python."""
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"result exceeds driver collect guard ({max_rows} rows); "
            "write it to a sink instead (write_report) or aggregate further"
        )
    return rows


def write_report(
    report: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
    small: bool | None = None,
    max_small_rows: int = 10_000,
) -> None:
    """Append the report to a results table. With an Iceberg catalog this is
    ``report.writeTo(table).append()``; parquet-append is the sandbox
    fallback (no Iceberg jars in this environment).

    Scale posture (round-1 fix): the old implementation globally sorted and
    ``coalesce(1)``-ed every report — a single-reducer scale-killer when fed
    a row-level validation report (O(rows)). Now:

    - ``partition_by``: partitioned append (e.g. by validation_status so
      --filter-status reads become partition-pruned), rows sorted only
      *within* partitions — no global exchange anywhere in the plan.
    - column/grouped reports (``small=True``, or probed <= max_small_rows):
      keep the deterministic single sorted file — they are tiny by
      construction (one row per validation x group).
    - anything else: sortWithinPartitions + parallel write.

    An observed report (``DataFrame.observe``) is executed exactly once by
    the partitioned and small writes, so its metrics count each row once.
    """
    sort_cols = [
        c
        for c in ("validation_name", "group_by_columns")
        if c in report.columns
    ]
    if partition_by:
        w = report.sortWithinPartitions(*sort_cols) if sort_cols else report
        w.write.mode("append").partitionBy(*partition_by).format(fmt).save(path)
        return
    if small is None:
        small = report.limit(max_small_rows + 1).count() <= max_small_rows
    if small:
        # one sorted file through a single-partition shuffle: a global
        # orderBy would first run a sampling job over the report, which
        # re-executes its plan and double-counts an observed metric
        one = report.repartition(1)
        ordered = one.sortWithinPartitions(*sort_cols) if sort_cols else one
        ordered.write.mode("append").format(fmt).save(path)
    else:
        w = report.sortWithinPartitions(*sort_cols) if sort_cols else report
        w.write.mode("append").format(fmt).save(path)


def data_files(
    spark: SparkSession, path: str, schema: StructType
) -> set[str]:
    """The data files under ``path`` as Spark's reader lists them (hidden
    ``_SUCCESS``, ``_temporary`` and ``.crc`` entries skipped); empty when
    ``path`` does not exist. With ``schema`` given the listing opens no
    file, so diffing it around an append names that append's files without
    reading the earlier ones. The listing crosses into Python as one joined
    string (a per-file crossing costs more than the listing itself) of
    URIs, decoded back to the paths a reader takes."""
    root = spark._jvm.org.apache.hadoop.fs.Path(path)
    if not root.getFileSystem(spark._jsc.hadoopConfiguration()).exists(root):
        return set()
    files = spark.read.schema(schema).parquet(path)._jdf.inputFiles()
    joined = spark._jvm.org.apache.hadoop.util.StringUtils.join("\n", files)
    return {unquote(f) for f in joined.splitlines()}


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_keys: list[str],
    n_buckets: int = 32,
    sort_keys: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a table bucketed (and sorted) on the validation PK so the
    row-validation full-outer join needs NO shuffle and NO sort: both sides
    arrive hash-bucketed and sorted on (conv_id, turn_idx) and SortMergeJoin
    zips them. This is the materialization the in-code scale notes call for
    at 10^12 turns (Iceberg: the same effect via identity/bucket partition
    transforms + sorted data files). Plan-level proof in
    tests/test_bucketed_join.py: zero Exchange operators in the join."""
    (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(n_buckets, *bucket_keys)
        .sortBy(*(sort_keys or bucket_keys))
        .saveAsTable(table)
    )


def report_to_text(
    report: DataFrame,
    status_filter: str | None = None,
    cols: list[str] | None = None,
    max_rows: int = 1000,
    fmt: str = "table",
) -> str:
    """Driver-side rendering of the (small) report — reference text.py
    semantics incl. --filter-status and --format table|text|csv|json
    (reference cli_tools.py:980-986, result_handlers/text.py:37-85)."""
    if status_filter:
        report = report.filter(F.col("validation_status") == status_filter)
    cols = cols or [
        "validation_name",
        "validation_type",
        "source_agg_value",
        "target_agg_value",
        "group_by_columns",
        "difference",
        "pct_difference",
        "validation_status",
    ]
    # tolerate reports that carry a subset of the canonical columns (e.g.
    # schema reports have no group_by_columns; tests inject minimal frames)
    present = set(report.columns)
    cols = [c for c in cols if c in present] or report.columns
    pdf = report.select(*cols).limit(max_rows).toPandas()
    if fmt == "csv":
        return pdf.to_csv(index=False)
    if fmt == "json":
        return pdf.to_json(orient="records")
    return pdf.to_string(index=False)
