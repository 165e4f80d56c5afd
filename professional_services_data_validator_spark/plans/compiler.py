"""Plan compiler: ValidationConfig -> DataFrame plan -> report.

Reference analog: the ValidationBuilder/QueryBuilder pipeline
(reference data_validation/validation_builder.py:34-67 +
query_builder/query_builder.py:512-562) followed by DataValidation's
execute+combine (reference data_validation/data_validation.py:316-346).
There: two SQL strings, two remote engines, pandas combine. Here: both sides
are DataFrames in ONE Catalyst DAG — the 'two engines' become two subtrees
of one distributed plan, and Catalyst dedups/pushes/prunes across them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..combiner import generate_report
from ..config import ValidationConfig, consts
from ..functions.calculated import apply_calculated_fields
from ..metadata import RunMetadata, ValidationMeta
from ..operators.aggregates import apply_filters, column_stats
from ..operators.row_compare import row_compare


def _agg_metas(
    config: ValidationConfig, src_agg: DataFrame, tgt_agg: DataFrame
) -> dict[str, ValidationMeta]:
    src_types = {f.name: f.dataType.simpleString() for f in src_agg.schema.fields}
    tgt_types = {f.name: f.dataType.simpleString() for f in tgt_agg.schema.fields}
    metas = {}
    for a in config.aggregates:
        name = a.validation_name
        metas[name] = ValidationMeta(
            name=name,
            validation_type=config.validation_type,
            aggregation_type=a.agg_type,
            source_table_name=config.source_table,
            source_column_name=a.column,
            target_table_name=config.target_table,
            target_column_name=a.column,
            threshold=config.threshold,
            field_type=src_types.get(name, "bigint"),
            target_field_type=tgt_types.get(name),
        )
    return metas


def build_column_validation_report(
    source: DataFrame,
    target: DataFrame,
    config: ValidationConfig,
    run_metadata: RunMetadata | None = None,
) -> DataFrame:
    """Column / GroupedColumn validation end-to-end."""
    run_metadata = run_metadata or RunMetadata()
    src = apply_calculated_fields(source, config.calculated_fields)
    tgt = apply_calculated_fields(target, config.calculated_fields)
    src_agg = column_stats(
        src, config.aggregates, config.group_by, config.filters, "source",
        config.cast_group_timestamps_to_date,
    )
    tgt_agg = column_stats(
        tgt, config.aggregates, config.group_by, config.filters, "target",
        config.cast_group_timestamps_to_date,
    )
    run_metadata.validations.update(_agg_metas(config, src_agg, tgt_agg))
    # group keys may have been date-cast; combiner joins on output names
    return generate_report(
        src_agg, tgt_agg, run_metadata, join_on_fields=tuple(config.group_by)
    )


def prepare_row_sides(
    config: ValidationConfig, source: DataFrame, target: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """The row sides every row-validation consumer compares: the config's
    calculated fields, then its filters. The report, the lineage verdicts
    and the rate gate all start from these, so they cannot diverge."""
    src = apply_calculated_fields(source, config.calculated_fields)
    tgt = apply_calculated_fields(target, config.calculated_fields)
    if config.filters:
        src = apply_filters(src, config.filters, "source")
        tgt = apply_filters(tgt, config.filters, "target")
    return src, tgt


def compared_columns(config: ValidationConfig, columns: list[str]) -> list[str]:
    """The non-PK columns a row validation compares, out of the prepared
    source's ``columns``: the comparison fields, else the concat or hash
    list, where ``'*'`` (or no list) means every non-PK column. The report,
    the checksum-first fingerprints, the lineage verdicts and the rate gate
    all compare these, so they cannot diverge."""
    if config.comparison_fields:
        return [f.column for f in config.comparison_fields]
    cols = (
        config.hash_columns
        if config.concat_columns is None
        else config.concat_columns
    )
    if cols is None or cols == "*":
        return [c for c in columns if c not in config.primary_keys]
    return list(cols)


def run_validation(
    config: ValidationConfig,
    source: DataFrame | None = None,
    target: DataFrame | None = None,
    spark: SparkSession | None = None,
    run_metadata: RunMetadata | None = None,
) -> DataFrame:
    """Dispatch on validation type. For Custom-query validations the
    source/target tables are SQL strings in config.source_table /
    config.target_table executed via spark.sql (reference clients.py:170-176
    lowercases columns; replicated here)."""
    vtype = config.validation_type
    if vtype == consts.CUSTOM_QUERY:
        assert spark is not None, "Custom-query validation needs a SparkSession"
        from ..sources.readers import custom_query

        source = custom_query(spark, config.source_table)
        target = custom_query(spark, config.target_table)
        if config.comparison_fields or config.primary_keys:
            return row_compare(
                source,
                target,
                config.primary_keys,
                comparison_fields=config.comparison_fields or None,
                hash_columns=config.hash_columns,
                run_metadata=run_metadata,
                source_table=None,
                target_table=None,
                threshold=config.threshold,
            )
        cfg = ValidationConfig(**{**config.__dict__, "validation_type": vtype})
        return build_column_validation_report(source, target, cfg, run_metadata)

    if vtype in (consts.COLUMN_VALIDATION, consts.GROUPED_COLUMN_VALIDATION):
        return build_column_validation_report(source, target, config, run_metadata)

    if vtype == consts.SCHEMA_VALIDATION:
        from ..schema_validation import schema_validation_report

        return schema_validation_report(
            spark or source.sparkSession,
            source,
            target,
            source_table=config.source_table,
            target_table=config.target_table,
            exclusion_fields=config.exclusion_columns or None,
            allow_list=config.allow_list,
            run_metadata=run_metadata,
        )

    if vtype == consts.ROW_VALIDATION:
        src, tgt = prepare_row_sides(config, source, target)
        cols = compared_columns(config, src.columns)
        fields = config.comparison_fields or None
        concat = cols if config.concat_columns is not None else None
        hashed = cols if not (fields or concat) else None
        if config.use_random_row:
            # reference --use-random-row/--random-row-batch-size
            # (cli_tools.py:567-578): sample N source PKs, validate only
            # those rows — here a broadcast semi-join, no IN-list chunking
            from ..operators.row_compare import random_row_compare

            return random_row_compare(
                src,
                tgt,
                config.primary_keys,
                num_rows=(
                    config.random_row_batch_size
                    or consts.DEFAULT_NUM_RANDOM_ROWS
                ),
                comparison_fields=fields,
                hash_columns=hashed,
                concat_columns=concat,
                run_metadata=run_metadata,
            )
        return row_compare(
            src,
            tgt,
            config.primary_keys,
            comparison_fields=fields,
            hash_columns=hashed,
            concat_columns=concat,
            run_metadata=run_metadata,
            source_table=config.source_table,
            target_table=config.target_table,
            trim_string_pks=config.trim_string_pks,
            case_insensitive=config.case_insensitive_match,
            threshold=config.threshold,
        )

    raise ValueError(f"unknown validation type {vtype!r}")
