"""Distributed combiner: align source & target results, diff, verdict.

Reference analog: data_validation/combiner.py — which executes per-field
inner/cross joins, a melt to long format via N unions, and two pandas outer
merges, all in driver memory (its central scalability limit, reference
docs/internal/partition_table_prd.md:5).

Spark-first re-expression (same observable semantics, one distributed plan):
- ONE full-outer join of source vs target on the group keys (Spark coalesces
  name-join keys) replaces the reference's inner-join-for-differences plus two
  outer-joins-of-pivots (reference combiner.py:226-233, 349-388): a row
  missing on either side yields NULL difference columns, and NULL
  validation_status is filled with 'fail' exactly like reference
  combiner.py:103.
- the melt to one-row-per-validation is a single ``explode(array(structs))``
  instead of N unions (reference combiner.py:260-263, 315).
- difference/threshold/status logic replicates reference
  combiner.py:118-210 branch by branch, including its quirks:
  * numeric branch with exactly one NULL side -> th_diff NULL -> 'success'
    (reference :195-204 falls through to else_);
  * value/string branch with exactly one NULL side -> 'fail' (:159-171);
  * float/decimal compared after cast('float') + round(4) (:132-142);
  * timestamps compared via epoch seconds (:126-128).
"""

from __future__ import annotations

import json
import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .config import consts
from .metadata import RunMetadata, ValidationMeta

_S = consts.VALIDATION_STATUS_SUCCESS
_F = consts.VALIDATION_STATUS_FAIL


def _is_type(field_type: str, *prefixes: str) -> bool:
    return any(field_type.startswith(p) for p in prefixes)


def _comparison_values(
    src: Column, tgt: Column, field_type: str, target_type: str | None
) -> tuple[Column, Column, bool]:
    """Pre-cast values per reference combiner.py:126-145.

    Returns (source_value, target_value, is_string_branch).
    """
    if _is_type(field_type, "timestamp", "date"):
        return (
            F.unix_timestamp(src.cast("timestamp")),
            F.unix_timestamp(tgt.cast("timestamp")),
            False,
        )
    if _is_type(field_type, "boolean") or (
        target_type and _is_type(target_type, "boolean")
    ):
        # numeric difference on booleans follows pandas semantics (True=1)
        return src.cast("boolean").cast("int"), tgt.cast("boolean").cast("int"), False
    if _is_type(field_type, "decimal", "double"):
        return (
            F.round(src.cast("float"), 4),
            F.round(tgt.cast("float"), 4),
            False,
        )
    if _is_type(field_type, "string", "binary", "void", "null"):
        return src, tgt, True
    return src, tgt, False


def _difference_exprs(
    src: Column,
    tgt: Column,
    meta: ValidationMeta,
    is_value_comparison: bool,
    both_present: Column,
) -> dict[str, Column]:
    """difference / pct_difference / pct_threshold / validation_status
    (reference combiner.py:118-210)."""
    src_v, tgt_v, string_branch = _comparison_values(
        src, tgt, meta.field_type, meta.target_field_type
    )
    threshold = F.lit(float(meta.threshold))

    if is_value_comparison or string_branch:
        difference = F.lit(None).cast("double")
        pct_difference = F.lit(None).cast("double")
        status = (
            F.when(src_v.isNull() & tgt_v.isNull(), F.lit(_S))
            .when(src_v == tgt_v, F.lit(_S))
            .otherwise(F.lit(_F))
        )
    else:
        difference = (tgt_v - src_v).cast("double")
        denom = F.nullif(
            F.when(src_v == F.lit(0), tgt_v).otherwise(src_v).cast("double"),
            F.lit(0.0),
        )
        pct_nonzero = (F.lit(100.0) * difference.cast("float") / denom).cast("double")
        pct_difference = (
            F.when(difference == F.lit(0), F.lit(0.0)).otherwise(pct_nonzero)
        )
        th_diff = (F.abs(pct_difference) - threshold).cast("double")
        status = (
            F.when(src_v.isNull() & tgt_v.isNull(), F.lit(_S))
            .when(F.isnan(th_diff) | (th_diff > F.lit(0.0)), F.lit(_F))
            .otherwise(F.lit(_S))
        )
    # rows missing on either side never reach the reference's difference
    # join (inner, combiner.py:226-229): NULL columns, status NULL -> 'fail'.
    return {
        "difference": F.when(both_present, difference),
        "pct_difference": F.when(both_present, pct_difference),
        "pct_threshold": F.when(both_present, threshold),
        "validation_status": F.coalesce(F.when(both_present, status), F.lit(_F)),
    }


def _json_escape(col: Column) -> Column:
    """reference combiner.py:319-329 (_as_json).

    Java ``replaceAll`` replacement semantics: ``\\X`` is an escape, so to
    EMIT backslash-quote the replacement must be ``\\\\\"`` (Python
    ``'\\\\\\\\"'``) — a bare ``\\"`` replacement collapses to a plain
    quote, which produced invalid JSON whenever a group-key value contained
    a double quote (caught by the round-4 --concat tests: concat__all
    carries raw text). Control chars (newline/tab/CR) are escaped too —
    they are as JSON-fatal as quotes in transcript text."""
    s = F.coalesce(col.cast("string"), F.lit("null"))
    # replacement `\\\\` -> two literal backslashes in Java semantics
    s = F.regexp_replace(s, r"\\", r"\\\\")
    # replacement `\\"` -> literal backslash + quote
    s = F.regexp_replace(s, '"', '\\\\"')
    s = F.regexp_replace(s, "\n", r"\\n")
    s = F.regexp_replace(s, "\r", r"\\r")
    s = F.regexp_replace(s, "\t", r"\\t")
    return s


def _group_by_columns_json(join_on_fields: tuple) -> Column:
    """'{"k": "v", ...}' built from the (coalesced) join key columns
    (reference combiner.py:332-347)."""
    if not join_on_fields:
        return F.lit(None).cast("string")
    parts = []
    for f in join_on_fields:
        parts.append(
            F.concat(
                F.lit(json.dumps(f) + ': "'), _json_escape(F.col(f)), F.lit('"')
            )
        )
    return F.concat(F.lit("{"), F.concat_ws(", ", *parts), F.lit("}"))


def align(
    source: DataFrame,
    target: DataFrame,
    keys,
    value_cols,
    null_safe: bool = False,
) -> DataFrame:
    """THE source-vs-target alignment: one full-outer join on ``keys``
    (a cross join without keys: column validations, one row a side).

    Output: the keys (coalesced across sides), ``__src_present`` /
    ``__tgt_present`` (TRUE, or NULL when the row is missing on that side)
    and ``__src_<c>`` / ``__tgt_<c>`` for every column in ``value_cols``.
    ``null_safe`` aligns NULL keys with ``<=>`` (pandas-merge semantics);
    it is still an equi-join, but its coalesce/isnull join keys defeat
    storage bucketing, so plain equality is the default.
    """
    keys = list(keys)
    src = source.select(
        *keys,
        F.lit(True).alias("__src_present"),
        *[F.col(c).alias(f"__src_{c}") for c in value_cols],
    )
    tgt = target.select(
        *keys,
        F.lit(True).alias("__tgt_present"),
        *[F.col(c).alias(f"__tgt_{c}") for c in value_cols],
    )
    if not keys:
        return src.crossJoin(tgt)
    if not null_safe:
        return src.join(tgt, keys, "full_outer")
    src = src.withColumnsRenamed({k: f"__sk_{k}" for k in keys})
    tgt = tgt.withColumnsRenamed({k: f"__tk_{k}" for k in keys})
    cond = reduce(
        operator.and_,
        [F.col(f"__sk_{k}").eqNullSafe(F.col(f"__tk_{k}")) for k in keys],
    )
    j = src.join(tgt, cond, "full_outer")
    return j.select(
        *[F.coalesce(f"__sk_{k}", f"__tk_{k}").alias(k) for k in keys],
        *[c for c in j.columns if not c.startswith(("__sk_", "__tk_"))],
    )


def any_differs(value_cols) -> Column:
    """On an ``align`` frame: some value column is not null-safe equal
    across the sides (both-NULL counts as equal, reference
    combiner.py:159-171)."""
    return reduce(
        operator.or_,
        [
            ~F.col(f"__src_{c}").eqNullSafe(F.col(f"__tgt_{c}"))
            for c in value_cols
        ],
        F.lit(False),
    )


REPORT_COLUMNS = [
    "validation_name",
    "validation_type",
    "aggregation_type",
    "source_table_name",
    "source_column_name",
    "source_agg_value",
    "target_table_name",
    "target_column_name",
    "target_agg_value",
    "group_by_columns",
    "primary_keys",
    "num_random_rows",
    "difference",
    "pct_difference",
    "pct_threshold",
    "validation_status",
    "run_id",
    "labels",
    "start_time",
    "end_time",
]


def generate_report(
    source: DataFrame,
    target: DataFrame,
    run_metadata: RunMetadata,
    join_on_fields: tuple = (),
    is_value_comparison: bool = False,
) -> DataFrame:
    """Combine source/target result sets into the 20-column report
    (schema per reference terraform/results_schema.json).

    ``source``/``target``: one column per validation name (+ join key
    columns); for Column validations one row total, for GroupedColumn one row
    per group, for Row validations one row per primary key.
    """
    join_on_fields = tuple(join_on_fields)
    if tuple(source.columns) != tuple(target.columns):
        raise ValueError(
            "Expected source and target to have same schema, got "
            f"source: {source.columns} target: {target.columns}"
        )

    validations = run_metadata.validations
    # hash__all / concat__all is both join key and validated field in row
    # validations (reference combiner.py:266-272; --concat mode compares
    # the raw concat, cli_tools.py:610-617)
    fields = [
        c
        for c in source.columns
        if c in validations
        and (c not in join_on_fields or c in ("hash__all", "concat__all"))
    ]
    src_types = {f.name: f.dataType.simpleString() for f in source.schema.fields}
    tgt_types = {f.name: f.dataType.simpleString() for f in target.schema.fields}

    value_cols = [c for c in source.columns if c not in join_on_fields]
    joined = align(source, target, join_on_fields, value_cols)

    src_present = F.coalesce(F.col("__src_present"), F.lit(False))
    tgt_present = F.coalesce(F.col("__tgt_present"), F.lit(False))
    both = src_present & tgt_present

    structs = []
    for name in fields:
        meta: ValidationMeta = validations[name]
        if meta.field_type is None or meta.field_type == "bigint":
            meta = ValidationMeta(
                **{**meta.__dict__, "field_type": src_types.get(name, "bigint"),
                   "target_field_type": tgt_types.get(name)}
            )
        s_col = F.col(f"__src_{name}") if name not in join_on_fields else F.col(name)
        t_col = F.col(f"__tgt_{name}") if name not in join_on_fields else F.col(name)
        diff = _difference_exprs(s_col, t_col, meta, is_value_comparison, both)

        fill_tables = meta.validation_type != consts.CUSTOM_QUERY
        src_table = (
            F.lit(meta.source_table_name)
            if fill_tables
            else F.when(src_present, F.lit(meta.source_table_name))
        )
        tgt_table = (
            F.lit(meta.target_table_name)
            if fill_tables
            else F.when(tgt_present, F.lit(meta.target_table_name))
        )
        pk_lit = (
            F.lit("{" + ", ".join(meta.primary_keys) + "}")
            if meta.primary_keys
            else F.lit(None).cast("string")
        )
        structs.append(
            F.struct(
                F.lit(name).alias("validation_name"),
                F.lit(meta.validation_type).alias("validation_type"),
                F.lit(meta.aggregation_type).cast("string").alias(
                    "aggregation_type"
                ),
                src_table.cast("string").alias("source_table_name"),
                F.when(src_present, F.lit(meta.source_column_name))
                .cast("string")
                .alias("source_column_name"),
                F.when(src_present, s_col.cast("string")).alias(
                    "source_agg_value"
                ),
                tgt_table.cast("string").alias("target_table_name"),
                F.when(tgt_present, F.lit(meta.target_column_name))
                .cast("string")
                .alias("target_column_name"),
                F.when(tgt_present, t_col.cast("string")).alias(
                    "target_agg_value"
                ),
                F.when(src_present, pk_lit).alias("primary_keys"),
                F.when(src_present, F.lit(meta.num_random_rows))
                .cast("long")
                .alias("num_random_rows"),
                diff["difference"].alias("difference"),
                diff["pct_difference"].alias("pct_difference"),
                diff["pct_threshold"].alias("pct_threshold"),
                diff["validation_status"].alias("validation_status"),
            )
        )

    exploded = joined.select(
        _group_by_columns_json(join_on_fields).alias("group_by_columns"),
        F.explode(F.array(*structs)).alias("__r"),
    )
    report = exploded.select(
        "__r.validation_name",
        "__r.validation_type",
        "__r.aggregation_type",
        "__r.source_table_name",
        "__r.source_column_name",
        "__r.source_agg_value",
        "__r.target_table_name",
        "__r.target_column_name",
        "__r.target_agg_value",
        "group_by_columns",
        "__r.primary_keys",
        "__r.num_random_rows",
        "__r.difference",
        "__r.pct_difference",
        "__r.pct_threshold",
        "__r.validation_status",
        F.lit(run_metadata.run_id).alias("run_id"),
        F.lit(json.dumps(run_metadata.labels)).alias("labels"),
        F.lit(run_metadata.start_time).alias("start_time"),
        F.current_timestamp().alias("end_time"),
    )
    return report
