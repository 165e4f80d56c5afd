"""Row validation: PK-aligned row comparison, distributed.

Reference analog: Row validation (reference data_validation/config_manager.py
:1097-1161 hash expansion, data_validation/data_validation.py:294-305 PK join
semantics, combiner value-comparison branch combiner.py:147-171). The
reference materializes both row sets in driver pandas and recursively drills
down failing groups (data_validation.py:175-271) because it cannot join at
scale; here the alignment IS a distributed full-outer join
(``combiner.align``, the one kernel every source-vs-target diff shares), so
drilldown is unnecessary — violations come straight out of the join.

Scale posture:
- the join shuffles both sides by PK once; with bucketed/partitioned Iceberg
  tables co-partitioned on conv_id this becomes a shuffle-free zip.
- AQE skew-join splitting handles hot conv_ids
  (spark.sql.adaptive.skewJoin.enabled, set in session.py).
- violations are a *filter* on the join, so the full report never
  materializes anywhere; per-partition verdicts are a groupBy over the join.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import ComparisonFieldSpec, consts
from ..functions.calculated import build_row_hash
from ..metadata import RunMetadata, ValidationMeta
from ..combiner import align, any_differs, generate_report


def _prepare(
    df: DataFrame,
    primary_keys: list[str],
    comparison_fields: list[ComparisonFieldSpec] | None,
    hash_columns,
    trim_string_pks: bool,
    case_insensitive: bool,
    hash_algo: str = "sha256",
    binary_hash: bool = False,
) -> tuple[DataFrame, list[str]]:
    """Project to PK + comparison columns (either explicit fields or one
    row hash — sha256 by default, farm_fingerprint/xxhash64 fast path).

    ``binary_hash``: carry the sha256 through the shuffle as 32 raw bytes
    instead of 64 hex chars — measured 2.1x end-to-end on the 4M-turn row
    validation at local[16] (half the shuffle payload + cheap byte
    comparison); callers hex it back only on the (tiny) violation output.

    ``trim_string_pks``: rtrim string-typed PK columns before the join
    (reference --trim-string-pks, query_builder.py:202-228 ComparisonField
    trim) so CHAR-padded keys align.
    """
    if trim_string_pks:
        from pyspark.sql import types as T

        stypes = {f.name: f.dataType for f in df.schema.fields}
        trims = {
            pk: F.rtrim(F.col(pk))
            for pk in primary_keys
            if isinstance(stypes.get(pk), T.StringType)
        }
        if trims:
            df = df.withColumns(trims)
    if hash_columns is not None:
        cols = (
            [c for c in df.columns if c not in primary_keys]
            if hash_columns == "*"
            else list(hash_columns)
        )
        if hash_algo == "concat":
            # reference --concat (cli_tools.py:610-617): the same
            # cast->ifnull->rstrip->[upper]->concat chain as --hash but the
            # RAW concat is the compared value (config_manager.py:1071-1072
            # order_of_operations stops at 'concat'); column concat__all
            out = build_row_hash(
                df, cols, case_insensitive=case_insensitive,
                algo="concat", hash_name="concat__all",
            )
            return (
                out.select(*primary_keys, "concat__all"), ["concat__all"]
            )
        hashed = build_row_hash(
            df, cols, case_insensitive=case_insensitive, algo=hash_algo
        )
        if binary_hash and hash_algo == "sha256":
            hashed = hashed.withColumn("hash__all", F.unhex("hash__all"))
        out = hashed.select(*primary_keys, "hash__all")
        return out, ["hash__all"]
    names = []
    proj = [F.col(pk) for pk in primary_keys]
    for spec in comparison_fields or []:
        col = F.col(spec.column)
        if spec.cast:
            col = col.cast(spec.cast)
        proj.append(col.alias(spec.validation_name))
        names.append(spec.validation_name)
    return df.select(*proj), names


def row_compare(
    source: DataFrame,
    target: DataFrame,
    primary_keys: list[str],
    comparison_fields: list[ComparisonFieldSpec] | None = None,
    hash_columns=None,
    concat_columns=None,
    run_metadata: RunMetadata | None = None,
    source_table: str = "source",
    target_table: str = "target",
    trim_string_pks: bool = False,
    case_insensitive: bool = False,
    threshold: float = 0.0,
) -> DataFrame:
    """Full reference-parity row-validation report (one report row per PK per
    compared field). Use ``row_violations``/``row_compare_verdicts`` for the
    scale path — this full report is reference semantics, O(rows) output.

    ``concat_columns`` ('*' or list): reference --concat mode — compare the
    raw cast->ifnull->rstrip concat (column concat__all) instead of its
    sha256. Mutually exclusive with hash_columns/comparison_fields."""
    run_metadata = run_metadata or RunMetadata()
    algo = "sha256"
    if concat_columns is not None:
        if hash_columns is not None or comparison_fields:
            raise ValueError(
                "concat_columns is mutually exclusive with "
                "hash_columns/comparison_fields"
            )
        hash_columns, algo = concat_columns, "concat"
    (src_prep, fields), (tgt_prep, _) = (
        _prepare(side, primary_keys, comparison_fields, hash_columns,
                 trim_string_pks, case_insensitive, hash_algo=algo)
        for side in (source, target)
    )
    join_on = list(primary_keys) + (fields if hash_columns is not None else [])
    for name in fields:
        run_metadata.validations[name] = ValidationMeta(
            name=name,
            validation_type=consts.ROW_VALIDATION,
            aggregation_type=None,
            source_table_name=source_table,
            source_column_name=(
                name if name not in ("hash__all", "concat__all") else None
            ),
            target_table_name=target_table,
            target_column_name=(
                name if name not in ("hash__all", "concat__all") else None
            ),
            threshold=threshold,
            primary_keys=tuple(primary_keys),
            field_type=dict(
                (f.name, f.dataType.simpleString()) for f in src_prep.schema.fields
            ).get(name, "string"),
        )
    return generate_report(
        src_prep,
        tgt_prep,
        run_metadata,
        join_on_fields=tuple(join_on),
        is_value_comparison=True,
    )


def row_violations(
    source: DataFrame,
    target: DataFrame,
    primary_keys: list[str],
    hash_columns="*",
    case_insensitive: bool = False,
    hash_algo: str = "sha256",
    null_safe_pks: bool = False,
) -> DataFrame:
    """Scale path: only the violating rows come back.

    Output: (pks..., violation_type in {missing_in_target, missing_in_source,
    hash_mismatch}, source_hash, target_hash).

    ``hash_algo='farm_fingerprint'`` swaps sha256 for xxhash64 (measured
    1.4x end-to-end at 4M turns — the PK shuffle dominates; same join
    shape); ``null_safe_pks`` aligns NULL PKs with <=>.
    """
    binary = hash_algo == "sha256"
    (src_prep, fields), (tgt_prep, _) = (
        _prepare(side, primary_keys, None, hash_columns, False,
                 case_insensitive, hash_algo, binary_hash=binary)
        for side in (source, target)
    )
    cmp_col = fields[0]  # hash__all, or concat__all under --concat mode
    j = align(src_prep, tgt_prep, primary_keys, [cmp_col],
              null_safe=null_safe_pks)
    src_p = F.col("__src_present").isNotNull()
    tgt_p = F.col("__tgt_present").isNotNull()
    vtype = (
        F.when(~tgt_p, F.lit("missing_in_target"))
        .when(~src_p, F.lit("missing_in_source"))
        .when(
            F.col(f"__src_{cmp_col}") != F.col(f"__tgt_{cmp_col}"),
            F.lit("hash_mismatch"),
        )
    )
    # hex back only on the (tiny) violation output, preserving the public
    # lowercase-hex contract while the O(rows) shuffle stays binary
    def _out(c):
        col = F.col(c)
        return F.lower(F.hex(col)) if binary else col

    return (
        j.withColumn("violation_type", vtype)
        .filter(F.col("violation_type").isNotNull())
        .select(
            *primary_keys,
            "violation_type",
            _out(f"__src_{cmp_col}").alias("source_hash"),
            _out(f"__tgt_{cmp_col}").alias("target_hash"),
        )
    )


def random_row_compare(
    source: DataFrame,
    target: DataFrame,
    primary_keys: list[str],
    num_rows: int = consts.DEFAULT_NUM_RANDOM_ROWS,
    seed: int = 42,
    comparison_fields: list[ComparisonFieldSpec] | None = None,
    hash_columns="*",
    concat_columns=None,
    run_metadata: RunMetadata | None = None,
) -> DataFrame:
    """Random-row validation (reference --use-random-row,
    random_row_builder.py:86-104): sample N source PKs, compare only those
    rows. The reference renders the sampled PKs into IN-lists chunked per
    engine limit (validation_builder.py:69-88); here the sample is a
    broadcast semi-join — no SQL-text limits, one scan per side."""
    from .sampling import deterministic_sample

    sample_keys = F.broadcast(
        deterministic_sample(
            source.select(*primary_keys), primary_keys, n=num_rows, seed=seed
        )
    )
    src = source.join(sample_keys, primary_keys, "left_semi")
    tgt = target.join(sample_keys, primary_keys, "left_semi")
    rm = run_metadata or RunMetadata()
    report = row_compare(
        src, tgt, primary_keys,
        comparison_fields=comparison_fields,
        hash_columns=(
            hash_columns
            if comparison_fields is None and concat_columns is None
            else None
        ),
        concat_columns=concat_columns,
        run_metadata=rm,
    )
    return report.withColumn("num_random_rows", F.lit(num_rows).cast("long"))


def row_compare_verdicts(
    source: DataFrame,
    target: DataFrame,
    primary_keys: list[str],
    partition_col,
    hash_columns="*",
    comparison_fields: list[ComparisonFieldSpec] | None = None,
    case_insensitive: bool = False,
    trim_string_pks: bool = False,
) -> DataFrame:
    """Per-partition verdicts in ONE pass over the PK join.

    ``partition_col``: Column expression computing the partition id from the
    coalesced PK columns (e.g. day(ts) carried in the PK set, or a conv_id
    bucket). Output: one row per partition with matched/mismatch/missing
    counts and a pass/fail verdict — this is the lineage-table payload.

    Honors the same comparison semantics as ``row_compare`` (ADVICE r2:
    verdicts must not diverge from the report): explicit
    ``comparison_fields`` compare null-safely per field; otherwise the
    ``hash_columns`` row hash is used with the same case-insensitivity and
    PK-trim flags. Callers pass frames with the config's calculated fields
    and filters already applied (``plans.compiler.prepare_row_sides``).
    """
    use_hash = comparison_fields is None
    hc = hash_columns if use_hash else None
    (src_prep, fields), (tgt_prep, _) = (
        _prepare(side, primary_keys, comparison_fields, hc,
                 trim_string_pks, case_insensitive, binary_hash=use_hash)
        for side in (source, target)
    )
    j = align(src_prep, tgt_prep, primary_keys, fields)
    src_p = F.col("__src_present").isNotNull()
    tgt_p = F.col("__tgt_present").isNotNull()
    mism = src_p & tgt_p & any_differs(fields)
    return (
        j.groupBy(partition_col.alias("partition_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((src_p & tgt_p & ~mism).cast("long")).alias("n_matched"),
            F.sum(mism.cast("long")).alias("n_hash_mismatch"),
            F.sum((~tgt_p).cast("long")).alias("n_missing_in_target"),
            F.sum((~src_p).cast("long")).alias("n_missing_in_source"),
        )
        .withColumn(
            "validation_status",
            F.when(
                (F.col("n_hash_mismatch") == 0)
                & (F.col("n_missing_in_target") == 0)
                & (F.col("n_missing_in_source") == 0),
                F.lit(consts.VALIDATION_STATUS_SUCCESS),
            ).otherwise(F.lit(consts.VALIDATION_STATUS_FAIL)),
        )
    )


def violation_rate_gate(
    source: DataFrame,
    target: DataFrame,
    primary_keys: list[str],
    compare_cols: list[str],
    day_col: str = "ts",
    threshold: float = 0.01,
    z: float = 1.96,
) -> DataFrame:
    """Statistical pass/fail gate on the per-day row-violation RATE: a raw
    rate of 3/100 and 3/1,000,000 carry very different evidence, so the
    verdict compares the WILSON SCORE upper confidence bound — not the
    point estimate — against the tolerated rate. Small partitions only
    fail when they contain enough evidence; huge partitions fail on tiny
    but statistically solid violation rates. (The reference gates on
    point-estimate thresholds only, combiner.py status logic; the interval
    gate is the scale extension — at 10^12 turns per-partition sample
    sizes vary by orders of magnitude.)

    A violation is a PK present on only one side, or any compare column
    differing null-safely. Plan: the shared ``combiner.align`` full-outer
    join on the PKs (the same kernel as row_violations — shuffle-free when
    both sides are bucketed by PK), then ONE day aggregate; the Wilson bounds
    (p + z^2/2n -/+ z*sqrt(p(1-p)/n + z^2/4n^2)) / (1 + z^2/n)
    are closed-form per group, no second pass. The verdict fails when
    the LOWER bound clears ``threshold`` (solid evidence of excess);
    the upper bound is reported so callers can distinguish "certified
    clean" (upper <= threshold) from "insufficient evidence".

    Output per day (ordered): (day, n_rows, n_violations, rate 6dp,
    wilson_lower 6dp, wilson_upper 6dp, validation_status).
    """
    day_is_key = day_col in primary_keys
    value_cols = list(dict.fromkeys(
        list(compare_cols) + ([] if day_is_key else [day_col])
    ))
    j = align(source, target, primary_keys, value_cols)
    viol = (
        F.col("__src_present").isNull()
        | F.col("__tgt_present").isNull()
        | any_differs(compare_cols)
    )
    day = F.date_format(
        F.col(day_col) if day_is_key
        else F.coalesce(f"__src_{day_col}", f"__tgt_{day_col}"),
        "yyyy-MM-dd",
    ).alias("day")
    g = (
        j.select(day, viol.cast("int").alias("v"))
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("v").cast("long").alias("n_violations"),
        )
    )
    n = F.col("n_rows")
    p = F.col("n_violations") / n
    z2 = F.lit(z * z)
    half = z2 / (2 * n)
    margin = F.lit(z) * F.sqrt(p * (1 - p) / n + z2 / (4 * n * n))
    denom = 1 + z2 / n
    wilson_lower = (p + half - margin) / denom
    wilson_upper = (p + half + margin) / denom
    # fail only on EVIDENCE: the interval's lower bound must clear the
    # tolerated rate (gating on the upper bound would fail every small
    # partition as merely "uncertifiable")
    return g.select(
        "day",
        "n_rows",
        "n_violations",
        F.round(p, 6).alias("rate"),
        F.round(wilson_lower, 6).alias("wilson_lower"),
        F.round(wilson_upper, 6).alias("wilson_upper"),
        F.when(
            wilson_lower > threshold,
            F.lit(consts.VALIDATION_STATUS_FAIL),
        )
        .otherwise(F.lit(consts.VALIDATION_STATUS_SUCCESS))
        .alias("validation_status"),
    ).orderBy("day")


def row_tolerance_violations(
    source: DataFrame,
    target: DataFrame,
    primary_keys: list[str],
    value_cols: list[str],
    rel_tol: float = 1e-9,
    abs_tol: float = 0.0,
) -> DataFrame:
    """Numeric row validation with tolerance: exact hash compare
    (row_violations) calls ANY bit difference a violation, but floating
    point columns legitimately differ across engines/rewrites by ULPs —
    the reference's own cross-engine use case. A value pair passes when
    |s - t| <= max(abs_tol, rel_tol * max(|s|, |t|)); exactly-one-side
    NULL or exactly-one-side NaN is always a violation (both-NULL and
    both-NaN pass: no information changed).

    Plan: ONE inner PK join (shuffle-free when both sides are bucketed by
    PK; rows missing a side belong to row_violations, not here), the
    per-column checks as a map-side explode(array(structs)) melt, and a
    filter — only violating (row, column) pairs survive, so output is
    rare-row sized.

    Output: (pks..., column, source_value, target_value, abs_diff,
    rel_diff, reason in {exceeds_tolerance, null_mismatch, nan_mismatch}),
    ordered by (pks, column).
    """
    s = source.select(
        *primary_keys,
        *[F.col(c).cast("double").alias(f"__s_{c}") for c in value_cols],
    )
    t = target.select(
        *primary_keys,
        *[F.col(c).cast("double").alias(f"__t_{c}") for c in value_cols],
    )
    j = s.join(t, primary_keys)

    entries = []
    for c in value_cols:
        sv, tv = F.col(f"__s_{c}"), F.col(f"__t_{c}")
        null_mismatch = sv.isNull() != tv.isNull()
        nan_mismatch = (
            sv.isNotNull()
            & tv.isNotNull()
            & (F.isnan(sv) != F.isnan(tv))
        )
        both_num = (
            sv.isNotNull() & tv.isNotNull() & ~F.isnan(sv) & ~F.isnan(tv)
        )
        bound = F.greatest(
            F.lit(abs_tol), F.lit(rel_tol) * F.greatest(F.abs(sv), F.abs(tv))
        )
        exceeds = both_num & (F.abs(sv - tv) > bound)
        reason = (
            F.when(null_mismatch, F.lit("null_mismatch"))
            .when(nan_mismatch, F.lit("nan_mismatch"))
            .when(exceeds, F.lit("exceeds_tolerance"))
        )
        entries.append(
            F.struct(
                F.lit(c).alias("column"),
                sv.alias("source_value"),
                tv.alias("target_value"),
                F.when(both_num, F.abs(sv - tv)).alias("abs_diff"),
                F.when(
                    both_num & (F.greatest(F.abs(sv), F.abs(tv)) > 0),
                    F.abs(sv - tv) / F.greatest(F.abs(sv), F.abs(tv)),
                ).alias("rel_diff"),
                reason.alias("reason"),
            )
        )
    melted = j.select(
        *primary_keys, F.explode(F.array(*entries)).alias("e")
    ).filter(F.col("e.reason").isNotNull())
    return melted.select(
        *primary_keys,
        "e.column",
        "e.source_value",
        "e.target_value",
        "e.abs_diff",
        "e.rel_diff",
        "e.reason",
    ).orderBy(*primary_keys, "column")


def mismatch_severity(
    source: DataFrame,
    target: DataFrame,
    primary_keys: list[str],
    text_col: str = "text",
    minor: float = 0.9,
    partial: float = 0.7,
) -> DataFrame:
    """Classify text mismatches by HOW different they are: a row-hash
    violation says only that bytes changed; triage needs to know whether
    the target text is a minor edit (encoding fix, trailing whitespace),
    a partial rewrite, or unrelated content. Severity comes from Jaro
    similarity (same public algorithm as sources/readers.jaro_similarity,
    verified value-identical to DuckDB's jaro_similarity built-in).

    Plan: ONE inner PK join filtered to null-safe text mismatches FIRST —
    the Arrow-batched pandas UDF (the only Python here) runs over the
    RARE mismatching rows, never the corpus; the rollup is O(severity
    classes).

    Output: (severity in {null_change, minor_edit, partial_rewrite,
    rewrite}, n, avg_sim 6dp, min_sim 6dp) ordered by severity.
    """
    from pyspark.sql.functions import pandas_udf

    from ..sources.readers import jaro_similarity

    @pandas_udf("double")
    def _jaro(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None
                if x is None or y is None
                else jaro_similarity(str(x), str(y))
                for x, y in zip(a, b)
            ],
            dtype="float64",
        )

    s = source.select(
        *primary_keys, F.col(text_col).alias("__s_text")
    )
    t = target.select(
        *primary_keys, F.col(text_col).alias("__t_text")
    )
    mismatched = s.join(t, primary_keys).filter(
        ~F.col("__s_text").eqNullSafe(F.col("__t_text"))
    )
    scored = mismatched.select(
        _jaro("__s_text", "__t_text").alias("sim"),
        (
            F.col("__s_text").isNull() | F.col("__t_text").isNull()
        ).alias("has_null"),
    )
    severity = (
        F.when(F.col("has_null"), F.lit("null_change"))
        .when(F.col("sim") >= minor, F.lit("minor_edit"))
        .when(F.col("sim") >= partial, F.lit("partial_rewrite"))
        .otherwise(F.lit("rewrite"))
    )
    return (
        scored.groupBy(severity.alias("severity"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("sim"), 6).alias("avg_sim"),
            F.round(F.min("sim"), 6).alias("min_sim"),
        )
        .orderBy("severity")
    )
