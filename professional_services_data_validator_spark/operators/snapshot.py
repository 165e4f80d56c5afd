"""Snapshot-diff validation: classify row changes between two versions of
the same table (added / removed / changed / unchanged) and roll the counts
up per partition.

North-rule fit: the production table is an Iceberg table of transcripts;
between two snapshots a validation run wants "what changed since the last
validated snapshot" — both the row-level delta (which PKs were
added/removed/mutated) and the per-partition change summary that decides
which partitions the resumable validation must re-check (only partitions
with n_added+n_removed+n_changed > 0 need their lineage verdicts
invalidated; untouched partitions keep their 'success' rows).

Reference analog: DVT expresses this as a row validation run between the
two table versions (generate-table-partitions + validate row, reference
cli_tools.py:240-320); the reference has no first-class diff classifier —
its row validation only reports mismatches/missing. Here the SAME one
full-outer-join plan also labels adds vs removes vs mutations and feeds a
partition-level rollup, so one pass answers both "what rows changed" and
"which partitions must be revalidated".

Scale posture (identical to row_compare.row_violations):
- each side is projected map-side to (pks, partition value, 32-byte binary
  sha256) BEFORE the exchange, so the shuffle carries ~50 bytes/row;
- ONE full-outer sort-merge join on the PK per diff (``combiner.align``,
  the kernel row validation uses; shuffle-free zip on conv_id-bucketed
  snapshots); AQE skew-split handles hot keys;
- the row-level output is a *filter* on the join (unchanged rows — the
  overwhelming majority between adjacent snapshots — are never
  materialized), and the summary is a map-side-combined count aggregate
  folding the joined stream, so nothing O(rows) ever hits the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..combiner import align
from ..functions.calculated import build_row_hash, hash_part

#: diff_status values, in output-severity order
ADDED = "added"
REMOVED = "removed"
CHANGED = "changed"
UNCHANGED = "unchanged"


def _project(
    df: DataFrame,
    primary_keys: list[str],
    compare_columns: list[str] | None,
    partition_col: Column | None,
    trim_strings: bool,
    case_insensitive: bool,
    detail: bool = False,
) -> tuple[DataFrame, list[str]]:
    """Map-side projection: pks [+ partition value] + 32-byte binary row
    hash over the compare columns (defaults to every non-PK column, in
    table column order — the reference's hash '*' expansion order).
    ``detail`` adds one xxhash64 per compare column (8 bytes each through
    the shuffle) so the join can name WHICH columns changed."""
    cols = (
        [c for c in df.columns if c not in primary_keys]
        if compare_columns is None
        else list(compare_columns)
    )
    hashed = build_row_hash(
        df, cols, trim_strings=trim_strings, case_insensitive=case_insensitive
    ).withColumn("hash__all", F.unhex("hash__all"))
    proj = [F.col(pk) for pk in primary_keys]
    if partition_col is not None:
        proj.append(partition_col.alias("partition_id"))
    proj.append(F.col("hash__all"))
    if detail:
        proj += [
            F.xxhash64(hash_part(c, trim_strings, case_insensitive)).alias(
                f"__colh_{c}"
            )
            for c in cols
        ]
    return hashed.select(*proj), cols


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    primary_keys: list[str],
    compare_columns: list[str] | None = None,
    partition_col: Column | None = None,
    trim_strings: bool = True,
    case_insensitive: bool = False,
    null_safe_pks: bool = False,
    detail: bool = False,
) -> DataFrame:
    """Full classified diff: one row per PK present in either snapshot.

    Output: primary keys (coalesced), ``partition_id`` when
    ``partition_col`` is given (coalesced across sides, so removed rows
    keep the old snapshot's partition and added rows the new one's), and
    ``diff_status`` in {added, removed, changed, unchanged}.

    ``partition_col`` is evaluated against EACH side before the join
    (e.g. ``F.date_format("ts", "yyyy-MM-dd")``), so it may reference any
    input column even though only pks+hash travel through the shuffle.

    ``null_safe_pks``: join PKs with ``<=>`` so NULL keys align instead
    of reporting as added+removed. OFF by default: real PKs are non-null,
    and the null-safe condition compiles to coalesce/isnull join keys
    that defeat storage bucketing — with plain equality, two snapshots
    bucketed+sorted on the PK diff with ZERO exchanges
    (tests/test_bucketed_join.py).
    """
    (o, cols), (n, _) = (
        _project(side, primary_keys, compare_columns, partition_col,
                 trim_strings, case_insensitive, detail)
        for side in (old, new)
    )
    det = [f"__colh_{c}" for c in cols] if detail else []
    part = ["partition_id"] if partition_col is not None else []
    j = align(o, n, primary_keys, part + ["hash__all"] + det,
              null_safe=null_safe_pks)
    status = (
        F.when(F.col("__src_present").isNull(), F.lit(ADDED))
        .when(F.col("__tgt_present").isNull(), F.lit(REMOVED))
        .when(F.col("__src_hash__all") == F.col("__tgt_hash__all"),
              F.lit(UNCHANGED))
        .otherwise(F.lit(CHANGED))
    )
    out = [F.col(pk) for pk in primary_keys]
    if partition_col is not None:
        out.append(
            F.coalesce("__src_partition_id", "__tgt_partition_id").alias(
                "partition_id"
            )
        )
    out.append(status.alias("diff_status"))
    if detail:
        # name the differing columns; NULL for added/removed/unchanged
        diffs = F.array_compact(
            F.array(*[
                F.when(
                    F.col(f"__src___colh_{c}") != F.col(f"__tgt___colh_{c}"),
                    F.lit(c),
                )
                for c in cols
            ])
        )
        out.append(
            F.when(status == CHANGED, diffs).alias("changed_columns")
        )
    return j.select(*out)


def snapshot_diff_rows(
    old: DataFrame,
    new: DataFrame,
    primary_keys: list[str],
    compare_columns: list[str] | None = None,
    partition_col: Column | None = None,
    **kw,
) -> DataFrame:
    """Row-level delta only: the diff filtered to status != unchanged —
    between adjacent snapshots this is tiny, the join never materializes
    the unchanged majority."""
    d = snapshot_diff(
        old, new, primary_keys, compare_columns, partition_col, **kw
    )
    return d.filter(F.col("diff_status") != UNCHANGED)


def snapshot_diff_summary(
    old: DataFrame,
    new: DataFrame,
    primary_keys: list[str],
    partition_col: Column,
    compare_columns: list[str] | None = None,
    **kw,
) -> DataFrame:
    """Per-partition change rollup: (partition_id, n_added, n_removed,
    n_changed, n_unchanged, revalidate) — ``revalidate`` marks partitions
    whose lineage 'success' verdicts a resumable run must invalidate.

    The counts fold the joined stream with a map-side-combined aggregate;
    output cardinality is O(partitions)."""
    d = snapshot_diff(
        old, new, primary_keys, compare_columns, partition_col, **kw
    )

    def _n(s: str) -> Column:
        return F.count(F.when(F.col("diff_status") == s, 1))

    g = d.groupBy("partition_id").agg(
        _n(ADDED).alias("n_added"),
        _n(REMOVED).alias("n_removed"),
        _n(CHANGED).alias("n_changed"),
        _n(UNCHANGED).alias("n_unchanged"),
    )
    dirty = (
        (F.col("n_added") > 0)
        | (F.col("n_removed") > 0)
        | (F.col("n_changed") > 0)
    )
    return g.withColumn("revalidate", dirty)
