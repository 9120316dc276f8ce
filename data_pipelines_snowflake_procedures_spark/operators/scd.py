"""SCD Type-1 incremental merge (reference G1/W1/J4, SURVEY.md §2.12).

Parity target: the merge contract the reference's code generator emits
(CODE_GENERATOR.sql:39-59): the source is deduplicated to the latest
record per business key (ordered by a CREATED_AT-style column), then
matched target rows are replaced with the latest source data and
unmatched source rows are inserted.

Spark-first execution (:func:`scd1_merge`): a pure DataFrame plan —
``target LEFT ANTI JOIN dedup_source ON keys`` keeps unmatched target
rows, then ``unionByName`` with the deduplicated source. Both sides
shuffle once on the business key; AQE picks broadcast-hash when the
source increment is small (the common SCD case: daily increment ≪
accumulated target), so at 100 TB target / GB-scale increment the
target side never shuffles at all.

The dedup step (:func:`dedup_latest`) is the reference's W1 window —
``row_number() OVER (PARTITION BY keys ORDER BY order_col DESC)``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dedup_latest(
    source: DataFrame,
    keys: Sequence[str],
    order_col: str,
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """W1: keep only the latest record per key by ``order_col`` desc
    (CODE_GENERATOR.sql:45,56 contract). ``tiebreakers`` make the
    choice deterministic when ``order_col`` ties — the reference
    leaves ties engine-defined; we pin them so results are stable
    across runs and comparable to an oracle."""
    order = [F.desc(order_col)] + [F.desc(t) for t in tiebreakers]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        source.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def scd1_merge(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    order_col: str | None = None,
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """SCD1 merge as a DataFrame plan (G1).

    ``order_col=None`` skips dedup (source already unique per key).
    Output schema is the target's column set.
    """
    src = (
        dedup_latest(source, keys, order_col, tiebreakers)
        if order_col is not None
        else source
    )
    src = src.select(*target.columns)
    keep = target.join(src, on=list(keys), how="left_anti")
    return keep.unionByName(src)


def scd2_merge(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    change_cols: Sequence[str],
    effective_col: str,
    from_col: str = "effective_from",
    to_col: str = "effective_to",
    current_col: str = "is_current",
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """SCD Type-2 merge: history-preserving upsert (the natural
    extension of the reference's SCD1 contract — G1 keeps only the
    latest row; SCD2 closes it instead).

    ``target`` carries ``from_col``/``to_col``/``current_col`` tracking
    columns; ``source`` carries business columns + ``effective_col``
    (the change timestamp). Per business key:

    * source row differs from the current target row on any
      ``change_cols`` → close the current row (``to_col`` = source
      effective time, ``current_col`` = false) and insert the source
      row as the new current version;
    * source row identical on ``change_cols`` → target unchanged;
    * new key → insert as current.

    One window over the source (latest-per-key) + one shuffle join of
    current target rows against the source on the business key;
    historical (non-current) rows pass through untouched — at scale,
    partition the target by ``current_col`` so the closed majority of
    a 100 TB dimension is never read.
    """
    keys = list(keys)
    tracking = (from_col, to_col, current_col)
    business = [c for c in target.columns if c not in tracking]

    latest = dedup_latest(source, keys, effective_col, tiebreakers)
    src = latest.select(
        *[F.col(c).alias(f"s_{c}") for c in business],
        F.col(effective_col).alias("s_eff"),
    )

    history = target.filter(~F.col(current_col))
    current = target.filter(F.col(current_col))
    joined = current.join(
        src, on=[F.col(k) == F.col(f"s_{k}") for k in keys], how="left"
    )
    matched = F.col(f"s_{keys[0]}").isNotNull()
    differs = sum(
        (~F.col(c).eqNullSafe(F.col(f"s_{c}"))).cast("int") for c in change_cols
    ) > 0
    changed = matched & differs

    untouched = joined.filter(~changed).select(*target.columns)
    closed = joined.filter(changed).select(
        *business,
        F.col(from_col),
        F.col("s_eff").alias(to_col),
        F.lit(False).alias(current_col),
    ).select(*target.columns)

    def as_current(rows: DataFrame) -> DataFrame:
        return rows.select(
            *[F.col(f"s_{c}").alias(c) for c in business],
            F.col("s_eff").alias(from_col),
            F.lit(None).cast(target.schema[to_col].dataType).alias(to_col),
            F.lit(True).alias(current_col),
        ).select(*target.columns)

    new_versions = as_current(joined.filter(changed))
    inserts = as_current(
        src.join(current, on=[F.col(f"s_{k}") == F.col(k) for k in keys], how="left_anti")
    )
    return (
        history.unionByName(untouched)
        .unionByName(closed)
        .unionByName(new_versions)
        .unionByName(inserts)
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """Change-data-capture DIFF between two table snapshots: the
    detection complement of :func:`scd1_merge` (which APPLIES changes).
    Emits one row per changed key with ``op`` ∈ {insert, update,
    delete} — exactly the change stream a downstream incremental
    pipeline consumes when the source
    system has no CDC log of its own.

    One full-outer join on the key; change detection is a
    null-safe (<=>) comparison per ``compare_cols`` so NULL→value and
    value→NULL transitions register as updates. At 100 TB both
    snapshots are bucketed/partitioned on the key so the join is
    co-located, and unchanged rows — the overwhelming majority — are
    filtered before anything materializes.

    Output: keys…, ``op``, and ``<col>_old`` / ``<col>_new`` for every
    compared column (NULL on the absent side of inserts/deletes).
    """
    keys = list(keys)
    # indicator columns ride in the SAME join, distinguishing "row
    # absent" from "row present with NULL values" without a second
    # full-outer pass over both snapshots
    o = old.select(
        *keys,
        F.lit(1).alias("__in_old"),
        *[F.col(c).alias(f"{c}_old") for c in compare_cols],
    )
    n = new.select(
        *keys,
        F.lit(1).alias("__in_new"),
        *[F.col(c).alias(f"{c}_new") for c in compare_cols],
    )
    joined = o.join(n, keys, "full_outer")
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"{c}_old").eqNullSafe(F.col(f"{c}_new"))
    op = (
        F.when(F.col("__in_old").isNull(), F.lit("insert"))
        .when(F.col("__in_new").isNull(), F.lit("delete"))
        .when(changed, F.lit("update"))
    )
    return (
        joined.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(*keys, "op", *[f"{c}_old" for c in compare_cols],
                *[f"{c}_new" for c in compare_cols])
    )
