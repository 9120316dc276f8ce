"""Cross-table consistency: referential-integrity checks.

The reference's consistency pillar is intra-table only (pairwise
functional dependencies, Data_Discovery_File.sql:97-143) with a
hardcoded 1.0 stub in the table engine (Data_Quality_Table.sql:163-169)
— cross-table rules are the obvious missing piece for a warehouse DQ
engine, so this module adds them natively.

Scale design: every check is an anti-join or semi-join over DISTINCT
key projections — the shuffle carries distinct keys, not rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def referential_integrity(
    child: DataFrame,
    parent: DataFrame,
    fk_col: str,
    pk_col: str,
) -> DataFrame:
    """Orphan analysis for one FK relation: distinct child keys with
    no matching parent key. Output one row:
    (n_child_keys, n_orphan_keys, integrity_ratio).
    """
    child_keys = child.select(F.col(fk_col).alias("k")).filter(
        F.col("k").isNotNull()
    ).distinct()
    parent_keys = parent.select(F.col(pk_col).alias("k")).distinct()
    orphans = child_keys.join(parent_keys, "k", "left_anti")
    stats = child_keys.agg(F.count("*").alias("n_child_keys")).crossJoin(
        orphans.agg(F.count("*").alias("n_orphan_keys"))
    )
    return stats.select(
        "n_child_keys",
        "n_orphan_keys",
        F.round(
            1.0
            - F.col("n_orphan_keys")
            / F.greatest(F.col("n_child_keys"), F.lit(1)).cast("double"),
            6,
        ).alias("integrity_ratio"),
    )


def bucket_checksums(
    df: DataFrame,
    key_col: str,
    canon_cols: list[str],
    n_buckets: int = 64,
) -> DataFrame:
    """Merkle-style partition digests: collapse a table to
    ``n_buckets`` rows of ``(bucket, n_rows, checksum)`` where bucket
    = md5(key) mod B and checksum = Σ of per-row 60-bit md5
    fingerprints over a canonical ``'|'``-joined string of
    ``canon_cols``.

    This is the 100 TB replica-verification primitive: comparing two
    copies of a table row-by-row moves the data; comparing their
    bucket digests moves ``B`` rows per side, and only buckets whose
    digests differ ever need the row-level diff
    (operators/scd.py-style CDC) — the same divide-and-verify idea as
    a Merkle tree, flattened to one level because a groupBy is one
    shuffle regardless of fan-in. The fingerprint fold is BIT_XOR —
    order-independent (no sort anywhere) and overflow-free at any
    bucket size, where a SUM of 60-bit fingerprints would overflow a
    long at just 8 rows. XOR's one caveat — an identical row appearing
    an even number of times cancels out — is covered by the row COUNT
    travelling beside the checksum.

    Determinism contract: md5-only hashing; callers must pass
    ``canon_cols`` whose string casts are engine-identical (ints,
    strings, dates — floats should be pre-scaled to integer units).
    """
    canon = F.concat_ws(
        "|", *[F.col(c).cast("string") for c in canon_cols]
    )
    fp = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("long")
    df = df.withColumn("__fp", fp)
    bucket = (
        F.conv(
            F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10
        ).cast("long")
        % n_buckets
    ).cast("int")
    return df.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n_rows"),
        F.expr("bit_xor(__fp)").alias("checksum"),
    )


def reconcile_tables(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    canon_cols: list[str],
    n_buckets: int = 64,
) -> DataFrame:
    """Digest-level reconciliation of two table copies: full-outer
    join of their :func:`bucket_checksums`, one row per bucket with
    both sides' counts and checksums and an integer ``is_diff`` flag.
    Missing buckets (a side lost every row hashing there) surface as
    zero-count sides rather than dropped rows. ≤ ``n_buckets`` rows
    total — the report broadcasts anywhere."""
    l = bucket_checksums(left, key_col, canon_cols, n_buckets)
    r = bucket_checksums(right, key_col, canon_cols, n_buckets)
    j = l.withColumnRenamed("n_rows", "left_rows").withColumnRenamed(
        "checksum", "left_sum"
    ).join(
        r.withColumnRenamed("n_rows", "right_rows").withColumnRenamed(
            "checksum", "right_sum"
        ),
        "bucket",
        "full_outer",
    )
    z = F.lit(0).cast("long")
    return j.select(
        "bucket",
        F.coalesce("left_rows", z).alias("left_rows"),
        F.coalesce("right_rows", z).alias("right_rows"),
        F.coalesce("left_sum", z).alias("left_sum"),
        F.coalesce("right_sum", z).alias("right_sum"),
        (
            (F.coalesce("left_rows", z) != F.coalesce("right_rows", z))
            | (F.coalesce("left_sum", z) != F.coalesce("right_sum", z))
        )
        .cast("int")
        .alias("is_diff"),
    )
