"""PII detection + masking (reference F1-F6 / PI1-PI4, SURVEY.md §2.11).

Parity target: ``APPLY_PII_MASKING`` (Data_Security.sql:13-86) — per
column, sample values are tested against four PII regexes
(EMAIL → PHONE → AADHAAR → CREDIT_CARD, first match wins per value);
columns with any match are masked with the mask of their *first*
detected type and the output gains a ``PII_MASKING_TYPE`` provenance
column, then the masked table is published with a before/after preview
report.

Documented divergence (SURVEY.md §2.11 caveat): the reference writes
only the 1,000-row sample it scanned — its "masked table" silently
truncates the source (Data_Security.sql:49,68). Here detection stays
sampled (cheap), but masking is applied to the FULL table with native
Column expressions — no Python UDFs, so masking is one narrow
(shuffle-free) projection that whole-stage codegen fuses into the scan
at any scale.

Patterns are written RE2-compatible (no lookaheads) so the same
strings work in Spark ``rlike``, DuckDB ``regexp_matches``, and Python
``re`` — which is what makes the detection step oracle-testable.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .profile import ident

#: Detection order matters: first match wins, like the reference's
#: detect_pii chain (Data_Security.sql:35-41). Patterns are UNANCHORED
#: substring matches like the reference's (values with embedded PII —
#: "contact me at a@b.com" — must be detected), but use explicit
#: ``(^|[^0-9])``-style boundary guards instead of ``\b`` so the exact
#: same string runs identically under Java regex (Spark rlike), RE2
#: (DuckDB regexp_matches), and Python ``re``. CREDIT_CARD accepts
#: ``-``, space, or no separator (Data_Security.sql:17).
#: Documented narrowing vs the reference: its PHONE pattern
#: (Data_Security.sql:15) matches ANY 6-10 digit run (zip codes, order
#: ids); ours requires 9-15 phone-shaped chars starting and ending in a
#: digit. Like the reference, PHONE still matches aadhaar- and
#: card-shaped digit runs, and first-match-wins classifies those as
#: PHONE.
PII_PATTERNS: dict[str, str] = {
    "EMAIL": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "PHONE": r"(^|[^0-9])\+?[0-9][0-9 ()-]{7,13}[0-9]([^0-9]|$)",
    "AADHAAR": r"(^|[^0-9])[0-9]{4} [0-9]{4} [0-9]{4}([^0-9]|$)",
    "CREDIT_CARD": r"(^|[^0-9])[0-9]{4}[- ]?[0-9]{4}[- ]?[0-9]{4}[- ]?[0-9]{4}([^0-9]|$)",
}

#: Rows sampled per table and values tested per column during
#: detection — the reference's hardcoded bounds (Data_Security.sql:49,54).
DETECTION_SAMPLE_ROWS = 1000

#: Scrubbing order (most-specific-first): see scrub_text_expr. The
#: DETECTION chain keeps the reference's order via PII_PATTERNS itself.
SCRUB_ORDER = ("EMAIL", "CREDIT_CARD", "AADHAAR", "PHONE")


def mask_expr(col: str | Column, pii_type: str) -> Column:
    """Masking as a native Column expression (F2-F6) — JVM-side, no
    UDF; fuses into whole-stage codegen. A ``str`` is a column name,
    quoted (it may hold a dot, a backtick or a space). A NULL stays
    NULL under every mask."""
    c = F.col(ident(col)) if isinstance(col, str) else col
    if pii_type == "EMAIL":
        # keep first char, star the local part, keep the domain
        return F.when(
            c.contains("@"),
            F.concat(F.substring(c, 1, 1), F.lit("***@"), F.element_at(F.split(c, "@", 2), 2)),
        ).when(c.isNotNull(), F.lit("*****"))
    if pii_type == "PHONE":
        # star every digit except the last four, preserving separators
        return F.regexp_replace(c, r"\d(?=\d{4})", "*")
    if pii_type == "AADHAAR":
        return F.concat(F.lit("XXXX XXXX "), F.substring(c, -4, 4))
    if pii_type == "CREDIT_CARD":
        return F.concat(F.lit("XXXX-XXXX-XXXX-"), F.substring(c, -4, 4))
    return F.when(c.isNotNull(), F.lit("*****"))


def scrub_text_expr(col: str | Column) -> Column:
    """Free-text PII scrubbing for corpus preparation: replace every
    PII match inside a text column with a typed placeholder
    (``<EMAIL>``, ``<PHONE>``, ...), preserving surrounding text.

    Column-level masking (PI2) protects structured tables; training
    corpora need the in-text form — a document mentioning an email
    mid-sentence must keep the sentence. Replacements run
    most-specific-first (EMAIL → CREDIT_CARD → AADHAAR → PHONE),
    unlike the DETECTION chain which keeps the reference's order: a
    16-digit card must become one <CREDIT_CARD>, not a <PHONE> with
    its last group left behind by the shorter phone window. The
    boundary-guard groups in the digit patterns are re-emitted via
    $1/$2 backreferences so adjacent characters survive. Pure
    regexp_replace chain — narrow, codegen-fused, no UDF.
    """
    c = F.col(ident(col)) if isinstance(col, str) else col
    c = F.coalesce(c, F.lit(""))
    for pii_type in SCRUB_ORDER:
        pattern = PII_PATTERNS[pii_type]
        if pattern.startswith("(^|"):
            # guarded patterns CONSUME their boundary char, so two
            # adjacent matches ("<num> <num>") leave the second without
            # a guard on pass 1 — a second pass catches it (RE2 has no
            # lookarounds, so guards cannot be made zero-width
            # portably)
            replacement = f"$1<{pii_type}>$2"
            c = F.regexp_replace(c, pattern, replacement)
            c = F.regexp_replace(c, pattern, replacement)
        else:
            c = F.regexp_replace(c, pattern, f"<{pii_type}>")
    return c


def detect_pii_columns(
    df: DataFrame,
    sample_rows: int = DETECTION_SAMPLE_ROWS,
    sample_fraction: float | None = None,
) -> dict[str, list[str]]:
    """PI1: per string column, which PII types appear in a sample.

    One aggregate pass over a sample evaluates every (column ×
    pattern) predicate at once — versus the reference's per-column
    Python loop over 100 values. Returns ``{column: [types...]}`` for
    columns with ≥1 match, types in detection order.

    Sampling: the reference's ``limit(1000)`` reads one partition — a
    biased sample if data is clustered by source. Pass
    ``sample_fraction`` for an unbiased Bernoulli sample across all
    partitions (seeded, deterministic); the default keeps the cheap
    first-partition ``limit`` for parity.
    """
    string_cols = [f.name for f in df.schema.fields if f.dataType.simpleString() == "string"]
    if not string_cols:
        return {}
    quoted = [F.col(ident(c)) for c in string_cols]
    if sample_fraction is not None:
        sample = df.select(*quoted).sample(fraction=sample_fraction, seed=42)
    else:
        sample = df.select(*quoted).limit(sample_rows)
    aggs = [
        F.count(F.when(F.col(ident(c)).rlike(pattern), 1)).alias(f"{c}__{pii_type}")
        for c in string_cols
        for pii_type, pattern in PII_PATTERNS.items()
    ]
    row = sample.agg(*aggs).collect()[0]
    out: dict[str, list[str]] = {}
    for c in string_cols:
        types = [t for t in PII_PATTERNS if row[f"{c}__{t}"] > 0]
        if types:
            out[c] = types
    return out


def apply_pii_masking(
    df: DataFrame,
    pii_info: dict[str, list[str]] | None = None,
    sample_rows: int = DETECTION_SAMPLE_ROWS,
    provenance_column: str = "PII_MASKING_TYPE",
) -> tuple[DataFrame, dict[str, list[str]]]:
    """PI2+PI3: mask every detected column in the FULL DataFrame.

    Each column is masked with its *first* detected type (faithful to
    ``pii_type.split(",")[0]`` at Data_Security.sql:64-65, including
    masking values that did not individually match). Adds the
    provenance column as a stringified ``{col: "T1,T2"}`` dict.
    """
    if pii_info is None:
        pii_info = detect_pii_columns(df, sample_rows=sample_rows)
    masked = df
    for col, types in pii_info.items():
        masked = masked.withColumn(col, mask_expr(col, types[0]))
    provenance = str({c: ",".join(ts) for c, ts in pii_info.items()})
    masked = masked.withColumn(provenance_column, F.lit(provenance))
    return masked, pii_info


def pii_masking_report(
    spark,
    df: DataFrame,
    table_name: str,
    save: bool = True,
    sample_rows: int = DETECTION_SAMPLE_ROWS,
) -> dict[str, Any]:
    """PI4: end-to-end masking pipeline + markdown diff report.

    Detect → mask full table → optionally publish ``<table>_MASKED``
    (managed table, overwrite) → return the reference's report shape:
    masked column list and before/after 5-row previews. Both previews
    come from one Spark job over the same five rows, so each after row
    is the masked form of the before row beside it.
    """
    masked, pii_info = apply_pii_masking(df, sample_rows=sample_rows)
    masked_name = f"{table_name}_MASKED"
    if save:
        spark.sql(f"DROP TABLE IF EXISTS `{masked_name}`")
        # A previous SESSION's overwrite can leave an orphan managed
        # location this session's fresh catalog doesn't know about;
        # overwrite would then fail with LOCATION_ALREADY_EXISTS.
        import os
        import shutil

        warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
        local = warehouse.removeprefix("file:")
        loc = os.path.join(local, masked_name.lower())
        if local.startswith("/") and os.path.isdir(loc):
            shutil.rmtree(loc)
        masked.write.mode("overwrite").saveAsTable(masked_name)
    # the five rows' originals under positional names, then the same
    # rows as apply_pii_masking masks them
    cols = df.columns
    sample = df.limit(5).select(
        *[F.col(ident(c)).alias(f"__before{i}") for i, c in enumerate(cols)],
        *[F.col(ident(c)) for c in cols],
    )
    both = apply_pii_masking(sample, pii_info)[0].toPandas()
    before = both.iloc[:, : len(cols)].set_axis(cols, axis=1)
    after = both.iloc[:, len(cols) :]
    try:
        before_md = before.to_markdown(index=False)
        after_md = after.to_markdown(index=False)
    except ImportError:  # tabulate not installed
        before_md = before.to_string(index=False)
        after_md = after.to_string(index=False)
    return {
        "status": "SUCCESS",
        "masked_table": masked_name,
        "masked_columns": {c: ",".join(ts) for c, ts in pii_info.items()},
        "before_sample": before_md,
        "after_sample": after_md,
    }


def k_anonymity_report(
    df: DataFrame, quasi_sets: "dict[str, list]", k: int = 5
) -> DataFrame:
    """Re-identification risk audit (Sweeney's k-anonymity): for each
    candidate generalization level — a named list of quasi-identifier
    expressions — group the table into equivalence classes and report
    how exposed it is: class count, smallest class, classes below k,
    rows inside them, and the at-risk share in integer basis points.
    The privacy-governance counterpart of the PII masking pipeline
    (reference Data_Security.sql masks VALUES; this measures whether
    the remaining quasi-identifiers still single people out). One
    partial-aggregable groupBy per level, unioned — each level is an
    independent map-side-combine aggregation at any SF."""
    out = None
    for name, exprs in quasi_sets.items():
        classes = df.groupBy(*exprs).agg(F.count("*").alias("n"))
        lvl = classes.agg(
            F.lit(name).alias("level"),
            F.count("*").cast("long").alias("n_classes"),
            F.min("n").cast("long").alias("min_class_size"),
            F.sum(F.when(F.col("n") < k, 1).otherwise(0))
            .cast("long")
            .alias("n_violating_classes"),
            F.sum(F.when(F.col("n") < k, F.col("n")).otherwise(0))
            .cast("long")
            .alias("rows_at_risk"),
            F.sum("n").cast("long").alias("rows_total"),
        )
        out = lvl if out is None else out.unionByName(lvl)
    return out.select(
        "level",
        "n_classes",
        "min_class_size",
        "n_violating_classes",
        "rows_at_risk",
        F.expr("(rows_at_risk * 10000) div rows_total")
        .cast("long")
        .alias("at_risk_bp"),
    ).orderBy("level")


def l_diversity_report(
    df: DataFrame,
    quasi_sets: "dict[str, list]",
    sensitive_col: str,
    ell: int = 2,
) -> DataFrame:
    """Attribute-disclosure audit (Machanavajjhala et al. 2007,
    distinct l-diversity): k-anonymity keeps equivalence classes
    LARGE, but a large class whose members all share one sensitive
    value still leaks it (the homogeneity attack). For each
    generalization level this groups the table by its
    quasi-identifiers and reports, per level: class count, classes
    whose sensitive attribute takes fewer than ``ell`` distinct
    values, rows inside them, their share in integer basis points,
    and the worst single-value dominance across classes (max class
    share of one sensitive value, basis points — the recursive
    (c,l)-diversity signal). All-integer outputs.

    Plan shape: one (QI..., sensitive) groupBy then an O(classes)
    re-aggregate per level — both partial-aggregable; nothing beyond
    the class dimension is ever held. Complements
    :func:`k_anonymity_report` (same quasi_sets contract)."""
    if not quasi_sets:
        raise ValueError("quasi_sets must be non-empty")
    out = None
    for name, exprs in quasi_sets.items():
        cells = df.groupBy(*exprs, F.col(sensitive_col).alias("__s")).agg(
            F.count("*").alias("n")
        )
        qi_cols = [c for c in cells.columns if c not in ("__s", "n")]
        classes = cells.groupBy(*qi_cols).agg(
            F.sum("n").alias("size"),
            F.count("*").alias("n_distinct_sensitive"),
            F.max("n").alias("top_value_n"),
        )
        lvl = classes.agg(
            F.lit(name).alias("level"),
            F.count("*").cast("long").alias("n_classes"),
            F.sum(
                F.when(F.col("n_distinct_sensitive") < ell, 1).otherwise(0)
            ).cast("long").alias("n_low_diversity_classes"),
            F.sum(
                F.when(F.col("n_distinct_sensitive") < ell, F.col("size"))
                .otherwise(0)
            ).cast("long").alias("rows_exposed"),
            F.sum("size").cast("long").alias("rows_total"),
            F.max(
                F.expr("(top_value_n * 10000) div size")
            ).cast("long").alias("max_value_share_bp"),
        )
        out = lvl if out is None else out.unionByName(lvl)
    return out.select(
        "level",
        "n_classes",
        "n_low_diversity_classes",
        "rows_exposed",
        F.expr("(rows_exposed * 10000) div rows_total")
        .cast("long")
        .alias("exposed_bp"),
        "max_value_share_bp",
    ).orderBy("level")


def t_closeness_report(
    df: DataFrame,
    quasi_sets: "dict[str, list]",
    sensitive_col: str,
    m: int,
    t_bp: int = 2000,
) -> DataFrame:
    """Distribution-disclosure audit (Li, Li & Venkatasubramanian 2007,
    t-closeness for an ORDERED sensitive attribute): l-diversity counts
    distinct sensitive values per class but is blind to SKEW — a class
    whose balance-band distribution is (0.97, 0.01, 0.01, 0.01) in a
    population at (0.25, 0.25, 0.25, 0.25) leaks almost as much as a
    homogeneous one. t-closeness bounds the Earth Mover's Distance
    between each class's sensitive distribution and the global one.

    ``sensitive_col`` must hold ordinal bins 0..m-1. For an ordered
    attribute EMD = (1/(m-1)) * sum_i |cum_p_i - cum_q_i|; with class
    cumulative counts c_i (of ``size``) and global cumulative counts
    g_i (of ``n_total``), each term is the exact integer
    |c_i*n_total - g_i*size| over size*n_total — so the basis-point
    EMD is pure integer arithmetic, restatable in any SQL engine. The
    cross-products run in DECIMAL(38,0) (HUGEINT on the oracle side):
    at petabyte row counts c_i*n_total overflows a long.

    Per level reports: class count, worst EMD (basis points), classes
    over the ``t_bp`` threshold, rows inside them and their share.

    Plan shape: one (QI..., bin) groupBy, one O(classes) re-aggregate
    with the m cumulative counts as plain conditional sums (m is a
    schema constant, not data), and a broadcast of the 1-row global
    distribution — the same two-aggregate skeleton as
    :func:`k_anonymity_report`/:func:`l_diversity_report`, completing
    the k-anonymity / l-diversity / t-closeness triad."""
    if not quasi_sets:
        raise ValueError("quasi_sets must be non-empty")
    if m < 2:
        raise ValueError("m must be >= 2 (ordered bins 0..m-1)")
    s = F.col("__s")
    cums = [
        F.sum(F.when(s <= i, F.col("n")).otherwise(0)).alias(f"c{i}")
        for i in range(m - 1)
    ]
    out = None
    for name, exprs in quasi_sets.items():
        cells = df.groupBy(*exprs, F.col(sensitive_col).alias("__s")).agg(
            F.count("*").alias("n")
        )
        qi_cols = [c for c in cells.columns if c not in ("__s", "n")]
        classes = cells.groupBy(*qi_cols).agg(
            F.sum("n").alias("size"), *cums
        )
        glob = cells.groupBy().agg(
            F.sum("n").alias("n_total"),
            *[c.alias(f"g{i}") for i, c in enumerate(cums)],
        )
        # integer division via `div` (truncates toward zero in Spark,
        # floors in DuckDB `//` — identical on these all-positive
        # operands; decimal `/` would ROUND in Spark and floor in
        # DuckDB, the cross-engine trap)
        num_sql = " + ".join(
            f"abs(CAST(c{i} AS DECIMAL(38,0)) * n_total"
            f" - CAST(g{i} AS DECIMAL(38,0)) * size)"
            for i in range(m - 1)
        )
        emd_bp = F.expr(
            f"CAST((({num_sql}) * 10000) div "
            f"(CAST(size AS DECIMAL(38,0)) * n_total * {m - 1}) AS BIGINT)"
        )
        scored = classes.crossJoin(F.broadcast(glob)).select(
            "size", emd_bp.alias("emd_bp")
        )
        lvl = scored.agg(
            F.lit(name).alias("level"),
            F.count("*").cast("long").alias("n_classes"),
            F.max("emd_bp").cast("long").alias("max_emd_bp"),
            F.sum(F.when(F.col("emd_bp") > t_bp, 1).otherwise(0))
            .cast("long")
            .alias("n_violations"),
            F.sum(F.when(F.col("emd_bp") > t_bp, F.col("size")).otherwise(0))
            .cast("long")
            .alias("rows_exposed"),
            F.sum("size").cast("long").alias("rows_total"),
        )
        out = lvl if out is None else out.unionByName(lvl)
    return out.select(
        "level",
        "n_classes",
        "max_emd_bp",
        "n_violations",
        "rows_exposed",
        F.expr("(rows_exposed * 10000) div rows_total")
        .cast("long")
        .alias("exposed_bp"),
    ).orderBy("level")
