"""Unit tests for PII detection/masking (SURVEY.md §2.11)."""

from __future__ import annotations

import pytest

from data_pipelines_snowflake_procedures_spark.operators.security import (
    apply_pii_masking,
    detect_pii_columns,
    mask_expr,
)


@pytest.mark.parametrize(
    "value,expected",
    [
        ("alice@example.com", "EMAIL"),
        ("a.b+tag@sub.domain.org", "EMAIL"),
        ("9876543210", "PHONE"),
        ("+1 415 555 0000", "PHONE"),
        ("1234 5678 9012", "PHONE"),  # aadhaar shape also matches PHONE first
        # card shapes also match PHONE first under first-match-wins —
        # same as the reference's loose PHONE pattern (Data_Security.sql:15)
        ("1234-5678-9012-3456", "PHONE"),
        ("contact me at a@b.com please", "EMAIL"),  # embedded PII detected
        # 16 contiguous digits exceed PHONE's 9-15 char window and fall
        # through to the separator-optional CREDIT_CARD pattern
        ("card 1234567890123456 on file", "CREDIT_CARD"),
        ("not pii", None),
        ("street 42", None),  # short digit runs are not phones
        (42, None),
        (None, None),
    ],
)
def test_detect_pii_types(spark, value, expected):
    """The first type the detector finds in a one-value column is the
    value's first-match-wins type; a non-string column has none."""
    df = spark.createDataFrame([(value,)], "v BIGINT" if isinstance(value, int) else "v STRING")
    assert detect_pii_columns(df).get("v", [None])[0] == expected


def _masked(spark, cases):
    """``mask_expr(value, pii_type)`` for every (value, pii_type) pair,
    from one single-row frame with one column per pair."""
    names = [f"v{i}" for i in range(len(cases))]
    df = spark.createDataFrame([tuple(v for v, _ in cases)], ", ".join(f"{n} STRING" for n in names))
    return list(df.select(*[mask_expr(n, t) for n, (_, t) in zip(names, cases)]).first())


def test_mask_values(spark):
    cases = {
        ("alice@example.com", "EMAIL"): "a***@example.com",
        ("9876543210", "PHONE"): "******3210",
        # the digit-star mask only hides digits with >=4 contiguous
        # digits after them — separator-formatted numbers keep their
        # groups (faithful to the reference's phone mask)
        ("14155550000", "PHONE"): "*******0000",
        ("+1 415 555 0000", "PHONE"): "+1 415 555 0000",
        ("1234 5678 9012", "AADHAAR"): "XXXX XXXX 9012",
        ("1234-5678-9012-3456", "CREDIT_CARD"): "XXXX-XXXX-XXXX-3456",
        ("whatever", "OTHER"): "*****",
        ("no at sign", "EMAIL"): "*****",
    }
    assert _masked(spark, list(cases)) == list(cases.values())


def test_every_mask_keeps_null(spark):
    """A NULL stays NULL under every mask, as in the DuckDB oracle
    (``substr(NULL, ...) || ...`` is NULL), also through the
    full-table masking of a detected column."""
    kinds = ["EMAIL", "PHONE", "AADHAAR", "CREDIT_CARD", "OTHER"]
    assert _masked(spark, [(None, t) for t in kinds]) == [None] * len(kinds)
    df = spark.createDataFrame([(1, "alice@example.com"), (2, None)], "id INT, contact STRING")
    masked, info = apply_pii_masking(df)
    assert info == {"contact": ["EMAIL"]}
    assert {r["id"]: r["contact"] for r in masked.collect()} == {1: "a***@example.com", 2: None}


def test_detect_and_mask_full_table(spark):
    df = spark.createDataFrame(
        [
            (1, "alice@example.com", "clean"),
            (2, "bob@test.org", "words"),
            (3, "not-an-email", "more"),
        ],
        ["id", "contact", "note"],
    )
    info = detect_pii_columns(df)
    assert info == {"contact": ["EMAIL"]}

    masked, info2 = apply_pii_masking(df)
    assert info2 == info
    rows = {r["id"]: r for r in masked.collect()}
    assert rows[1]["contact"] == "a***@example.com"
    # first-detected-type masking applies to non-matching values too
    # (faithful to the reference's column-level masking)
    assert rows[3]["contact"] == "*****"
    assert rows[1]["PII_MASKING_TYPE"] == "{'contact': 'EMAIL'}"
    # non-PII column untouched
    assert rows[2]["note"] == "words"


def test_pii_masking_report_end_to_end(spark):
    """PI4: full pipeline — detect, mask full table, publish
    <table>_MASKED, and return the before/after report."""
    import shutil

    from data_pipelines_snowflake_procedures_spark.operators.security import (
        pii_masking_report,
    )

    spark.sql("DROP TABLE IF EXISTS pii_src_MASKED")
    shutil.rmtree("spark-warehouse/pii_src_masked", ignore_errors=True)
    df = spark.createDataFrame(
        [(i, f"user{i}@mail.com", f"note {i}") for i in range(20)],
        ["id", "email", "note"],
    )
    rep = pii_masking_report(spark, df, "pii_src")
    assert rep["status"] == "SUCCESS"
    assert rep["masked_table"] == "pii_src_MASKED"
    assert rep["masked_columns"] == {"email": "EMAIL"}
    assert "u***@mail.com" in rep["after_sample"]
    published = spark.table("pii_src_MASKED")
    assert published.count() == 20  # FULL table, not the sample
    assert all(
        r["email"].startswith("u***@") for r in published.limit(20).collect()
    )
    assert "PII_MASKING_TYPE" in published.columns


def test_scrub_text_expr(spark):
    from data_pipelines_snowflake_procedures_spark.operators.security import (
        scrub_text_expr,
    )

    df = spark.createDataFrame(
        [
            (1, "mail a@b.com and card 1234-5678-9012-3456 mid-sentence"),
            # adjacent digit runs: the double-pass must catch the second
            (2, "nums 1234567890 0987654321 end"),
            (3, "clean text with no pii at all"),
            (4, None),
        ],
        ["id", "text"],
    )
    out = {r["id"]: r["s"] for r in df.select("id", scrub_text_expr("text").alias("s")).collect()}
    # scrubbing is most-specific-first: the dashed card becomes ONE
    # <CREDIT_CARD>, not a <PHONE> with its last group left behind
    assert out[1] == "mail <EMAIL> and card <CREDIT_CARD> mid-sentence"
    assert out[2] == "nums <PHONE> <PHONE> end"
    assert out[3] == "clean text with no pii at all"
    assert out[4] == ""


def test_l_diversity_report_hand_computed(spark):
    from pyspark.sql import functions as F

    from data_pipelines_snowflake_procedures_spark.operators.security import (
        l_diversity_report,
    )

    # class A: both sensitive values (diverse); class B: homogeneous
    # (3 rows, all s=0 -> exposed); class C: singleton (exposed)
    df = spark.createDataFrame(
        [
            ("A", 0), ("A", 1), ("A", 0),
            ("B", 0), ("B", 0), ("B", 0),
            ("C", 1),
        ],
        ["qi", "s"],
    )
    row = l_diversity_report(
        df, {"L": [F.col("qi")]}, sensitive_col="s", ell=2
    ).first()
    assert row.n_classes == 3
    assert row.n_low_diversity_classes == 2
    assert row.rows_exposed == 4
    assert row.exposed_bp == 4 * 10000 // 7
    # worst dominance: class B is 100% one value
    assert row.max_value_share_bp == 10000


def test_l_diversity_entry_invariants(spark, sf_dir):
    from data_pipelines_snowflake_procedures_spark.queries import REGISTRY

    rows = REGISTRY["customer_l_diversity"].spark_fn(spark, sf_dir).collect()
    assert len(rows) == 2
    for r in rows:
        assert 0 <= r.n_low_diversity_classes <= r.n_classes
        assert 0 <= r.exposed_bp <= 10000
        assert 0 < r.max_value_share_bp <= 10000


def test_t_closeness_report_hand_computed(spark):
    import pytest
    from pyspark.sql import functions as F

    from data_pipelines_snowflake_procedures_spark.operators.security import (
        t_closeness_report,
    )

    # m=2 bands. Global: 4 rows of band 0, 4 of band 1 -> q = (0.5, 0.5).
    # class A (4 rows, all band 0): |cum 1.0 - 0.5| = 0.5 -> 5000 bp
    # class B (4 rows, 2/2):        |0.5 - 0.5| = 0 -> 0 bp
    df = spark.createDataFrame(
        [("A", 0)] * 4 + [("B", 0)] * 2 + [("B", 1)] * 4,
        ["qi", "band"],
    )
    # global: 6x band0, 4x band1 -> q0 = 0.6
    # A: p0 = 1.0 -> |1.0-0.6| = 0.4 -> 4000 bp
    # B: p0 = 2/6 -> |1/3-0.6| = 0.2666.. -> 2666 bp (floor)
    row = t_closeness_report(
        df, {"L": [F.col("qi")]}, sensitive_col="band", m=2, t_bp=3000
    ).first()
    assert row.n_classes == 2
    assert row.max_emd_bp == 4000
    assert row.n_violations == 1
    assert row.rows_exposed == 4
    assert row.exposed_bp == 4 * 10000 // 10
    with pytest.raises(ValueError):
        t_closeness_report(df, {}, sensitive_col="band", m=2)
    with pytest.raises(ValueError):
        t_closeness_report(df, {"L": [F.col("qi")]}, sensitive_col="band", m=1)


def test_t_closeness_entry_invariants(spark, sf_dir):
    from data_pipelines_snowflake_procedures_spark.queries import REGISTRY

    rows = REGISTRY["customer_t_closeness"].spark_fn(spark, sf_dir).collect()
    assert len(rows) == 2
    for r in rows:
        assert 0 <= r.n_violations <= r.n_classes
        assert 0 <= r.max_emd_bp <= 10000
        assert 0 <= r.exposed_bp <= 10000
    # the coarser level can never be MORE skewed than its refinement's
    # worst class (merging classes moves distributions toward global)
    by = {r.level: r for r in rows}
    assert by["L1_segment"].max_emd_bp <= by["L0_nation_segment"].max_emd_bp


def test_pii_masking_report_previews_same_rows(spark):
    """Both previews come from the same five rows: each after row is
    the masked form of the before row at its position, and the
    non-PII columns are equal."""
    import re

    from data_pipelines_snowflake_procedures_spark.operators.security import (
        pii_masking_report,
    )

    df = spark.createDataFrame(
        [(i, f"user{i}@mail{i % 3}.com", f"note_{i}") for i in range(40)],
        ["id", "email", "note"],
    ).repartition(4)
    rep = pii_masking_report(spark, df, "pii_pairs", save=False)

    def rows(table: str) -> list[list[str]]:
        # markdown (tabulate) or to_string: data lines hold no spaces here
        lines = [ln for ln in table.splitlines()[1:] if not set(ln) <= set("|-: ")]
        return [re.split(r"[|\s]+", ln.strip(" |")) for ln in lines]

    before, after = rows(rep["before_sample"]), rows(rep["after_sample"])
    assert len(before) == len(after) == 5
    for (b_id, b_email, b_note), a in zip(before, after):
        a_id, a_email, a_note = a[:3]  # then the provenance column
        assert (a_id, a_note) == (b_id, b_note)
        assert a_email == b_email[0] + "***@" + b_email.split("@", 1)[1]
    assert "PII_MASKING_TYPE" in rep["after_sample"]
