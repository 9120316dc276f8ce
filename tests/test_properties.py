"""Property-based tests (hypothesis): statement splitting, the Spark
PII detector and masks, the ustar codec."""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from data_pipelines_snowflake_procedures_spark.functions.sqltools import (
    split_statements,
    strip_comments,
)
from data_pipelines_snowflake_procedures_spark.operators.profile import sql_str
from data_pipelines_snowflake_procedures_spark.operators.security import (
    detect_pii_columns,
    mask_expr,
)

# -- statement splitter ----------------------------------------------------

_sql_fragment = st.text(
    alphabet=st.characters(
        whitelist_categories=("Lu", "Ll", "Nd", "Zs"), whitelist_characters="_().,="
    ),
    min_size=1,
    max_size=30,
).map(str.strip).filter(bool)


@given(st.lists(_sql_fragment, min_size=1, max_size=8))
@settings(max_examples=200, deadline=None)
def test_split_roundtrips_simple_statements(frags):
    joined = ";\n".join(frags) + ";"
    assert split_statements(joined) == [f for f in frags if f]


@given(_sql_fragment, _sql_fragment)
@settings(max_examples=200, deadline=None)
def test_semicolon_inside_single_quotes_not_split(a, b):
    sql = f"SELECT '{a};{b}' AS v FROM t; SELECT 1"
    stmts = split_statements(sql)
    assert len(stmts) == 2
    assert f"'{a};{b}'" in stmts[0]


@given(_sql_fragment)
@settings(max_examples=200, deadline=None)
def test_double_quoted_identifiers_preserved(ident):
    # the reference's splitter consumed every double-quote character
    # (SURVEY.md §3.1); ours must keep identifiers byte-identical
    sql = f'SELECT "{ident}" FROM "{ident};tbl"'
    stmts = split_statements(sql)
    assert len(stmts) == 1
    assert f'"{ident}"' in stmts[0]
    assert f'"{ident};tbl"' in stmts[0]


@given(_sql_fragment, _sql_fragment)
@settings(max_examples=200, deadline=None)
def test_comments_stripped_but_literals_kept(a, b):
    sql = f"SELECT '{a}--{b}' AS v -- trailing comment\nFROM t"
    out = strip_comments(sql)
    assert f"'{a}--{b}'" in out
    assert "trailing comment" not in out


@given(st.text(max_size=50))
@settings(max_examples=200, deadline=None)
def test_escape_sql_literal_no_bare_quotes(s):
    lit = sql_str(s)
    assert lit[0] == lit[-1] == "'"
    # every quote and backslash in the body is escaped, so no quote
    # closes the literal early, and unescaping gives the text back
    body = lit[1:-1]
    assert re.fullmatch(r"(?:\\.|[^\\'])*", body, re.S)
    assert re.sub(r"\\(.)", r"\1", body, flags=re.S) == s


# -- PII masks -------------------------------------------------------------


def _first_types_and_masks(spark, values, pii_type):
    """Per value, the first PII type the Spark detector finds in it and
    its ``pii_type`` mask: one single-row frame, one column per value,
    so every drawn value is checked by one detection and one mask job."""
    names = [f"v{i}" for i in range(len(values))]
    df = spark.createDataFrame([tuple(values)], ", ".join(f"{n} STRING" for n in names))
    found = detect_pii_columns(df)
    masked = df.select(*[mask_expr(n, pii_type) for n in names]).first()
    return [found.get(n, [None])[0] for n in names], list(masked)


@given(st.lists(st.from_regex(r"[a-z]{1,10}@[a-z]{1,10}\.[a-z]{2,4}", fullmatch=True), min_size=1, max_size=40))
@settings(max_examples=10, deadline=None)
def test_email_mask_invariants(spark, emails):
    types, masked = _first_types_and_masks(spark, emails, "EMAIL")
    assert types == ["EMAIL"] * len(emails)
    # exact contract: first char + *** + intact domain
    assert masked == [e[0] + "***@" + e.split("@", 1)[1] for e in emails]


@given(st.lists(st.from_regex(r"[0-9]{10}", fullmatch=True), min_size=1, max_size=40))
@settings(max_examples=10, deadline=None)
def test_phone_mask_keeps_only_last4(spark, phones):
    _, masked = _first_types_and_masks(spark, phones, "PHONE")
    assert masked == ["*" * 6 + p[-4:] for p in phones]


@given(st.lists(st.from_regex(r"[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}", fullmatch=True), min_size=1, max_size=40))
@settings(max_examples=10, deadline=None)
def test_card_mask_keeps_only_last4(spark, cards):
    # dash-separated cards hit the (looser) PHONE pattern first, same
    # as the reference's first-match-wins chain (Data_Security.sql:15);
    # 16 contiguous digits fall through to CREDIT_CARD
    types, masked = _first_types_and_masks(spark, cards, "CREDIT_CARD")
    assert types == ["PHONE"] * len(cards)
    bare, _ = _first_types_and_masks(spark, [c.replace("-", "") for c in cards], "CREDIT_CARD")
    assert bare == ["CREDIT_CARD"] * len(cards)
    assert masked == ["XXXX-XXXX-XXXX-" + c[-4:] for c in cards]
    for card, m in zip(cards, masked):
        assert card[:4] not in m or card[:4] == card[-4:]


# -- ustar codec (sources/tar.py) ------------------------------------------

from data_pipelines_snowflake_procedures_spark.sources.tar import (  # noqa: E402
    encode_ustar,
    parse_ustar,
    split_key,
)

_member_name = st.text(
    alphabet=st.characters(
        whitelist_categories=("Lu", "Ll", "Nd"),
        whitelist_characters="._-/",
    ),
    min_size=1,
    max_size=60,
).filter(
    # ustar's name field holds 100 bytes; multi-byte UTF-8 letters can push
    # a 60-character name past that (rejection covered separately below)
    lambda s: not s.startswith("/")
    and "\x00" not in s
    and len(s.encode("utf-8")) <= 100
)


@given(
    st.lists(
        st.tuples(_member_name, st.binary(min_size=0, max_size=2000)),
        min_size=0,
        max_size=8,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=150, deadline=None)
def test_ustar_round_trip_arbitrary_members(members):
    blob = encode_ustar(members)
    # archive is block-aligned with the two-zero-block trailer
    assert len(blob) % 512 == 0
    parsed = parse_ustar(blob)
    assert [(n, s) for n, _, s in parsed] == [
        (n, len(p)) for n, p in members
    ]
    for (name, off, size), (_, payload) in zip(parsed, members):
        assert blob[off : off + size] == payload


@given(
    st.text(
        alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd")),
        min_size=26,
        max_size=120,
    ).filter(lambda s: len(s.encode("utf-8")) > 100)
)
@settings(max_examples=100, deadline=None)
def test_ustar_rejects_names_over_100_bytes(name):
    # no GNU long-name extension: an over-long name fails loudly instead
    # of being silently truncated in the header
    with pytest.raises(ValueError, match="longer than 100 bytes"):
        encode_ustar([(name, b"x")])


@given(_member_name)
@settings(max_examples=150, deadline=None)
def test_split_key_reassembles(name):
    key, ext = split_key(name)
    d, _, base = name.rpartition("/")
    assert (base if "." not in base else base.split(".", 1)[0]) == (
        key if not d else key[len(d) + 1 :]
    )
    if ext:
        assert name.endswith("." + ext)
