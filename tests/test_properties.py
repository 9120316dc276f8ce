"""Property-based tests (hypothesis) for the pure-Python operators:
statement splitting, PII masks, fingerprint normalization invariants."""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from data_pipelines_snowflake_procedures_spark.functions.sqltools import (
    escape_sql_literal,
    split_statements,
    strip_comments,
)
from data_pipelines_snowflake_procedures_spark.operators.security import (
    detect_pii_types,
    mask_value,
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
    escaped = escape_sql_literal(s)
    # every quote is doubled: no odd-length quote runs remain
    assert all(len(run) % 2 == 0 for run in re.findall(r"'+", escaped))


# -- PII masks -------------------------------------------------------------


@given(st.from_regex(r"[a-z]{1,10}@[a-z]{1,10}\.[a-z]{2,4}", fullmatch=True))
@settings(max_examples=200, deadline=None)
def test_email_mask_invariants(email):
    assert detect_pii_types(email) == "EMAIL"
    masked = mask_value(email, "EMAIL")
    # exact contract: first char + *** + intact domain
    assert masked == email[0] + "***@" + email.split("@", 1)[1]


@given(st.from_regex(r"[0-9]{10}", fullmatch=True))
@settings(max_examples=200, deadline=None)
def test_phone_mask_keeps_only_last4(phone):
    masked = mask_value(phone, "PHONE")
    assert masked == "*" * 6 + phone[-4:]


@given(st.from_regex(r"[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}", fullmatch=True))
@settings(max_examples=100, deadline=None)
def test_card_mask_keeps_only_last4(card):
    # dash-separated cards hit the (looser) PHONE pattern first, same
    # as the reference's first-match-wins chain (Data_Security.sql:15);
    # 16 contiguous digits fall through to CREDIT_CARD
    assert detect_pii_types(card) == "PHONE"
    assert detect_pii_types(card.replace("-", "")) == "CREDIT_CARD"
    masked = mask_value(card, "CREDIT_CARD")
    assert masked == "XXXX-XXXX-XXXX-" + card[-4:]
    assert card[:4] not in masked or card[:4] == card[-4:]


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
