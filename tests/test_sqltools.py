from data_pipelines_snowflake_procedures_spark.functions.sqltools import (
    extract_table_names,
    split_statements,
    strip_comments,
)
from data_pipelines_snowflake_procedures_spark.operators.profile import sql_str


def test_split_basic():
    assert split_statements("SELECT 1; SELECT 2;") == ["SELECT 1", "SELECT 2"]


def test_split_semicolon_in_string():
    stmts = split_statements("SELECT 'a;b'; SELECT 2")
    assert stmts == ["SELECT 'a;b'", "SELECT 2"]


def test_split_escaped_single_quote():
    stmts = split_statements("SELECT 'it''s; fine'; SELECT 2")
    assert stmts == ["SELECT 'it''s; fine'", "SELECT 2"]


def test_split_double_quoted_identifier_preserved():
    # The reference's scanner consumed every '"' char and mangled
    # double-quoted identifiers (SURVEY.md §3.1) — fixed here.
    stmts = split_statements('SELECT "a;b" FROM t; SELECT 2')
    assert stmts == ['SELECT "a;b" FROM t', "SELECT 2"]


def test_strip_line_comments_only_outside_strings():
    sql = "SELECT 'a--b' AS x -- trailing\nFROM t"
    out = strip_comments(sql)
    assert "'a--b'" in out and "trailing" not in out


def test_strip_block_comments():
    assert strip_comments("SELECT /* c1 */ 1") == "SELECT  1"


def test_blank_and_comment_lines_removed():
    sql = "\n-- full line comment\nSELECT 1\n\n"
    assert strip_comments(sql) == "SELECT 1"


def test_extract_table_names_dedup_and_cap():
    sql = "SELECT * FROM a JOIN b ON 1=1 JOIN a ON 1=1"
    assert extract_table_names(sql) == ["a", "b"]
    many = " ".join(f"JOIN t{i}" for i in range(10))
    assert len(extract_table_names(many, limit=5)) == 5


def test_table_names_skip_if_exists():
    assert extract_table_names("DROP TABLE IF EXISTS t1") == ["t1"]
    assert extract_table_names("create table if not exists s.t2 AS SELECT 1") == ["s.t2"]


def test_escape_sql_literal():
    assert sql_str("it's") == "'it\\'s'"
    assert sql_str("a\\b") == "'a\\\\b'"
