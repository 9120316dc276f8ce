"""Driver-side SQL text processing (reference ops F7-F10, SURVEY.md §2.7).

The reference cleans and splits multi-statement SQL with a hand-rolled
state machine (Execution_Engine_Ingestion_Transformatio.sql:26-52) whose
double-quote branch is unreachable — every ``"`` character is consumed
and double-quoted identifiers are mangled (SURVEY.md §3.1). This module
keeps the same surface but implements a correct scanner:

* single-quoted strings with ``''`` escaping,
* double-quoted identifiers with ``""`` escaping,
* ``--`` line comments and ``/* */`` block comments,
* statements split on ``;`` only outside all of the above.

Everything here operates on SQL *text* on the driver; no data movement.
"""

from __future__ import annotations

import re

#: Table-name detector over executed SQL text (reference F7/J3:
#: Execution_Engine_Ingestion_Transformatio.sql:77). ``IF [NOT] EXISTS``
#: after ``TABLE`` is skipped, so ``DROP TABLE IF EXISTS t`` names ``t``,
#: not a table called ``IF``.
TABLE_NAME_RE = re.compile(
    r"(?:from|join|into|update|table)\s+(?:if\s+(?:not\s+)?exists\s+)?"
    r"([a-zA-Z0-9_\.]+)",
    re.IGNORECASE,
)

def strip_comments(sql_code: str) -> str:
    """Remove ``--`` line comments, ``/* */`` block comments, and blank
    lines while preserving comment-like text inside string literals.

    (Reference F8 dropped whole lines containing ``--`` anywhere, which
    destroys statements like ``SELECT 'a--b'``; we only strip true
    comments.)
    """
    out: list[str] = []
    i, n = 0, len(sql_code)
    in_single = in_double = False
    in_line_comment = in_block_comment = False
    while i < n:
        ch = sql_code[i]
        nxt = sql_code[i + 1] if i + 1 < n else ""
        if in_line_comment:
            if ch == "\n":
                in_line_comment = False
                out.append(ch)
            i += 1
            continue
        if in_block_comment:
            if ch == "*" and nxt == "/":
                in_block_comment = False
                i += 2
            else:
                i += 1
            continue
        if in_single:
            out.append(ch)
            if ch == "'":
                if nxt == "'":
                    out.append(nxt)
                    i += 2
                    continue
                in_single = False
            i += 1
            continue
        if in_double:
            out.append(ch)
            if ch == '"':
                if nxt == '"':
                    out.append(nxt)
                    i += 2
                    continue
                in_double = False
            i += 1
            continue
        if ch == "-" and nxt == "-":
            in_line_comment = True
            i += 2
            continue
        if ch == "/" and nxt == "*":
            in_block_comment = True
            i += 2
            continue
        if ch == "'":
            in_single = True
        elif ch == '"':
            in_double = True
        out.append(ch)
        i += 1
    lines = [ln for ln in "".join(out).splitlines() if ln.strip()]
    return "\n".join(lines)


def split_statements(sql_code: str) -> list[str]:
    """Split a SQL batch on ``;`` outside strings/identifiers/comments.

    Correct replacement for the reference's scanner (F9): its
    ``continue``-without-append on every ``"`` made the double-quote
    state unreachable and dropped the character from output. Here quote
    characters are preserved and tracked.
    """
    cleaned = strip_comments(sql_code)
    statements: list[str] = []
    buf: list[str] = []
    i, n = 0, len(cleaned)
    in_single = in_double = False
    while i < n:
        ch = cleaned[i]
        nxt = cleaned[i + 1] if i + 1 < n else ""
        if in_single:
            buf.append(ch)
            if ch == "'":
                if nxt == "'":
                    buf.append(nxt)
                    i += 2
                    continue
                in_single = False
            i += 1
            continue
        if in_double:
            buf.append(ch)
            if ch == '"':
                if nxt == '"':
                    buf.append(nxt)
                    i += 2
                    continue
                in_double = False
            i += 1
            continue
        if ch == "'":
            in_single = True
            buf.append(ch)
        elif ch == '"':
            in_double = True
            buf.append(ch)
        elif ch == ";":
            stmt = "".join(buf).strip()
            if stmt:
                statements.append(stmt)
            buf = []
        else:
            buf.append(ch)
        i += 1
    tail = "".join(buf).strip()
    if tail:
        statements.append(tail)
    return statements


def extract_table_names(sql: str, limit: int = 5) -> list[str]:
    """Distinct table names referenced by a statement, in first-seen
    order, capped at ``limit`` (reference X2 previews ≤5 tables)."""
    seen: list[str] = []
    for match in TABLE_NAME_RE.findall(sql):
        name = match.strip().rstrip(".")
        if name and name.lower() not in (s.lower() for s in seen):
            seen.append(name)
        if len(seen) >= limit:
            break
    return seen
