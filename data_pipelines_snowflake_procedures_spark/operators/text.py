"""Text analysis operators for LLM training-data pipelines: token
counting, quality scoring, language ID, document fingerprinting.

Not present in the reference (its domain stops at DQ/PII); these are
the north-star extensions called for by SURVEY.md §7 step 8, built for
the ``documents`` harness table and any corpus with a text column.

Everything here is a **native expression** — no Python UDFs, so the
hot path stays inside the JVM and scales as a narrow (shuffle-free)
projection over arbitrarily many partitions. Cross-engine determinism
(for the DuckDB oracle gate) comes from md5-based hashing: Spark
``md5`` and DuckDB ``md5`` agree bit-for-bit, unlike xxhash64 which
DuckDB lacks.

**SQL text, not Column calls.** Each per-document signal has ONE
definition: a ``*_sql`` generator returning a SQL expression string,
with the text column's name quoted by :func:`profile.ident` (a dot, a
backtick or a space in a name is data, not syntax). The Column form
(``tokens``, ``quality_score``, …) wraps that string once in
``F.expr``; plan builders such as ``corpus.clean_corpus`` and
``dedup.minhash_lsh_pairs`` put the strings straight into one
``selectExpr``. Each PySpark Column call is a py4j round trip to the
JVM: the Column-built quality score, language ID and fingerprint took
about 1600 round trips per ``clean_corpus`` plan, the SQL text takes
a handful.

**Why the lambdas stay.** A token array used k times in one
expression is bound ONCE with ``transform(array(x), v -> body)[0]``
(:func:`_let_sql`). Spark's common-subexpression elimination does not
reach into lambda bodies or CASE branches, so an inlined array is
re-split at every use (measured: the inlined quality score split each
text 7×, score + language ID 22×); a lambda-free rewrite of the
corpus pass measured slower (979 vs 752 ms warm) for that reason.

At 100 TB: all per-document ops are embarrassingly parallel; the only
caveat is very long documents inflating token arrays — cap with
``slice`` before arrayful ops if documents exceed ~1 MB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .profile import ident, sql_str

#: BPE-ish pre-tokenizer: alphanumeric runs or single non-space symbols
#: (the classic GPT-2-style split, minus unicode categories).
BPE_TOKEN_RE = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"

#: Tiny per-language stopword lists for the n-gram/stopword language
#: heuristic. Deliberately small: the point is the operator shape
#: (argmax over per-language hit counts), not lexicon quality.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "los", "las", "y", "en", "que", "un", "una"],
    "fr": ["le", "la", "les", "des", "et", "en", "une", "est", "du", "dans"],
    "de": ["der", "die", "das", "und", "ein", "eine", "von", "zu", "mit", "ist"],
}

#: Generic stopword set for quality scoring (English-biased, like most
#: pretraining quality heuristics).
QUALITY_STOPWORDS = LANG_STOPWORDS["en"]

#: SQL literals of the whitespace and non-punctuation patterns.
_WS_SQL = sql_str(r"\s+")
_NOT_PUNCT_SQL = sql_str(r"[A-Za-z0-9\s]")


def _sql(col: str | Column) -> str:
    """``col`` as SQL text. A name is quoted with :func:`ident`; a
    Column is rendered by the session's expression converter, which
    quotes every name part (the Column's own ``node().sql()`` leaves a
    backtick or a space bare on Spark 4.1)."""
    if isinstance(col, str):
        return ident(col)
    return SparkSession.active()._jsparkSession.expression(col._jc).sql()


def _text_sql(col: str | Column) -> str:
    """The text with NULL read as empty text. NULL text is treated as
    empty text everywhere in this module — otherwise NULLs propagate
    through hit-count comparisons and flip downstream CASE chains to
    their fallback branches (a NULL document would language-classify
    as the last language checked)."""
    return f"coalesce({_sql(col)}, '')"


def _let_sql(value: str, var: str, body: str) -> str:
    """Let-binding in SQL text: evaluate ``value`` ONCE per row and
    evaluate ``body`` with it bound to ``var``. ``transform(array(x),
    v -> f(v))[0] == f(x)`` for any x: the array is never null and the
    lambda runs on exactly that element. See the module docstring for
    why the binding is a lambda."""
    return f"transform(array({value}), {var} -> {body})[0]"


def _let(value: Column, body) -> Column:
    """:func:`_let_sql` for Column expressions built in Python."""
    return F.transform(F.array(value), body)[0]


def _words_sql(words: list[str]) -> str:
    return "array(" + ", ".join(sql_str(w) for w in words) + ")"


def tokens_sql(col: str | Column) -> str:
    """Whitespace tokens of the lowercased, trimmed text."""
    return f"split(lower(trim({_text_sql(col)})), {_WS_SQL})"


def tokens(col: str | Column) -> Column:
    return F.expr(tokens_sql(col))


def ws_token_count_sql(col: str | Column) -> str:
    return f"CAST(size({tokens_sql(col)}) AS BIGINT)"


def ws_token_count(col: str | Column) -> Column:
    return F.expr(ws_token_count_sql(col))


def bpe_token_count(col: str | Column) -> Column:
    """Count of BPE-ish pre-tokens (alnum runs + isolated symbols)."""
    return F.expr(
        f"CAST(size(regexp_extract_all({_text_sql(col)}, {sql_str(BPE_TOKEN_RE)}, 0))"
        " AS BIGINT)"
    )


def punct_ratio_sql(col: str | Column) -> str:
    """Share of characters that are neither alphanumeric nor whitespace."""
    c = _text_sql(col)
    punct = f"length(regexp_replace({c}, {_NOT_PUNCT_SQL}, ''))"
    return (
        f"CASE WHEN length({c}) > 0 THEN CAST({punct} AS DOUBLE) / "
        f"CAST(length({c}) AS DOUBLE) ELSE 0.0D END"
    )


def punct_ratio(col: str | Column) -> Column:
    return F.expr(punct_ratio_sql(col))


def _mean_len_sql(toks: str) -> str:
    """Mean token length over the bound token array ``toks``."""
    total = f"aggregate(transform({toks}, x -> length(x)), 0, (acc, x) -> acc + x)"
    return (
        f"CASE WHEN size({toks}) > 0 THEN CAST({total} AS DOUBLE) / "
        f"CAST(size({toks}) AS DOUBLE) ELSE 0.0D END"
    )


def mean_token_length(col: str | Column) -> Column:
    return F.expr(_let_sql(tokens_sql(col), "__t", _mean_len_sql("__t")))


def _hits_sql(toks: str, words: list[str]) -> str:
    """Distinct ``words`` present in the token array (set intersection
    size — deterministic and cheap; frequency-weighted variants can use
    explode + join when lexicons outgrow literal arrays)."""
    return f"CAST(size(array_intersect({toks}, {_words_sql(words)})) AS BIGINT)"


def stopword_hits(col: str | Column, words: list[str] | None = None) -> Column:
    return F.expr(_hits_sql(tokens_sql(col), words or QUALITY_STOPWORDS))


def quality_score_sql(col: str | Column) -> str:
    """Four pretraining-quality gates as 0/1 indicators, averaged: in
    [0, 1] steps of 0.25. Indicator (not continuous) scoring keeps the
    result exactly portable across engines — no float-rounding edge
    cases at the pass boundary. The gates: 50-20000 characters, mean
    token length 2-12, at least one stopword, at most 20% punctuation.
    The token array is bound once for the two token gates."""
    c = _text_sql(col)
    tok_len_ok = _let_sql(_mean_len_sql("__t"), "__m", "__m >= 2.0D AND __m <= 12.0D")
    token_gates = (
        f"CASE WHEN {tok_len_ok} THEN 1 ELSE 0 END + CASE WHEN "
        f"size(array_intersect(__t, {_words_sql(QUALITY_STOPWORDS)})) >= 1 "
        "THEN 1 ELSE 0 END"
    )
    return (
        f"CAST(CASE WHEN length({c}) >= 50 AND length({c}) <= 20000 THEN 1 ELSE 0 END"
        f" + {_let_sql(tokens_sql(col), '__t', token_gates)}"
        f" + CASE WHEN {punct_ratio_sql(col)} <= 0.2D THEN 1 ELSE 0 END AS DOUBLE) / 4.0D"
    )


def quality_score(col: str | Column) -> Column:
    return F.expr(quality_score_sql(col))


def detect_language_sql(col: str | Column) -> str:
    """Stopword-hit argmax language ID with fixed tie order
    en > es > fr > de; 'und' when nothing matches. The token array is
    bound once for all four languages and the four hit counts once for
    the whole CASE chain (inlined, the chain re-split the text 16× and
    re-intersected each lexicon up to 4× per row)."""
    hits = "named_struct(" + ", ".join(
        f"{sql_str(lang)}, {_hits_sql('__t', words)}"
        for lang, words in LANG_STOPWORDS.items()
    ) + ")"
    en, es, fr, de = (f"__h.{lang}" for lang in LANG_STOPWORDS)
    argmax = (
        f"CASE WHEN {en} = 0 AND {es} = 0 AND {fr} = 0 AND {de} = 0 THEN 'und' "
        f"WHEN {en} >= {es} AND {en} >= {fr} AND {en} >= {de} THEN 'en' "
        f"WHEN {es} >= {fr} AND {es} >= {de} THEN 'es' "
        f"WHEN {fr} >= {de} THEN 'fr' ELSE 'de' END"
    )
    return _let_sql(tokens_sql(col), "__t", _let_sql(hits, "__h", argmax))


def detect_language(col: str | Column) -> Column:
    return F.expr(detect_language_sql(col))


def fingerprint_sql(col: str | Column) -> str:
    """Whole-document fingerprint: md5 of the whitespace-normalized,
    lowercased text. Identical logical content → identical hash."""
    return f"md5(concat_ws(' ', {tokens_sql(col)}))"


def fingerprint(col: str | Column) -> Column:
    return F.expr(fingerprint_sql(col))


def positional_shingles_sql(col: str | Column, n: int = 3) -> str:
    """ALL n-token shingles in document order (element ``i`` starts at
    token ``i``; duplicates kept — position matters). Empty array when
    the document has fewer than ``n`` tokens.

    The token array is bound once and each shingle reads its next
    ``n - 1`` tokens by index from the bound array: indexing an
    UNBOUND split inside the lambda would re-split the text per token,
    turning shingling O(L²) per document (measured ~10× on the
    bigram-LM operator before the same fix)."""
    nxt = "".join(f", __t[__i + {k}]" for k in range(1, n))
    body = (
        f"transform(slice(__t, 1, greatest(size(__t) - {n - 1}, 0)), "
        f"(__w, __i) -> concat_ws(' ', __w{nxt}))"
    )
    return _let_sql(tokens_sql(col), "__t", body)


def positional_shingles(col: str | Column, n: int = 3) -> Column:
    return F.expr(positional_shingles_sql(col, n))


def shingles_sql(col: str | Column, n: int = 3) -> str:
    """Distinct n-token shingles (set semantics — the Jaccard/MinHash
    unit). See :func:`positional_shingles_sql` for the ordered form."""
    return f"array_distinct({positional_shingles_sql(col, n)})"


def shingles(col: str | Column, n: int = 3) -> Column:
    return F.expr(shingles_sql(col, n))


def min_shingle_fingerprint(col: str | Column, n: int = 3) -> Column:
    """Rolling-hash-style locality fingerprint: minimum md5 over the
    document's n-token shingles (a 1-permutation MinHash). Documents
    sharing their minimal shingle collide — cheap near-dup blocking."""
    return F.expr(
        _let_sql(
            shingles_sql(col, n),
            "__s",
            "CASE WHEN size(__s) > 0 THEN array_min(transform(__s, x -> md5(x))) "
            "ELSE md5('') END",
        )
    )


def trim_repeated_lines(col: str | Column) -> Column:
    """Intra-document repeated-line removal — the crawl-cleaning
    transform that strips per-page boilerplate (nav bars, cookie
    banners, footers) repeated WITHIN one document: keep each line's
    first occurrence, preserving order. Map-only narrow expression
    (split → array_distinct → join); no Python, no shuffle — pairs
    with the cross-document detectors in operators/dedup.py, which
    never see within-doc repetition."""
    c = F.col(ident(col)) if isinstance(col, str) else col
    return F.array_join(F.array_distinct(F.split(c, "\n")), "\n")


#: RE2-safe (Java+DuckDB identical) markup patterns, most-specific first.
MARKUP_PATTERNS: list[str] = [
    r"https?://[^\s]+",                                   # URLs
    r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",    # emails
    r"<[^>]+>",                                           # HTML tags
]


def strip_markup(col: str | Column) -> Column:
    """Remove web markup noise (URLs, e-mail addresses, HTML tags) and
    collapse the leftover whitespace — the first transform of every
    crawl-to-training-text pipeline. Pure regexp_replace chain
    (whole-stage codegen); patterns avoid lookarounds and ``\\b`` so
    Java and RE2 engines agree character-for-character."""
    c = F.col(ident(col)) if isinstance(col, str) else col
    for pat in MARKUP_PATTERNS:
        c = F.regexp_replace(c, pat, "")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def _nonempty_lines(c: Column) -> Column:
    return F.filter(
        F.transform(F.split(c, "\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )


def _nonempty_tokens(c: Column) -> Column:
    return F.filter(tokens(c), lambda t: t != "")


def repetition_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals, one narrow projection:

    * ``dup_line_frac`` — fraction of non-empty lines that are repeats
      of another line (1 - distinct/total).
    * ``dup_line_char_frac`` — fraction of line characters living in
      lines that occur more than once.
    * ``top_bigram_frac`` — fraction of token bigrams taken by the
      most frequent bigram.

    Boilerplate-heavy and template-generated pages score high on all
    three; the standard pretraining filter drops documents above
    thresholds (e.g. dup_line_frac > 0.3, top_bigram_frac > 0.2).

    All signals are per-document array expressions (no shuffle, no
    UDF). The within-document counting is O(L²)/O(B²) in lines/bigrams
    per document — fine for web-page-sized docs; cap pathological
    documents with ``F.slice`` upstream if a corpus has multi-MB texts.

    The line/bigram arrays are BOUND as columns in a first projection
    before any nested lambda references them: Spark performs no
    common-subexpression elimination inside lambda bodies, so the
    nested duplicate-count filters over a captured split expression
    would otherwise re-split the text per comparison (an extra O(L)
    factor on the already-quadratic counting).
    """
    c = F.coalesce(F.col(ident(text_col)), F.lit(""))
    toks0 = _nonempty_tokens(c)
    n_big = F.greatest(F.size(toks0) - 1, F.lit(0))
    bound = df.select(
        "*",
        _nonempty_lines(c).alias("__lines"),
        F.transform(
            F.arrays_zip(
                F.slice(toks0, 1, n_big).alias("a"),
                F.slice(toks0, 2, n_big).alias("b"),
            ),
            lambda s: F.concat_ws(" ", s["a"], s["b"]),
        ).alias("__bigrams"),
    )
    lines = F.col("__lines")
    bigrams = F.col("__bigrams")

    line_chars = F.aggregate(
        F.transform(lines, lambda l: F.length(l)), F.lit(0), lambda a, x: a + x
    )
    dup_line_chars = F.aggregate(
        F.transform(
            F.filter(
                lines,
                lambda l: F.size(F.filter(lines, lambda x: x == l)) > 1,
            ),
            lambda l: F.length(l),
        ),
        F.lit(0),
        lambda a, x: a + x,
    )
    top_bigram_n = F.array_max(
        F.transform(
            F.array_distinct(bigrams),
            lambda b: F.size(F.filter(bigrams, lambda x: x == b)),
        )
    )
    return bound.select(
        F.col(ident(id_col)),
        F.size(lines).cast("long").alias("n_lines"),
        F.when(
            F.size(lines) > 0,
            F.round(
                1.0 - F.size(F.array_distinct(lines)).cast("double")
                / F.size(lines).cast("double"),
                6,
            ),
        ).otherwise(F.lit(0.0)).alias("dup_line_frac"),
        F.when(
            line_chars > 0,
            F.round(
                F.coalesce(dup_line_chars, F.lit(0)).cast("double")
                / line_chars.cast("double"),
                6,
            ),
        ).otherwise(F.lit(0.0)).alias("dup_line_char_frac"),
        F.when(
            F.size(bigrams) > 0,
            F.round(
                top_bigram_n.cast("double") / F.size(bigrams).cast("double"), 6
            ),
        ).otherwise(F.lit(0.0)).alias("top_bigram_frac"),
    )


def text_profile(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One-pass per-document text profile: counts, ratios, quality,
    language, fingerprints — a single narrow projection. NULL text
    profiles as empty text (see :func:`_text_sql`)."""
    return df.select(
        F.col(ident(id_col)),
        ws_token_count(text_col).alias("n_tokens_ws"),
        bpe_token_count(text_col).alias("n_tokens_bpe"),
        F.expr(f"CAST(length({_text_sql(text_col)}) AS BIGINT)").alias("n_chars"),
        F.round(mean_token_length(text_col), 4).alias("mean_token_len"),
        F.round(punct_ratio(text_col), 4).alias("punct_ratio"),
        F.round(quality_score(text_col), 2).alias("quality_score"),
        detect_language(text_col).alias("detected_lang"),
        fingerprint(text_col).alias("fingerprint"),
        min_shingle_fingerprint(text_col).alias("min_shingle_fp"),
    )
