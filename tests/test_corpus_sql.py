"""The corpus pass built from SQL text: py4j round-trip and Spark-job
budgets, and edge inputs for the converted operators.

``clean_corpus``, ``minhash_lsh_pairs`` and ``prepare_corpus`` build
their plans from quoted SQL text, so a plan costs a handful of py4j
round trips instead of thousands of Column calls. The budgets below are
upper bounds (round trips from the ``count_round_trips`` fixture, jobs
from ``count_jobs``): a change cannot add plan-building calls or Spark
jobs to the corpus pass without failing a test. Column-built plans
measured 1615 round trips for ``clean_corpus``, 3553 for
``minhash_lsh_pairs`` and 2238 for a ``prepare_corpus`` call on the
sf0.01 documents, and 8 jobs for ``prepare_corpus``.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from data_pipelines_snowflake_procedures_spark.operators.corpus import (
    chunk_documents,
    clean_corpus,
    stratified_split,
)
from data_pipelines_snowflake_procedures_spark.operators.dedup import (
    dup_span_dedup,
    dup_span_profile,
    embedding_near_dup_blocked,
    embedding_near_dup_kmeans,
    embedding_near_dup_pairs,
    lsh_bucket_stats,
    minhash_lsh_pairs,
    simhash,
    simhash_near_dup_pairs,
    split_oversized_cells,
)
from data_pipelines_snowflake_procedures_spark.operators.profile import ident
from data_pipelines_snowflake_procedures_spark.operators.similarity import (
    ivf_residuals,
    knn_bruteforce,
    knn_ivf,
    knn_ivfpq,
    knn_lsh,
    knn_pq,
    knn_sq,
    pq_fit,
    sq_bounds,
)
from data_pipelines_snowflake_procedures_spark.operators.text import (
    detect_language,
    fingerprint,
    quality_score,
    shingles,
    tokens,
    ws_token_count,
)
from data_pipelines_snowflake_procedures_spark.pipelines.corpus_prep import (
    prepare_corpus,
)
from data_pipelines_snowflake_procedures_spark.session import load_table

#: Texts that trip tokenizers: NULL, empty, whitespace only, a leading
#: newline, a trailing tab, runs of mixed whitespace, near duplicates.
BASE = (
    "the quick brown fox jumps over the lazy dog and it is a fine day "
    "for a walk in the park with the cat that is in the hat"
)
EDGE_TEXTS = [
    None,
    "",
    "   ",
    "\t\n ",
    "\n" + BASE,
    BASE + "\t",
    " " + BASE.replace(" ", " \t\n ") + " ",
    BASE.upper(),
    BASE.replace("park", "yard"),
    BASE.replace("fox", "cow").replace("dog", "pig"),
    "el la de los que un una y en " * 6,
    "a b",
    "one two three",
]

ODD_ID, ODD_TEXT, ODD_OTHER = "a.b", "c`d", "e f"


def _edge_frames(spark):
    """The edge texts under plain names and under odd names."""
    rows = [(i + 1, t, f"r{i}") for i, t in enumerate(EDGE_TEXTS)]
    plain = spark.createDataFrame(rows, "doc_id BIGINT, text STRING, other STRING")
    odd = plain.toDF(ODD_ID, ODD_TEXT, ODD_OTHER)
    return plain, odd


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").localCheckpoint()


def test_corpus_plans_round_trip_budget(docs, count_round_trips):
    clean_corpus(docs)  # first calls look up JVM classes once
    minhash_lsh_pairs(docs)
    assert count_round_trips(lambda: clean_corpus(docs)) <= 40
    assert count_round_trips(lambda: minhash_lsh_pairs(docs)) <= 270
    out = {}
    assert count_round_trips(lambda: out.update(prepare_corpus(docs))) <= 210
    assert out["status"] == "SUCCESS"


def test_corpus_job_budget(docs, count_jobs):
    out = {}
    assert count_jobs("corpus-prepare", lambda: out.update(prepare_corpus(docs))) <= 6
    assert out["status"] == "SUCCESS"
    assert count_jobs(
        "corpus-minhash", lambda: minhash_lsh_pairs(out["cleaned"]).localCheckpoint()
    ) <= 4


def test_text_builders_quote_odd_names(spark):
    plain, odd = _edge_frames(spark)
    text = F.col(ident(ODD_TEXT))
    by_name = odd.select(
        tokens(ODD_TEXT), ws_token_count(ODD_TEXT), quality_score(ODD_TEXT),
        detect_language(ODD_TEXT), fingerprint(ODD_TEXT), shingles(ODD_TEXT, 2),
    )
    by_column = odd.select(
        tokens(text), ws_token_count(text), quality_score(text),
        detect_language(text), fingerprint(text), shingles(text, 2),
    )
    on_plain = plain.select(
        tokens("text"), ws_token_count("text"), quality_score("text"),
        detect_language("text"), fingerprint("text"), shingles("text", 2),
    )
    assert _rows(by_name) == _rows(by_column) == _rows(on_plain)
    counts = [r[0] for r in plain.select(ws_token_count("text")).collect()]
    # NULL reads as empty text; Spark's trim strips spaces only, so
    # "\t\n " splits into two empty tokens
    assert counts[:4] == [1, 1, 1, 2]
    langs = [r[0] for r in plain.select(detect_language("text")).collect()]
    assert langs[:4] == ["und"] * 4 and langs[4] == "en" and langs[10] == "es"


def test_clean_corpus_on_edge_inputs_and_odd_names(spark):
    plain, odd = _edge_frames(spark)
    loose = dict(min_quality=0.0, languages=("en", "es", "und"))
    ref = clean_corpus(plain, **loose)
    got = clean_corpus(odd, text_col=ODD_TEXT, id_col=ODD_ID, **loose)
    assert got.columns[:3] == [ODD_ID, ODD_TEXT, ODD_OTHER]
    assert _rows(got) == _rows(ref)
    kept = {r["doc_id"] for r in ref.collect()}
    # NULL, empty and blank texts share one fingerprint and the minimum
    # id stays; "\t\n " and the leading newline and trailing tab keep
    # an empty token, so only the upper-cased copy folds into the
    # whitespace-mangled one
    assert {1, 4, 5, 6, 7} <= kept and not kept & {2, 3, 8}
    assert _rows(clean_corpus(odd, text_col=ODD_TEXT, id_col=ODD_ID)) == _rows(
        clean_corpus(plain)
    )


@pytest.mark.parametrize("n", [1, 3])
def test_minhash_on_edge_inputs_and_odd_names(spark, n):
    plain, odd = _edge_frames(spark)
    ref = minhash_lsh_pairs(plain, n=n, threshold=0.5)
    got = minhash_lsh_pairs(odd, text_col=ODD_TEXT, id_col=ODD_ID, n=n, threshold=0.5)
    pairs = _rows(got)
    assert pairs == _rows(ref)
    # the whitespace-mangled and upper-cased copies have one shingle set
    assert (7, 8, 1.0) in pairs
    assert all(0.5 <= j <= 1.0 for *_, j in pairs)
    capped = minhash_lsh_pairs(
        odd, text_col=ODD_TEXT, id_col=ODD_ID, n=n, threshold=0.5, max_bucket_size=2
    )
    assert set(_rows(capped)) <= set(pairs)
    stats = lsh_bucket_stats(odd, text_col=ODD_TEXT, id_col=ODD_ID, n=n).collect()
    assert _rows(lsh_bucket_stats(plain, n=n)) == sorted(map(tuple, stats), key=repr)


@pytest.mark.parametrize("chunk_tokens,overlap", [(4, 1), (5, 4), (7, 0), (256, 32)])
def test_prepare_corpus_chunk_count_matches_chunks(spark, chunk_tokens, overlap):
    plain, odd = _edge_frames(spark)
    out = prepare_corpus(
        odd, text_col=ODD_TEXT, id_col=ODD_ID, min_quality=0.0,
        languages=("en", "es", "und"), chunk_tokens=chunk_tokens, chunk_overlap=overlap,
    )
    assert out["status"] == "SUCCESS", out.get("error")
    n_chunks = out["stages"]["chunks"]
    assert n_chunks == out["chunks"].count()
    assert out["chunks"].columns == [ODD_ID, "chunk_id", "chunk_text", "n_tokens"]
    step = chunk_tokens - overlap
    kept = [r[ODD_TEXT] for r in out["cleaned"].collect()]
    assert n_chunks == sum(math.ceil(len((t or "").split()) / step) for t in kept)
    ref = prepare_corpus(
        plain, min_quality=0.0, languages=("en", "es", "und"),
        chunk_tokens=chunk_tokens, chunk_overlap=overlap,
    )
    assert ref["stages"] == out["stages"]
    assert ref["split_counts"] == out["split_counts"]
    assert _rows(ref["chunks"]) == _rows(out["chunks"])
    assert _rows(chunk_documents(plain, chunk_tokens=chunk_tokens, overlap=overlap)) == _rows(
        chunk_documents(odd, text_col=ODD_TEXT, id_col=ODD_ID, chunk_tokens=chunk_tokens, overlap=overlap)
    )


def test_split_and_dedup_operators_quote_odd_names(spark):
    """The stratified split, the span, SimHash, embedding and k-means
    dedup operators, the PQ codebook fit, the IVF residuals and the six
    kNN searches give the same rows on odd column names as on plain
    ones."""
    plain, _ = _edge_frames(spark)
    plain = plain.withColumn("other", F.expr("CAST(doc_id % 3 AS STRING)"))
    odd = plain.toDF(ODD_ID, ODD_TEXT, ODD_OTHER)
    names = dict(text_col=ODD_TEXT, id_col=ODD_ID)
    split = stratified_split(odd, id_col=ODD_ID, strata_col=ODD_OTHER)
    assert split.columns == [ODD_ID, ODD_TEXT, ODD_OTHER, "split"]
    assert _rows(split) == _rows(stratified_split(plain, strata_col="other"))
    for op, kw in (
        (dup_span_profile, dict(n=2)),
        (dup_span_dedup, dict(n=2)),
        (simhash, {}),
        (simhash_near_dup_pairs, dict(max_hamming=3)),
    ):
        got = op(odd, **names, **kw)
        assert _rows(got) == _rows(op(plain, **kw)), op.__name__
    assert (7, 8, 0) in _rows(simhash_near_dup_pairs(odd, **names, max_hamming=3))
    dims = 4
    vectors = [(i, [float((i * 7 + d) % 5) + (i % 2) * 1e-3 for d in range(dims)]) for i in range(1, 9)]
    plain = spark.createDataFrame(vectors, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    odd = plain.toDF(ODD_ID, ODD_TEXT)
    names = dict(emb_col=ODD_TEXT, id_col=ODD_ID)
    pairs = _rows(embedding_near_dup_pairs(odd, **names))
    assert pairs and pairs == _rows(embedding_near_dup_pairs(plain))
    blocked = embedding_near_dup_blocked(odd, **names, n_planes=2, dim=dims)
    assert _rows(blocked) == _rows(embedding_near_dup_blocked(plain, n_planes=2, dim=dims))
    kmeans = embedding_near_dup_kmeans(odd, **names, k=2, max_cell_size=3)
    assert _rows(kmeans) == _rows(embedding_near_dup_kmeans(plain, k=2, max_cell_size=3))
    one_cell = plain.withColumn("cluster", F.lit(0).cast("long"))
    cells = split_oversized_cells(
        one_cell.toDF(ODD_ID, ODD_OTHER, ODD_TEXT), 3, k=2, emb_col=ODD_OTHER, id_col=ODD_ID, cluster_col=ODD_TEXT
    )
    assert cells.columns == [ODD_ID, ODD_OTHER, ODD_TEXT]
    assert _rows(cells) == _rows(split_oversized_cells(one_cell, 3, k=2, emb_col="embedding", id_col="vec_id"))
    books = pq_fit(odd, m=2, k=2, dim=dims, **names)
    assert books == pq_fit(plain, m=2, k=2, dim=dims)
    coarse = [[0.0] * dims, [4.0] * dims]
    residuals = ivf_residuals(odd, coarse, **names)
    assert residuals.columns == [ODD_ID, ODD_TEXT, "cell", "remb"]
    assert _rows(residuals) == _rows(ivf_residuals(plain, coarse))
    bounds = sq_bounds(plain)
    assert sq_bounds(odd, emb_col=ODD_TEXT) == bounds
    centroids = plain.filter(F.col("vec_id") <= 2).toDF("centroid_id", "embedding")
    searches = (
        (knn_bruteforce, dict(k=3), {}),
        (knn_ivf, dict(k=3, nprobe=2, centroids=centroids), dict(centroids=centroids.toDF("centroid_id", ODD_TEXT))),
        (knn_lsh, dict(k=3, n_planes=2, dim=dims), {}),
        (knn_sq, dict(k=3, rerank=2, bounds=bounds), {}),
        (knn_pq, dict(k=3, rerank=2, codebooks=books), {}),
        (knn_ivfpq, dict(k=3, nprobe=2, rerank=2, coarse=coarse, codebooks=books), {}),
    )
    for op, kw, odd_kw in searches:
        got = _rows(op(odd, odd.filter(F.col(ident(ODD_ID)) < 4), **names, **{**kw, **odd_kw}))
        assert got and got == _rows(op(plain, plain.filter(F.col("vec_id") < 4), **kw)), op.__name__
