"""Unit tests for the LLM training-data operators (text / dedup /
similarity) — edge semantics the DuckDB oracle queries don't reach."""

from __future__ import annotations

import pytest

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_pipelines_snowflake_procedures_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    token_jaccard_pairs,
)
from data_pipelines_snowflake_procedures_spark.operators.similarity import (
    knn_bruteforce,
    knn_lsh,
    srp_hyperplanes,
)
from data_pipelines_snowflake_procedures_spark.operators.text import (
    text_profile,
)


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "The  quick brown fox jumps over the lazy dog"),  # ws/case variant
            (3, "el perro y el gato en la casa que es una"),
            (4, "completely different words entirely unrelated content here"),
            (5, "x"),  # single short token
        ],
        ["doc_id", "text"],
    )


def test_text_profile_edges(spark):
    prof = {r["doc_id"]: r for r in text_profile(_docs(spark)).collect()}
    assert prof[1]["n_tokens_ws"] == 9
    assert prof[1]["detected_lang"] == "en"
    assert prof[3]["detected_lang"] == "es"
    assert prof[5]["detected_lang"] == "und"
    # whitespace/case-insensitive fingerprint: 1 and 2 collide
    assert prof[1]["fingerprint"] == prof[2]["fingerprint"]
    # fewer than 3 tokens → sentinel min-shingle fingerprint
    assert prof[5]["min_shingle_fp"] == prof[5]["min_shingle_fp"]
    assert prof[5]["n_tokens_ws"] == 1


def test_exact_dedup_keeps_min_id(spark):
    kept = exact_dedup(_docs(spark)).select("doc_id").collect()
    ids = sorted(r["doc_id"] for r in kept)
    assert ids == [1, 3, 4, 5]  # doc 2 normalizes into doc 1


def test_jaccard_and_lsh_agree_on_identical_docs(spark):
    exact = token_jaccard_pairs(_docs(spark), threshold=0.9).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in exact} == {(1, 2)}
    assert exact[0]["jaccard"] == 1.0
    # n=1 pinned: this test compares against token_jaccard_pairs, whose
    # unit is the raw token set (the operator default is now n=3)
    lsh = minhash_lsh_pairs(_docs(spark), threshold=0.9, n=1).collect()
    # identical token sets share every band → LSH must find the pair
    assert {(r["doc_a"], r["doc_b"]) for r in lsh} == {(1, 2)}


def test_repetition_signals_edges(spark):
    from data_pipelines_snowflake_procedures_spark.operators.text import (
        repetition_signals,
    )

    df = spark.createDataFrame(
        [
            (1, "same line\nsame line\nother line"),
            (2, "spam spam spam spam"),
            (3, "all words here are different tokens"),
            (4, None),
            (5, "one"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    assert out[1]["n_lines"] == 3
    assert abs(out[1]["dup_line_frac"] - (1 - 2 / 3)) < 1e-6
    # 18 of 28 line chars live in the duplicated "same line" lines
    assert abs(out[1]["dup_line_char_frac"] - 18 / 28) < 1e-6
    # "spam spam" is all 3 bigrams
    assert out[2]["top_bigram_frac"] == 1.0
    assert out[3]["dup_line_frac"] == 0.0
    # every bigram unique -> 1/5
    assert abs(out[3]["top_bigram_frac"] - 0.2) < 1e-6
    assert out[4]["n_lines"] == 0 and out[4]["top_bigram_frac"] == 0.0
    assert out[5]["top_bigram_frac"] == 0.0  # single token, no bigrams


def test_clean_corpus_filters_and_dedups(spark):
    from data_pipelines_snowflake_procedures_spark.operators.corpus import (
        clean_corpus,
        token_budget,
    )

    good = (
        "the cat sat on the mat and it was a good day for all of the cats "
        "that live in this big house"
    )
    df = spark.createDataFrame(
        [
            (1, good),                         # kept
            (2, good.upper()),                 # dup of 1 (case-folded fp)
            (3, "x y z"),                      # too short -> quality fail
            (4, "el perro y el gato en la casa que es una historia larga "
                "sobre los animales de la granja y sus aventuras"),  # es
        ],
        ["doc_id", "text"],
    )
    out = clean_corpus(df, min_quality=0.75, languages=("en",))
    assert [r["doc_id"] for r in out.collect()] == [1]
    budget = token_budget(
        clean_corpus(df, min_quality=0.0, languages=("en", "es", "und"))
    ).collect()
    by_lang = {r["detected_lang"]: r for r in budget}
    assert by_lang["en"]["n_docs"] == 1  # dup removed
    # doc 4 is es; doc 3's "y" token also hits the es stopword list
    assert by_lang["es"]["n_docs"] == 2
    assert by_lang["en"]["total_tokens"] == len(good.split())


def test_assign_split_deterministic_and_stable(spark):
    from data_pipelines_snowflake_procedures_spark.operators.corpus import (
        assign_split,
    )

    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"] for r in assign_split(df).collect()}
    b = {r["doc_id"]: r["split"] for r in assign_split(df).collect()}
    assert a == b  # pure function of (seed, id)
    # adding rows never reassigns existing ones
    bigger = spark.range(4000).withColumnRenamed("id", "doc_id")
    c = {r["doc_id"]: r["split"] for r in assign_split(bigger).collect()}
    assert all(c[k] == v for k, v in a.items())
    # proportions roughly honored
    from collections import Counter

    counts = Counter(a.values())
    assert 0.85 < counts["train"] / 2000 < 0.95
    assert counts["val"] > 0 and counts["test"] > 0
    # different seed resamples
    d = {r["doc_id"]: r["split"] for r in assign_split(df, seed="other").collect()}
    assert d != a


def test_chunk_documents_windows(spark):
    from data_pipelines_snowflake_procedures_spark.operators.corpus import (
        chunk_documents,
    )

    text = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, text), (2, "short doc"), (3, None)], ["doc_id", "text"]
    )
    out = chunk_documents(df, chunk_tokens=4, overlap=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    one = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    # stride 3 over 10 tokens -> starts 0,3,6,9
    assert [r["chunk_text"] for r in one] == [
        "t0 t1 t2 t3", "t3 t4 t5 t6", "t6 t7 t8 t9", "t9",
    ]
    assert [r["n_tokens"] for r in one] == [4, 4, 4, 1]
    assert [r["chunk_text"] for r in by_doc[2]] == ["short doc"]
    assert 3 not in by_doc  # empty docs produce no chunks

    import pytest as _pytest

    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_tokens=4, overlap=4)


def test_chunk_reconstruction_invariant(spark):
    """Dropping each post-first chunk's first `overlap` tokens and
    concatenating must reproduce the document's token stream exactly —
    for every (chunk_tokens, overlap) combination tested."""
    import random

    from data_pipelines_snowflake_procedures_spark.operators.corpus import (
        chunk_documents,
    )

    rng = random.Random(42)
    docs = [
        (i, " ".join(f"w{rng.randrange(50)}" for _ in range(rng.randrange(0, 40))))
        for i in range(20)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    for chunk_tokens, overlap in ((8, 2), (5, 0), (3, 1)):
        out = chunk_documents(df, chunk_tokens=chunk_tokens, overlap=overlap).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r["doc_id"], []).append(r)
        for doc_id, text in docs:
            expected = text.split()
            chunks = sorted(by_doc.get(doc_id, []), key=lambda r: r["chunk_id"])
            rebuilt = []
            for i, r in enumerate(chunks):
                toks = r["chunk_text"].split()
                assert len(toks) == r["n_tokens"]
                rebuilt.extend(toks if i == 0 else toks[overlap:])
            assert rebuilt == expected, (doc_id, chunk_tokens, overlap)


def test_lsh_plan_has_no_token_self_join(spark):
    """Scale regression (VERDICT r1 #2): minhash_lsh_pairs must verify
    candidates by joining candidate PAIRS to per-doc token sets — never
    by materializing the corpus-wide token-token self-join
    (token_jaccard_pairs at threshold 0). The old plan contained a join
    keyed on tok = tok; the fixed plan intersects collected token
    arrays, so no join condition mentions tok."""
    import re

    plan = minhash_lsh_pairs(_docs(spark))._jdf.queryExecution().optimizedPlan().toString()
    assert not re.search(r"tok#\d+L? = tok#\d+", plan), (
        "unfiltered token-token self-join is back in the LSH plan"
    )
    assert "array_intersect" in plan


def _vectors(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [-1.0, 0.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")


def test_knn_bruteforce_ranks(spark):
    vecs = _vectors(spark)
    out = knn_bruteforce(vecs, vecs.filter(F.col("vec_id") == 1), k=3).collect()
    ranked = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked == [2, 3, 4]  # by descending cosine to (1,0,0,0)
    assert out[0]["query_id"] == 1


def test_srp_hyperplanes_deterministic():
    a = srp_hyperplanes(4, 8)
    b = srp_hyperplanes(4, 8)
    assert a == b
    assert all(w in (-1, 1) for row in a for w in row)
    assert srp_hyperplanes(4, 8, seed="other") != a


def test_knn_lsh_subset_of_bucket(spark):
    vecs = _vectors(spark)
    out = knn_lsh(vecs, vecs, k=3, n_planes=2, dim=4).collect()
    # near-identical vectors 1 and 2 always share every SRP bucket
    pairs = {(r["query_id"], r["neighbor_id"]) for r in out}
    assert (1, 2) in pairs and (2, 1) in pairs
    # opposite vectors never share a bucket (all plane signs flip)
    assert (1, 4) not in pairs


def test_lsh_multiprobe_expands_candidates(spark):
    """Hamming-1 multiprobe must search a superset of the single-bucket
    candidates and pick up cross-plane neighbors."""
    rows = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)]) for i in range(60)]
    vecs = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    q = vecs.filter(F.col("vec_id") < 5)
    single = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_lsh(vecs, q, k=60, n_planes=4, dim=8).collect()
    }
    multi = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_lsh(vecs, q, k=60, n_planes=4, dim=8, multiprobe=True).collect()
    }
    assert single <= multi
    assert len(multi) > len(single)


def test_ivf_nprobe_expands_candidates(spark):
    """nprobe=2 must search a superset of nprobe=1's cells: every
    nprobe=1 neighbor survives (possibly re-ranked), and recall vs the
    exact answer can only improve."""
    from data_pipelines_snowflake_procedures_spark.operators.similarity import (
        knn_ivf,
    )

    rows = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)]) for i in range(40)]
    vecs = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    cents = vecs.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    q = vecs.filter(F.col("vec_id") < 3)
    one = {(r["query_id"], r["neighbor_id"]) for r in knn_ivf(vecs, q, cents, k=30, nprobe=1).collect()}
    two = {(r["query_id"], r["neighbor_id"]) for r in knn_ivf(vecs, q, cents, k=30, nprobe=2).collect()}
    assert one <= two
    assert len(two) > len(one)  # the second cell contributed candidates


def test_text_ops_null_safe(spark):
    """NULL text must profile as empty text — without the coalesce, a
    NULL document language-classifies as the CASE chain's fallback
    language and token counts go NULL."""
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   ")], "doc_id BIGINT, text STRING"
    )
    prof = {r["doc_id"]: r for r in text_profile(df).collect()}
    for d in (1, 2, 3):
        assert prof[d]["detected_lang"] == "und", d
        assert prof[d]["quality_score"] == 0.25
        assert prof[d]["n_tokens_bpe"] == 0
    assert prof[1]["n_chars"] == 0  # NULL → empty
    # null and empty normalize to the same fingerprint (documented)
    assert prof[1]["fingerprint"] == prof[2]["fingerprint"]


def test_sample_mix_deterministic_per_group(spark):
    from data_pipelines_snowflake_procedures_spark.operators.corpus import (
        sample_mix,
    )

    rows = [(i, ["web", "books", "other"][i % 3]) for i in range(3000)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    kept = sample_mix(df, {"web": 0.5, "books": 0.0}).collect()
    again = sample_mix(df, {"web": 0.5, "books": 0.0}).collect()
    assert sorted(r["doc_id"] for r in kept) == sorted(r["doc_id"] for r in again)
    by_src = {}
    for r in kept:
        by_src[r["source"]] = by_src.get(r["source"], 0) + 1
    assert "books" not in by_src            # fraction 0 drops all
    assert by_src["other"] == 1000          # unlisted groups keep all
    assert 400 < by_src["web"] < 600        # ~50% of 1000


def test_connected_components_chain_and_islands(spark):
    from data_pipelines_snowflake_procedures_spark.operators.dedup import (
        connected_components,
    )

    # chain 1-2-3-4-5 (diameter 4 — exercises pointer jumping),
    # triangle 10-11-12 with a redundant edge, isolated pair 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (11, 12), (10, 12),
         (20, 21)],
        "doc_a BIGINT, doc_b BIGINT",
    )
    comp = {r["id"]: r["comp"] for r in connected_components(edges).collect()}
    assert comp == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_connected_components_long_shuffled_chain(spark):
    """A 3000-node chain with shuffled ids is one component labelled
    with its minimum id: exact whatever the diameter, no partial
    labels."""
    import random

    from data_pipelines_snowflake_procedures_spark.operators.dedup import (
        connected_components,
    )

    ids = list(range(100, 3100))
    random.Random(3).shuffle(ids)
    edges = spark.createDataFrame(
        list(zip(ids, ids[1:])), "doc_a BIGINT, doc_b BIGINT"
    )
    rows = connected_components(edges).collect()
    assert len(rows) == 3000
    assert {r["id"] for r in rows} == set(ids)
    assert {r["comp"] for r in rows} == {100}


def test_connected_components_keeps_string_ids(spark):
    from pyspark.sql import types as T

    from data_pipelines_snowflake_procedures_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [("b", "c"), ("c", "a"), ("x", "y"), ("y", None)], "u STRING, v STRING"
    )
    cc = connected_components(edges, src="u", dst="v")
    assert [f.dataType for f in cc.schema] == [T.StringType(), T.StringType()]
    assert {r["id"]: r["comp"] for r in cc.collect()} == {
        "a": "a", "b": "a", "c": "a", "x": "x", "y": "x",
    }


def test_connected_components_kernel_ships_by_value(spark, monkeypatch, tmp_path):
    """The union-find kernel runs in a Python process that cannot
    import this package (the workers of a session not built by
    get_spark, started elsewhere): Spark's pickler ships it by value."""
    import os
    import subprocess
    import sys

    from pyspark import cloudpickle

    from data_pipelines_snowflake_procedures_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame([(3, 1), (1, 2), (7, 8)], "doc_a BIGINT, doc_b BIGINT")
    kernels = []
    map_in_arrow = type(edges).mapInArrow

    def spy(self, fn, *args, **kwargs):
        kernels.append(fn)
        return map_in_arrow(self, fn, *args, **kwargs)

    monkeypatch.setattr(type(edges), "mapInArrow", spy)
    connected_components(edges)
    script = (
        "import pickle, sys, pyarrow as pa\n"
        "kernel = pickle.loads(sys.stdin.buffer.read())\n"
        "b = pa.RecordBatch.from_pydict({'id': pa.array([3, 1, 7], pa.int64()),"
        " 'nbr': pa.array([1, 2, 8], pa.int64())})\n"
        "(out,) = kernel(iter([b]))\n"
        "print(sorted(zip(out.column('id').to_pylist(), out.column('comp').to_pylist())))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script],
        input=cloudpickle.dumps(kernels[0]),
        capture_output=True,
        cwd=tmp_path,
        env=env,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr.decode()[-2000:]
    assert proc.stdout.decode().strip() == "[(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]"


def test_nearest_kernel_ships_by_value(spark, monkeypatch, tmp_path):
    """The k-means/PQ/IVF nearest-centroid kernel runs in a Python
    process that cannot import this package, like the union-find
    kernel above, and returns codes and residuals on a positional-name
    batch."""
    import json
    import os
    import subprocess
    import sys

    from pyspark import cloudpickle

    from data_pipelines_snowflake_procedures_spark.operators.similarity import (
        ivf_residuals,
    )

    df = spark.createDataFrame([(1, [0.0, 1.0])], "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    kernels = []
    map_in_pandas = type(df).mapInPandas

    def spy(self, fn, *args, **kwargs):
        kernels.append(fn)
        return map_in_pandas(self, fn, *args, **kwargs)

    monkeypatch.setattr(type(df), "mapInPandas", spy)
    ivf_residuals(df, [[0.0, 0.0], [1.0, 1.0]])
    script = (
        "import json, pickle, sys, pandas as pd\n"
        "kernel = pickle.loads(sys.stdin.buffer.read())\n"
        "b = pd.DataFrame({'_0': [1, 2], '_1': [[0.0, 1.0], [0.9, 0.8]]})\n"
        "(out,) = kernel(iter([b]))\n"
        "print(json.dumps([out['_o0'].tolist(), [r.tolist() for r in out['_o1']]]))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script],
        input=cloudpickle.dumps(kernels[0]),
        capture_output=True,
        cwd=tmp_path,
        env=env,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr.decode()[-2000:]
    cells, residuals = json.loads(proc.stdout.decode())
    assert cells == [0, 1]
    assert residuals[0] == [0.0, 1.0]
    assert [round(x, 9) for x in residuals[1]] == [-0.1, -0.2]


def test_cosine_scan_kernel_ships_by_value(spark, monkeypatch, tmp_path):
    """The one cosine scan kernel of the exact, SQ, PQ and IVF-PQ
    searches runs in a Python process that cannot import this package,
    on a positional-name batch, and emits there what it emits here."""
    import json
    import os
    import subprocess
    import sys

    import pandas as pd
    from pyspark import cloudpickle

    from data_pipelines_snowflake_procedures_spark.operators.similarity import (
        knn_ivfpq,
        knn_pq,
        knn_sq,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 1.0]), (2, [0.9, 0.8]), (3, [0.2, 0.1])],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    q = df.filter(F.col("vec_id") == 1)
    books = [[[0.0, 0.5], [0.5, 0.0]]]
    vectors = [[0.0, 1.0], [0.9, 0.8], [0.2, 0.1]]
    searches = {
        "bruteforce": (lambda: knn_bruteforce(df, q, k=1), {"_1": vectors}),
        "sq": (lambda: knn_sq(df, q, [(0.0, 1.0), (0.0, 1.0)], k=1, rerank=1), {"_1": vectors}),
        "pq": (lambda: knn_pq(df, q, books, k=1, rerank=1), {"_1": vectors}),
        "ivfpq": (
            lambda: knn_ivfpq(df, q, [[0.0, 0.0], [1.0, 1.0]], books, k=1, nprobe=2, rerank=1),
            {"_1": [0, 1, 0], "_2": vectors, "_3": [1.0, 1.2, 0.3]},
        ),
    }
    map_in_pandas = type(df).mapInPandas
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    script = (
        "import json, pickle, sys, pandas as pd\n"
        "kernel, batch = pickle.loads(sys.stdin.buffer.read())\n"
        "(out,) = kernel(iter([pd.DataFrame(batch)]))\n"
        "print(json.dumps([out[c].tolist() for c in out.columns]))\n"
    )
    for name, (search, payload) in searches.items():
        kernels = []

        def spy(self, fn, *args, **kwargs):
            kernels.append(fn)
            return map_in_pandas(self, fn, *args, **kwargs)

        monkeypatch.setattr(type(df), "mapInPandas", spy)
        search()
        monkeypatch.undo()
        batch = {"_0": [1, 2, 3], **payload}
        proc = subprocess.run(
            [sys.executable, "-c", script],
            input=cloudpickle.dumps((kernels[-1], batch)),
            capture_output=True,
            cwd=tmp_path,
            env=env,
            timeout=120,
        )
        assert proc.returncode == 0, (name, proc.stderr.decode()[-2000:])
        (here,) = kernels[-1](iter([pd.DataFrame(batch)]))
        assert list(here.columns) == ["query_id", "neighbor_id", "c_raw"], name
        assert json.loads(proc.stdout.decode()) == [here[c].tolist() for c in here.columns], name


def test_connected_components_job_count_is_fixed(spark, count_jobs):
    """The same Spark job count, at most 2, on the 8-edge fixture and on
    a 3000-node chain (counted per job group after the listener bus has
    delivered every job event): no rounds that grow with the graph."""
    from data_pipelines_snowflake_procedures_spark.operators.dedup import (
        connected_components,
    )

    small = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)],
        "doc_a BIGINT, doc_b BIGINT",
    )
    chain = spark.range(3000).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    small_jobs = count_jobs("cc-8-edges", lambda: connected_components(small))
    assert small_jobs <= 2
    assert small_jobs == count_jobs(
        "cc-3000-chain", lambda: connected_components(chain)
    )


def test_decontaminate_drops_overlapping_docs(spark):
    from data_pipelines_snowflake_procedures_spark.operators.corpus import (
        contamination_hits,
    )

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated text about spark plans"),
            (3, "a quick brown fox appears here too"),
        ],
        "doc_id BIGINT, text STRING",
    )
    ev = spark.createDataFrame(
        [(100, "watch the quick brown fox run")], "doc_id BIGINT, text STRING"
    )
    hits = contamination_hits(train, ev)
    # shared 3-shingles: doc 1 {the quick brown, quick brown fox}, doc 3 {quick brown fox}
    assert {r["doc_id"]: r["n_hits"] for r in hits.collect()} == {1: 2, 3: 1}

    def kept(min_hits):
        flagged = hits.filter(F.col("n_hits") >= min_hits).select("doc_id")
        return sorted(
            r["doc_id"] for r in train.join(flagged, "doc_id", "left_anti").collect()
        )

    assert kept(1) == [2]
    # min_hits=2 keeps the single-shingle overlap
    assert kept(2) == [2, 3]


def test_pack_sequences_offsets_and_boundaries(spark):
    from data_pipelines_snowflake_procedures_spark.operators.corpus import (
        pack_sequences,
    )

    rows = [(1, "a", 300), (2, "a", 300), (3, "a", 100), (10, "b", 600)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, source STRING, n_tokens BIGINT")
    out = {
        r["doc_id"]: (r["start_offset"], r["pack_id"])
        for r in pack_sequences(df, ctx_tokens=512).collect()
    }
    # group a: offsets 0, 300, 600 -> packs 0, 0, 1; doc 2 straddles 512
    # group b: independent stream restarts at 0
    assert out == {1: (0, 0), 2: (300, 0), 3: (600, 1), 10: (0, 0)}


def test_pack_sequences_global_guard(spark):
    """group_col=None is a single-partition global window; above the
    row limit it must refuse unless allow_global=True (VERDICT r2 #3)."""
    import pytest

    from data_pipelines_snowflake_procedures_spark.operators.corpus import (
        pack_sequences,
    )

    df = (
        spark.range(50)
        .withColumnRenamed("id", "doc_id")
        .selectExpr("doc_id", "CAST(10 AS BIGINT) AS n_tokens")
    )
    with pytest.raises(ValueError, match="single-partition global window"):
        pack_sequences(df, group_col=None, global_row_limit=10)
    # explicit opt-in still works, and small inputs pass un-flagged
    assert (
        pack_sequences(
            df, group_col=None, global_row_limit=10, allow_global=True
        ).count()
        == 50
    )
    assert pack_sequences(df, group_col=None).count() == 50


def test_decontaminate_plan_broadcasts_eval_side(spark):
    """Scale invariant: the eval shingle set (tiny benchmarks) must be
    the broadcast side — the 100 TB train corpus is scanned once and
    never shuffled for this join."""
    from data_pipelines_snowflake_procedures_spark.operators.corpus import (
        contamination_hits,
    )

    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id BIGINT, text STRING"
    )
    ev = spark.createDataFrame(
        [(2, "beta gamma delta epsilon")], "doc_id BIGINT, text STRING"
    )
    plan = (
        contamination_hits(train, ev)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_passage_dedup_passages_globally_unique(spark):
    """Every surviving passage text appears exactly once corpus-wide,
    and the first-occurrence winner keeps its full document."""
    from data_pipelines_snowflake_procedures_spark.operators.corpus import (
        passage_dedup,
    )

    boiler = " ".join(f"b{i}" for i in range(4))
    uniq = lambda d: " ".join(f"u{d}_{i}" for i in range(4))  # noqa: E731
    df = spark.createDataFrame(
        [(1, f"{boiler} {uniq(1)}"), (2, f"{boiler} {uniq(2)}"), (3, boiler)],
        "doc_id BIGINT, text STRING",
    )
    out = {
        r["doc_id"]: r
        for r in passage_dedup(df, passage_tokens=4).collect()
    }
    # doc 1 keeps boilerplate (first occurrence) + its unique passage
    assert out[1]["n_passages_kept"] == 2
    # doc 2 loses the boilerplate passage, keeps its unique one
    assert out[2]["n_passages_kept"] == 1 and out[2]["deduped_text"] == uniq(2)
    # doc 3 was pure boilerplate -> vanishes
    assert 3 not in out


def test_unigram_logprob_orders_rare_docs_last(spark):
    """Docs made of corpus-frequent tokens must outscore docs of
    singletons; all scores are finite negatives."""
    from data_pipelines_snowflake_procedures_spark.operators.corpus import (
        unigram_logprob_score,
    )

    df = spark.createDataFrame(
        [(1, "common common common common"), (2, "common rare1 rare2 rare3")],
        "doc_id BIGINT, text STRING",
    )
    rows = {r["doc_id"]: r for r in unigram_logprob_score(df).collect()}
    assert rows[1]["avg_logprob"] > rows[2]["avg_logprob"]
    assert all(r["avg_logprob"] < 0 and r["min_logprob"] <= r["avg_logprob"]
               for r in rows.values())


def test_quality_quantile_gate_keeps_top_half_per_group(spark, sf_dir):
    from data_pipelines_snowflake_procedures_spark.operators.corpus import (
        quality_quantile_gate,
    )
    from data_pipelines_snowflake_procedures_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    kept = quality_quantile_gate(docs, min_pct=0.5)
    per_src_total = {r["source"]: r["c"] for r in
                     docs.groupBy("source").agg(F.count("*").alias("c")).collect()}
    per_src_kept = {r["source"]: r["c"] for r in
                    kept.groupBy("source").agg(F.count("*").alias("c")).collect()}
    for src, total in per_src_total.items():
        k = per_src_kept.get(src, 0)
        # percent_rank >= 0.5 keeps at most ~half (+ties), never more than total
        assert 0 < k <= total // 2 + 1


def test_kmeans_sse_decreases_with_iterations(spark, sf_dir):
    """Lloyd invariant: total within-cluster squared distance is
    non-increasing in the iteration count."""
    from data_pipelines_snowflake_procedures_spark.operators.similarity import (
        kmeans_assign_df,
        kmeans_fit,
    )
    from data_pipelines_snowflake_procedures_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")

    def assigned(iters):
        return kmeans_assign_df(emb, kmeans_fit(emb, k=4, iters=iters))

    sse = [
        assigned(i).agg(F.sum(F.round("__dist", 6))).collect()[0][0]
        for i in (0, 1, 3)
    ]
    assert sse[0] >= sse[1] >= sse[2]
    # k=4 clusters all non-empty on this data
    assert assigned(2).select("__cl").distinct().count() == 4


def test_knn_sq_recall_vs_bruteforce(spark, sf_dir):
    """SQ8 + 3k re-rank must recover nearly all exact top-5 neighbors
    (8-bit quantization error is far below inter-neighbor gaps)."""
    from data_pipelines_snowflake_procedures_spark.operators.similarity import (
        knn_bruteforce,
        knn_sq,
        sq_bounds,
    )
    from data_pipelines_snowflake_procedures_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_bruteforce(emb, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_sq(emb, q, sq_bounds(emb), k=5, rerank=3).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"SQ recall {recall}"


def test_near_dup_kmeans_is_subset_with_high_recall(spark, sf_dir):
    """Cluster-blocked pairs must be a strict subset of the exact O(n²)
    pairs at the same threshold, with high recall on this data."""
    from data_pipelines_snowflake_procedures_spark.operators.dedup import (
        embedding_near_dup_kmeans,
        embedding_near_dup_pairs,
    )
    from data_pipelines_snowflake_procedures_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    # low threshold so the tiny test SF yields a meaningful pair set
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(emb, threshold=0.5).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_kmeans(emb, threshold=0.5).collect()
    }
    assert blocked <= exact
    assert exact and len(blocked) / len(exact) >= 0.5


@pytest.mark.slowtier
def test_semdedup_cell_cap_splits_skewed_cells(spark):
    """VERDICT r2 #5: a deliberately clustered corpus (4 well-separated
    blobs that a k=2 global fit lumps into oversized cells) ends with
    no cell above the cap after split_oversized_cells, and the guarded
    pair set stays a subset of the unguarded one."""
    from data_pipelines_snowflake_procedures_spark.operators.dedup import (
        embedding_near_dup_kmeans,
        norm,
        split_oversized_cells,
    )
    from data_pipelines_snowflake_procedures_spark.operators.similarity import (
        kmeans_assign_df,
        kmeans_fit,
    )

    centers = [
        [10.0, 0.0, 0.0, 0.0],
        [0.0, 10.0, 0.0, 0.0],
        [0.0, 0.0, 10.0, 0.0],
        [0.0, 0.0, 0.0, 10.0],
    ]
    rows = []
    vid = 0
    for c in centers:
        for j in range(15):
            v = list(c)
            v[(j + 1) % 4] += 0.01 * (j + 1)  # distinct, tightly packed
            rows.append((vid, v))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")

    cents = kmeans_fit(df, k=2, iters=2)
    from pyspark.sql import functions as F

    assigned = kmeans_assign_df(df, cents).select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("emb"),
        norm(F.col("embedding")).alias("nrm"),
        F.col("__cl").alias("cluster"),
    )
    before = assigned.groupBy("cluster").count().collect()
    assert any(r["count"] > 20 for r in before), before  # skew exists
    after = split_oversized_cells(assigned, max_cell_size=20, k=2)
    sizes = [r["count"] for r in after.groupBy("cluster").count().collect()]
    assert max(sizes) <= 20, sizes
    assert sum(sizes) == 60  # no rows lost or duplicated

    unguarded = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_kmeans(df, threshold=0.99, k=2).collect()
    }
    guarded = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_kmeans(
            df, threshold=0.99, k=2, max_cell_size=20
        ).collect()
    }
    assert guarded <= unguarded
    assert guarded  # within-blob near-dups survive the split


def test_fuzzy_name_pairs_finds_planted_typo(spark):
    """A single-character typo must pair with its original; unrelated
    names must not pair."""
    from data_pipelines_snowflake_procedures_spark.operators.entity import (
        fuzzy_name_pairs,
    )

    df = spark.createDataFrame(
        [(1, "acme corp"), (2, "acme c0rp"), (3, "globex inc")],
        "id BIGINT, name STRING",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["lev"]
        for r in fuzzy_name_pairs(df, name_col="name", id_col="id").collect()
    }
    assert pairs == {(1, 2): 1}


def test_weighted_sample_deterministic_and_weight_biased(spark):
    """A-ES weighted sampling: identical across runs, rank-bounded, and
    a dominant-weight item always wins its group (its exponential-sort
    key stochastically dominates by ~1e6x)."""
    from data_pipelines_snowflake_procedures_spark.operators.corpus import (
        weighted_sample,
    )

    rows = [(i, "s", 1.0) for i in range(40)] + [(99, "s", 1_000_000.0)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, source STRING, w DOUBLE")
    a = sorted(
        (r["doc_id"], r["sample_rank"])
        for r in weighted_sample(df, "w", k=5).collect()
    )
    b = sorted(
        (r["doc_id"], r["sample_rank"])
        for r in weighted_sample(df, "w", k=5).collect()
    )
    assert a == b and len(a) == 5
    assert max(r for _, r in a) == 5
    assert 99 in {d for d, _ in a}  # the heavy item is sampled
    # a different seed draws a different light-doc set
    c = {r["doc_id"] for r in weighted_sample(df, "w", k=5, seed="other").collect()}
    assert c != {d for d, _ in a}


def test_weighted_sample_fractional_weights_stay_proportional(spark):
    """ADVICE r3: fractional weights in (0, 1) must keep proportional
    inclusion probability — a 1e-6 relative weight must essentially
    never beat a weight-1.0 item for the single slot (the old
    greatest(w, 1.0) clamp made them uniform coin flips)."""
    from data_pipelines_snowflake_procedures_spark.operators.corpus import (
        weighted_sample,
    )

    # one heavy (w=0.9) vs 10 near-zero (w=0.9e-6) items per group, k=1,
    # across 30 independent groups: the heavy item should win ~all groups.
    rows = []
    for g in range(30):
        rows.append((g * 100, f"g{g}", 0.9))
        rows.extend((g * 100 + i, f"g{g}", 0.9e-6) for i in range(1, 11))
    df = spark.createDataFrame(rows, "doc_id BIGINT, source STRING, w DOUBLE")
    winners = weighted_sample(df, "w", id_col="doc_id", group_col="source", k=1)
    heavy_wins = winners.filter(F.col("doc_id") % 100 == 0).count()
    assert heavy_wins >= 28, f"heavy item won only {heavy_wins}/30 groups"


@pytest.mark.slowtier
def test_knn_recall_report_structural_invariants(spark, sf_dir):
    """The recall lever must actually lever: more probes/cells can only
    add candidates (recall monotone), and SQ8's full scan + exact
    rerank must be lossless on this corpus."""
    from data_pipelines_snowflake_procedures_spark.queries import REGISTRY

    rep = {
        r["variant"]: r["recall_at_5"]
        for r in REGISTRY["knn_recall_report"].spark_fn(spark, sf_dir).collect()
    }
    assert set(rep) == {
        "ivf_nprobe1", "ivf_nprobe2", "lsh", "lsh_multiprobe", "sq8"
    }
    assert rep["sq8"] == 1.0
    assert rep["lsh_multiprobe"] >= rep["lsh"]
    assert rep["ivf_nprobe2"] >= rep["ivf_nprobe1"]
    assert all(0.0 <= v <= 1.0 for v in rep.values())


def test_trim_repeated_lines_semantics(spark):
    """Keep each line's FIRST occurrence, preserve order, leave unique
    lines (including interleaved repeats and empty lines) intact."""
    from data_pipelines_snowflake_procedures_spark.operators.text import (
        trim_repeated_lines,
    )

    df = spark.createDataFrame(
        [
            (1, "nav\nbody one\nnav\nbody two\nnav\nfooter\nfooter"),
            (2, "only line"),
            (3, "a\n\nb\n\na"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["clean"]
        for r in df.select(
            "doc_id", trim_repeated_lines("text").alias("clean")
        ).collect()
    }
    assert out[1] == "nav\nbody one\nbody two\nfooter"
    assert out[2] == "only line"
    assert out[3] == "a\n\nb"  # second empty line and second 'a' dropped


def test_strip_markup_semantics(spark):
    from data_pipelines_snowflake_procedures_spark.operators.text import (
        strip_markup,
    )

    df = spark.createDataFrame(
        [
            (1, 'see https://x.io/a?b=1 and <a href="u">link</a> mail a.b@c.org!'),
            (2, "no markup here"),
            (3, "<div><p>nested</p></div>   spaces\t\ttabs"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["clean"]
        for r in df.select("doc_id", strip_markup("text").alias("clean")).collect()
    }
    assert out[1] == "see and link mail !"
    assert out[2] == "no markup here"
    assert out[3] == "nested spaces tabs"


def test_bigram_lm_scores_shuffled_text_worse(spark):
    """The point of the bigram upgrade: a document whose tokens are
    individually common but sequenced implausibly must score BELOW the
    naturally-ordered documents that share its vocabulary."""
    from data_pipelines_snowflake_procedures_spark.operators.corpus import (
        bigram_logprob_score,
    )

    natural = "the cat sat on the mat and the dog sat on the rug"
    rows = [
        (i, natural) for i in range(10)
    ] + [
        (10, "the cat sat on the mat and the dog sat on the floor"),
        # same vocabulary, scrambled order -> unseen bigrams
        (11, "mat the on dog sat the and rug cat the on sat the"),
        (12, "hi"),  # single token: no bigrams, drops out
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in bigram_logprob_score(df).collect()}
    assert 12 not in out
    assert out[11]["avg_logprob"] < out[0]["avg_logprob"]
    assert out[11]["avg_logprob"] < out[10]["avg_logprob"]
    assert out[0]["n_bigrams"] == len(natural.split()) - 1


def test_lsh_bucket_cap_and_stats(spark):
    """max_bucket_size drops only overflowing buckets' candidates;
    lsh_bucket_stats reports the size distribution that justifies it."""
    from data_pipelines_snowflake_procedures_spark.operators.dedup import (
        lsh_bucket_stats,
        minhash_lsh_pairs,
    )

    # 30 identical docs (one giant bucket) + 2 distinct near-dup docs
    rows = [(i, "all these words are the same words") for i in range(30)]
    rows += [(100, "completely different unique content here"),
             (101, "completely different unique content there")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # n=1 pinned: the fixture's bucket arithmetic (30 identical token
    # sets, one near-dup pair at token-jaccard 0.5) is token-set math
    stats = {
        r["bucket_size"]: r["n_buckets"]
        for r in lsh_bucket_stats(df, n=1).collect()
    }
    assert 30 in stats  # the boilerplate bucket is visible pre-flight
    full = minhash_lsh_pairs(df, threshold=0.5, n=1)
    capped = minhash_lsh_pairs(df, threshold=0.5, n=1, max_bucket_size=10)
    full_pairs = {(r["doc_a"], r["doc_b"]) for r in full.collect()}
    capped_pairs = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert (100, 101) in full_pairs and (100, 101) in capped_pairs
    # the 30-doc bucket's pairs are gone under the cap, nothing else
    assert capped_pairs == {p for p in full_pairs if p == (100, 101)}
    assert len(full_pairs) == 30 * 29 // 2 + 1


def test_incremental_partial_merge_invariants(spark):
    """merge(partial(A), partial(B)) must equal partial(A ∪ B) for any
    split and any merge order — the algebra a daily rollup relies on."""
    from data_pipelines_snowflake_procedures_spark.operators.incremental import (
        finalize,
        merge_partials,
        partial_agg,
    )

    rows = [(i, f"k{i % 3}", (i * 7 % 100) / 4.0) for i in range(200)]
    df = spark.createDataFrame(rows, ["id", "k", "v"])
    full = {
        r["k"]: r
        for r in finalize(partial_agg(df, ["k"], "v"), ["k"]).collect()
    }
    a, b, c = (df.filter(f"id % 3 = {i}") for i in range(3))
    pa, pb, pc = (partial_agg(x, ["k"], "v") for x in (a, b, c))
    inc = {
        r["k"]: r
        for r in finalize(merge_partials([pc, pa, pb], ["k"]), ["k"]).collect()
    }
    assert set(inc) == set(full)
    for k, r in full.items():
        for col in ("n_rows", "sum_value", "avg_value", "min_value", "max_value"):
            assert inc[k][col] == r[col], (k, col)
    # empty batch is the identity element
    empty = partial_agg(df.filter("id < 0"), ["k"], "v")
    with_empty = {
        r["k"]: r["n_rows"]
        for r in finalize(merge_partials([pa, empty, pb, pc], ["k"]), ["k"]).collect()
    }
    assert with_empty == {k: r["n_rows"] for k, r in full.items()}


def test_threshold_metrics_and_auc_known_values(spark):
    """Hand-computable case: scores separate labels imperfectly; AUC
    and confusion counts must equal the closed-form values (ties get
    average ranks)."""
    from data_pipelines_snowflake_procedures_spark.operators.metrics import (
        roc_auc,
        threshold_metrics,
    )

    #  y=1 scores: 0.9, 0.8, 0.5 ; y=0 scores: 0.5, 0.3
    df = spark.createDataFrame(
        [(0.9, 1), (0.8, 1), (0.5, 1), (0.5, 0), (0.3, 0)], ["s", "y"]
    )
    m = {r["threshold"]: r for r in threshold_metrics(df, "s", "y", [0.5]).collect()}
    r5 = m[0.5]
    assert (r5["tp"], r5["fp"], r5["fn"], r5["tn"]) == (3, 1, 0, 1)
    assert r5["precision"] == 0.75 and r5["recall"] == 1.0
    # pairs: (0.9,0.5)+, (0.9,0.3)+, (0.8,0.5)+, (0.8,0.3)+, (0.5,0.5)=tie 0.5, (0.5,0.3)+
    # AUC = (4 + 0.5 + 1) / 6 = 0.916667
    a = roc_auc(df, "s", "y").collect()[0]
    assert (a["n_pos"], a["n_neg"]) == (3, 2)
    assert abs(a["auc"] - round(5.5 / 6, 6)) < 1e-9
    # degenerate: all one class -> n_neg 0; auc NULL (division), caller checks
    one = spark.createDataFrame([(0.9, 1), (0.1, 1)], ["s", "y"])
    row = roc_auc(one, "s", "y").collect()[0]
    assert row["n_neg"] == 0 and row["auc"] is None


def test_roc_auc_binned_matches_exact(spark):
    """The histogram form is the exact Mann-Whitney statistic whenever
    no two distinct scores share a bin — the identity the scale path
    is registered on (VERDICT r4 next-round #1)."""
    from data_pipelines_snowflake_procedures_spark.operators.metrics import (
        roc_auc,
        roc_auc_binned,
    )

    df = spark.createDataFrame(
        [(0.9, 1), (0.8, 1), (0.5, 1), (0.5, 0), (0.3, 0)], ["s", "y"]
    )
    exact = roc_auc(df, "s", "y").collect()[0]
    binned = roc_auc_binned(df, "s", "y", bins=1024).collect()[0]
    assert (binned["n_pos"], binned["n_neg"]) == (exact["n_pos"], exact["n_neg"])
    assert abs(binned["auc"] - exact["auc"]) < 1e-9
    # ties survive binning: identical scores always share a bin
    assert abs(binned["auc"] - round(5.5 / 6, 6)) < 1e-9
    # degenerate domains: one class -> NULL auc; all-equal scores ->
    # everything ties in bin 0 -> AUC exactly 0.5
    one = spark.createDataFrame([(0.9, 1), (0.1, 1)], ["s", "y"])
    assert roc_auc_binned(one, "s", "y").collect()[0]["auc"] is None
    flat = spark.createDataFrame([(0.4, 1), (0.4, 0), (0.4, 1)], ["s", "y"])
    assert roc_auc_binned(flat, "s", "y").collect()[0]["auc"] == 0.5
    # coarse bins degrade gracefully toward 0.5, never crash
    coarse = roc_auc_binned(df, "s", "y", bins=2).collect()[0]
    assert coarse["auc"] is not None and 0.0 <= coarse["auc"] <= 1.0


def test_pq_roundtrip_and_recall(spark, sf_dir):
    """PQ encode emits m in-range codes; reconstruction error is
    bounded (cosine(original, decoded) well above random); and the
    rerank phase keeps knn_pq's top-5 close to brute force."""
    from data_pipelines_snowflake_procedures_spark.operators.similarity import (
        knn_bruteforce,
        knn_pq,
        pq_encode,
        pq_fit,
        pq_reconstruct_expr,
    )
    from data_pipelines_snowflake_procedures_spark.operators.dedup import (
        dot_product,
        norm,
    )
    from data_pipelines_snowflake_procedures_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_fit(emb, m=4, k=16, iters=2)
    assert len(books) == 4 and all(len(b) == 16 for b in books)
    enc = pq_encode(emb, books)
    stats = enc.agg(
        *[F.min(f"code_{j}").alias(f"lo{j}") for j in range(4)],
        *[F.max(f"code_{j}").alias(f"hi{j}") for j in range(4)],
    ).collect()[0]
    assert all(stats[f"lo{j}"] >= 0 and stats[f"hi{j}"] < 16 for j in range(4))
    deq = pq_reconstruct_expr(books)
    fidelity = (
        enc.select(
            (
                dot_product(F.col("embedding"), deq)
                / (norm(F.col("embedding")) * norm(deq))
            ).alias("c")
        )
        .agg(F.avg("c"))
        .collect()[0][0]
    )
    assert fidelity > 0.5, fidelity  # decoded vectors point the right way

    queries = emb.filter(F.col("vec_id") < 5)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_bruteforce(emb, queries, k=5).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_pq(emb, queries, books, k=5, rerank=3).collect()
    }
    recall = len(got & truth) / len(truth)
    # the synthetic embeddings are near-random (weak neighborhood
    # structure — same story as knn_recall_report), so the floor is
    # modest; the structural guarantee is the rerank LEVER below
    assert recall >= 0.3, recall
    wide = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_pq(emb, queries, books, k=5, rerank=10).collect()
    }
    recall_wide = len(wide & truth) / len(truth)
    assert recall_wide >= recall, (recall, recall_wide)


@pytest.mark.slowtier
def test_ivfpq_full_coverage_equals_bruteforce(spark, sf_dir):
    """IVF-PQ degeneracy invariant: probing EVERY coarse cell and
    re-ranking a candidate set as large as the corpus must reproduce
    knn_bruteforce exactly (the approximate phase then only ORDERS
    candidates, and the exact re-rank fixes any ordering error). Also
    checks the two recall levers move the right way at the registered
    configuration (nprobe=2, rerank=3)."""
    from data_pipelines_snowflake_procedures_spark.operators.similarity import (
        ivf_residuals,
        kmeans_fit,
        knn_bruteforce,
        knn_ivfpq,
        pq_fit,
    )
    from data_pipelines_snowflake_procedures_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    coarse = kmeans_fit(emb, k=8, iters=2)
    res = ivf_residuals(emb, coarse)
    # residuals really are emb - centroid: reconstructing with a zero
    # residual recovers the cell centroid, so |remb| <= |emb - any c|
    books = pq_fit(res, m=4, k=16, iters=2, emb_col="remb")
    queries = emb.filter(F.col("vec_id") < 5)

    truth = {
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in knn_bruteforce(emb, queries, k=5).collect()
    }
    full = {
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in knn_ivfpq(
            emb, queries, coarse, books, k=5, nprobe=8, rerank=(n // 5) + 1
        ).collect()
    }
    assert full == truth

    # registered config: structural sanity + the nprobe recall lever
    t_pairs = {(q, nb) for q, nb, _, _ in truth}
    got1 = knn_ivfpq(emb, queries, coarse, books, k=5, nprobe=1, rerank=3)
    got2 = knn_ivfpq(emb, queries, coarse, books, k=5, nprobe=2, rerank=3)
    p1 = {(r["query_id"], r["neighbor_id"]) for r in got1.collect()}
    p2 = {(r["query_id"], r["neighbor_id"]) for r in got2.collect()}
    # per-query at most k rows, ranks contiguous from 1
    for df in (got1, got2):
        by_q = {}
        for r in df.collect():
            by_q.setdefault(r["query_id"], []).append(r["rank"])
        for q, ranks in by_q.items():
            assert sorted(ranks) == list(range(1, len(ranks) + 1)), (q, ranks)
            assert len(ranks) <= 5
    # more probes never hurt recall on a fixed candidate budget per cell
    assert len(p2 & t_pairs) >= len(p1 & t_pairs), (len(p1), len(p2))


def test_roc_auc_binned_identity_property(spark):
    """Property: for scores quantized to 2 decimals, 1024 bins always
    resolve distinct scores (bin width = range/1024 < the 0.01 gap),
    so the binned statistic EQUALS the exact Mann-Whitney rank form on
    any labeled sample — the identity the scale path is registered on,
    under generated data instead of one fixture."""
    from hypothesis import given, settings, strategies as st

    from data_pipelines_snowflake_procedures_spark.operators.metrics import (
        roc_auc,
        roc_auc_binned,
    )

    pair_st = st.tuples(
        st.integers(min_value=0, max_value=100).map(lambda i: i / 100.0),
        st.integers(min_value=0, max_value=1),
    )

    # 4 examples, not 10: each example costs two full Spark plan
    # builds + actions (~12 s on the harness box), and the identity
    # being checked is data-shape-insensitive past the degenerate
    # cases hypothesis hits in the first few draws (r11 suite-runtime
    # audit: this one test was 121 s of the 42-min suite).
    @settings(max_examples=4, deadline=None)
    @given(rows=st.lists(pair_st, min_size=2, max_size=40))
    def check(rows):
        df = spark.createDataFrame(rows, "s DOUBLE, y INT")
        e = roc_auc(df, "s", "y").collect()[0]
        b = roc_auc_binned(df, "s", "y", bins=1024).collect()[0]
        assert (b["n_pos"], b["n_neg"]) == (e["n_pos"], e["n_neg"])
        if e["auc"] is None:
            assert b["auc"] is None
        else:
            assert abs(b["auc"] - e["auc"]) < 1e-9, (rows, e["auc"], b["auc"])

    check()


def test_pca_matches_numpy_reference(spark, sf_dir):
    """Distributed PCA == exact single-machine numpy PCA on the
    collected corpus: the moment pass loses nothing to partitioning,
    components are orthonormal with descending explained variance, the
    sign canon is applied, and whitened projections have ~unit
    variance per component."""
    import numpy as np

    from data_pipelines_snowflake_procedures_spark.operators.linalg import (
        pca_fit,
        pca_project,
    )
    from data_pipelines_snowflake_procedures_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    model = pca_fit(emb, k=8)

    x = np.asarray(
        [r["embedding"] for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    mean = x.mean(axis=0)
    cov = np.cov(x, rowvar=False, ddof=1)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:8]
    ref_ev = evals[order]
    ref_comps = evecs[:, order].T
    for i in range(8):
        j = int(np.argmax(np.abs(ref_comps[i])))
        if ref_comps[i, j] < 0:
            ref_comps[i] = -ref_comps[i]

    assert np.allclose(model["mean"], mean, atol=2e-6)
    assert np.allclose(model["explained_variance"], ref_ev, atol=2e-6)
    got = np.asarray(model["components"])
    assert np.allclose(got, ref_comps, atol=1e-4), np.abs(got - ref_comps).max()
    # orthonormal rows, descending variance
    assert np.allclose(got @ got.T, np.eye(8), atol=1e-3)
    ev = model["explained_variance"]
    assert all(a >= b - 1e-9 for a, b in zip(ev, ev[1:]))
    assert all(np.argmax(np.abs(r)) >= 0 and r[np.argmax(np.abs(r))] > 0 for r in got)

    # projection matches numpy; whitened projections ~unit variance
    proj = {
        r["vec_id"]: np.asarray(r["pca"])
        for r in pca_project(emb, model).select("vec_id", "pca").collect()
    }
    ids = sorted(proj)
    ref_proj = (x - mean) @ np.asarray(model["components"]).T
    id_to_row = {r["vec_id"]: i for i, r in enumerate(emb.select("vec_id").collect())}
    sample = ids[:20]
    for vid in sample:
        assert np.allclose(proj[vid], ref_proj[id_to_row[vid]], atol=1e-4)
    white = np.asarray(
        [r["pca"] for r in pca_project(emb, model, whiten=True).select("pca").collect()]
    )
    wvar = white.var(axis=0, ddof=1)
    assert np.allclose(wvar, 1.0, atol=0.05), wvar


@pytest.mark.slowtier
def test_pagerank_invariants(spark):
    """Hand-checkable PageRank cases: a symmetric pair stays uniform
    (0.5/0.5 is the fixed point), a directed cycle stays uniform, mass
    is conserved on graphs with no dangling nodes (Σpr = 1), and a
    star's center outranks its leaves."""
    from data_pipelines_snowflake_procedures_spark.operators.graph import (
        pagerank,
    )

    def run(edges, **kw):
        df = spark.createDataFrame(edges, "src STRING, dst STRING, w DOUBLE")
        return {
            r["node"]: r["pr"]
            for r in pagerank(df, weight_col="w", **kw).collect()
        }

    pair = run([("a", "b", 1.0), ("b", "a", 1.0)])
    assert abs(pair["a"] - 0.5) < 1e-6 and abs(pair["b"] - 0.5) < 1e-6

    cycle = run([("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0)])
    assert all(abs(v - 1 / 3) < 1e-6 for v in cycle.values())

    star = run(
        [("hub", x, 1.0) for x in "lmn"] + [(x, "hub", 1.0) for x in "lmn"],
        iters=5,
    )
    assert all(star["hub"] > star[x] for x in "lmn")
    assert abs(sum(star.values()) - 1.0) < 1e-5  # no dangling: conserved

    # dangling sink: mass leaks by design (documented convention)
    sink = run([("a", "b", 1.0)])
    assert sum(sink.values()) < 1.0
    assert sink["b"] > sink["a"]  # the sink receives, never gives


@pytest.mark.slowtier
def test_quantized_recall_report_invariants(spark, sf_dir):
    """Structural invariants of the quantized recall report: recall in
    [0,1], and probing more IVF cells never loses recall."""
    from data_pipelines_snowflake_procedures_spark.queries import REGISTRY

    rows = {
        r["variant"]: r
        for r in REGISTRY["knn_recall_report_quantized"]
        .spark_fn(spark, sf_dir)
        .collect()
    }
    assert set(rows) == {"pq_rerank3", "ivfpq_nprobe1", "ivfpq_nprobe2"}
    for r in rows.values():
        assert 0.0 <= r["recall_at_5"] <= 1.0
    assert (
        rows["ivfpq_nprobe2"]["recall_at_5"]
        >= rows["ivfpq_nprobe1"]["recall_at_5"]
    )


def test_histogram_quantile_merge_invariance(spark, sf_dir):
    """Binned percentiles are exactly mergeable: any batch split of
    the events table must finalize to the SAME p50/p95 as a single
    whole-table histogram — histograms add, so batch-at-a-time
    maintenance reproduces full recomputation bit-for-bit. Also pins
    the ceil(q*n) rank rule against Spark's exact percentile on the
    whole data (discrete vs interpolated agree within one bin-step
    neighborhood)."""
    from pyspark.sql import functions as F

    from data_pipelines_snowflake_procedures_spark.operators.incremental import (
        merge_hists,
        partial_hist,
        quantile_from_hist,
    )
    from data_pipelines_snowflake_procedures_spark.session import load_table

    ev = load_table(spark, sf_dir, "events")
    whole = partial_hist(ev, ["event_type"], "value")

    def qmap(hist, q):
        return {
            r["event_type"]: r["q"]
            for r in quantile_from_hist(hist, ["event_type"], q, out="q").collect()
        }

    # two different splits + the unsplit histogram
    day = F.dayofmonth("ts")
    split_a = [ev.filter(day < 15), ev.filter(day >= 15)]
    split_b = [ev.filter(day < 5), ev.filter((day >= 5) & (day < 25)), ev.filter(day >= 25)]
    for q in (0.5, 0.95):
        want = qmap(whole, q)
        for split in (split_a, split_b):
            merged = merge_hists(
                [partial_hist(b, ["event_type"], "value") for b in split],
                ["event_type"],
            )
            assert qmap(merged, q) == want, (q, len(split))
    # discrete quantile sits within one distinct-value step of Spark's
    # exact interpolated percentile
    exact = {
        r["event_type"]: r["p"]
        for r in ev.groupBy("event_type")
        .agg(F.percentile("value", F.lit(0.5)).alias("p"))
        .collect()
    }
    got = qmap(whole, 0.5)
    for t, p in exact.items():
        assert abs(got[t] - p) <= 0.5, (t, got[t], p)


def test_bloom_decontamination_lossless_and_selective(spark, sf_dir):
    """The Bloom pre-filter must be LOSSLESS (identical hits to the
    exact operator — false positives only add exact probes) and
    actually SELECTIVE (a disjoint eval set prunes nearly every train
    shingle before the exact join). Plan stays Python-free."""
    from pyspark.sql import functions as F

    from data_pipelines_snowflake_procedures_spark.operators.corpus import (
        contamination_hits,
        contamination_hits_bloom,
    )
    from data_pipelines_snowflake_procedures_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 25 != 0)
    ev = docs.filter(F.col("doc_id") % 25 == 0)
    exact = {
        (r["doc_id"], r["n_hits"])
        for r in contamination_hits(train, ev, n=3).collect()
    }
    bloom_df = contamination_hits_bloom(train, ev, n=3)
    got = {(r["doc_id"], r["n_hits"]) for r in bloom_df.collect()}
    assert got == exact and exact

    plan = bloom_df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # no EXECUTOR Python (the 1-row bitmap frame's driver-side
    # ApplySchemaToPythonRDD source is setup, like the k-means
    # broadcast matrices — not a per-row hot path)
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas"):
        assert node not in plan, node

    # disjoint eval text: zero hits survive, and with ~10 bits/item +
    # 3 hashes the false-positive rate is well under 5%
    fake_ev = ev.select(
        "doc_id", F.concat(F.lit("zz qq xx "), F.col("text")).alias("text")
    ).select("doc_id", F.translate("text", "aeiou", "01234").alias("text"))
    assert contamination_hits_bloom(train, fake_ev, n=12).count() == 0


def test_bm25_ranking_semantics(spark):
    """BM25 sanity on a hand-built corpus: a doc matching the rare
    term outranks one matching only the common term; more occurrences
    of a term score higher; length normalization penalizes padding;
    non-matching docs are absent."""
    from data_pipelines_snowflake_procedures_spark.operators.tfidf import (
        bm25_scores,
    )

    rows = [
        (1, "rare common common"),          # rare + common
        (2, "common common common"),        # common only
        (3, "rare rare common"),            # rare twice
        (4, "rare " + "pad " * 40),         # rare once, long doc
        (5, "common filler words"),         # pad the common df
        (6, "common other stuff"),
        (7, "nothing matches here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        r["doc_id"]: r["bm25"]
        for r in bm25_scores(docs, ["rare", "common"]).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5, 6}
    assert got[3] > got[1] > got[2]          # rare×2 > rare×1 > common-only
    assert got[1] > got[4]                   # same rare tf, shorter doc wins
    assert all(v > 0 for v in got.values())


def test_bpe_train_classic_example(spark):
    """BPE on the classic Sennrich corpus shape: 'low'×5 'lower'×2
    'newest'×6 'widest'×3 (as repeated words in documents). The first
    merges must follow pair frequencies: (e,s) freq 9 → (es,t) freq 9
    → ... deterministic under the (freq DESC, pair ASC) tie-break.
    Token counts under the trained model shrink monotonically with
    more merges."""
    from data_pipelines_snowflake_procedures_spark.operators.bpe import (
        bpe_token_counts,
        bpe_train,
    )

    corpus = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )
    docs = spark.createDataFrame([(1, corpus)], ["doc_id", "text"])
    merges = bpe_train(docs, n_merges=4)
    assert merges[0][:2] == ("e", "s") and merges[0][2] == 9
    assert merges[1][:2] == ("es", "t") and merges[1][2] == 9
    # after es+t: (l,o) from low(5)+lower(2)=7 beats (w,est)=6 (only
    # newest contributes — widest is "w i d est"); then (lo,w)=7
    assert merges[2][:2] == ("l", "o") and merges[2][2] == 7
    assert merges[3][:2] == ("lo", "w") and merges[3][2] == 7

    n0 = bpe_token_counts(docs, []).collect()[0]["n_bpe_tokens"]
    n2 = bpe_token_counts(docs, merges[:2]).collect()[0]["n_bpe_tokens"]
    n4 = bpe_token_counts(docs, merges).collect()[0]["n_bpe_tokens"]
    # chars: 5*3+2*5+6*6+3*6 = 79 symbols before any merge
    assert n0 == 79
    assert n0 > n2 > n4


@pytest.mark.slowtier
def test_prefix_filter_join_equals_full_join(spark, sf_dir):
    """Prefix filtering must be LOSSLESS at every threshold: identical
    (pair, jaccard) output to the full inverted-index join — including
    thresholds where t*|d| lands exactly on integers (the double-ceil
    epsilon guard's failure surface)."""
    from pyspark.sql import functions as F

    from data_pipelines_snowflake_procedures_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
        token_jaccard_pairs,
    )
    from data_pipelines_snowflake_procedures_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    for t in (0.5, 0.75, 0.9):
        want = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in token_jaccard_pairs(docs, threshold=t).collect()
        }
        got = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in prefix_filter_jaccard_pairs(docs, threshold=t).collect()
        }
        assert got == want, t
    # exact-multiple sizes: 10-token docs at t=0.9 (prefix length 2)
    rows = [
        (1, "a b c d e f g h i j"),
        (2, "a b c d e f g h i k"),   # jaccard 9/11 < 0.9
        (3, "a b c d e f g h i j"),   # identical to 1 -> 1.0
    ]
    tiny = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in prefix_filter_jaccard_pairs(tiny, threshold=0.9).collect()
    }
    assert got == {(1, 3, 1.0)}


def test_dup_span_profile_planted_spans(spark):
    from data_pipelines_snowflake_procedures_spark.operators.dedup import (
        dup_span_profile,
    )

    # Docs 1 and 2 share the 8-token prefix "a b c d e f g h" (planted
    # boilerplate); doc 3 is unique; doc 4 repeats a 5-gram WITHIN
    # itself (self-repeat counts, as in ExactSubstr); doc 5 is shorter
    # than n so it has zero windows.
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h unique1 tail1 tok1"),
            (2, "a b c d e f g h other2 tail2"),
            (3, "p q r s t u v w x y"),
            (4, "m n o p2 q2 m n o p2 q2"),
            (5, "only four tokens here"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r for r in dup_span_profile(df, n=5).collect()
    }
    # shared 8-token prefix -> 4 duplicated 5-gram starts (pos 1..4),
    # one run, coverage = 8 tokens, span = 8
    for d, ntok in ((1, 11), (2, 10)):
        r = rows[d]
        assert r["n_tokens"] == ntok
        assert r["n_windows"] == ntok - 4
        assert r["dup_windows"] == 4
        assert r["dup_token_cov"] == 8
        assert r["max_span_tokens"] == 8
        assert r["dup_frac"] == __import__("math").floor(8 / ntok * 10000) / 10000
    assert rows[3]["dup_windows"] == 0
    assert rows[3]["dup_frac"] == 0.0
    assert rows[3]["max_span_tokens"] == 0
    # doc 4: "m n o p2 q2" occurs at pos 1 and 6 (corpus count 2 via
    # self-repeat) -> 2 duplicated starts, two runs (gap 5), coverage
    # 5+5=10 (the whole doc), max single span 5
    r4 = rows[4]
    assert r4["dup_windows"] == 2
    assert r4["dup_token_cov"] == 10
    assert r4["dup_frac"] == 1.0
    assert r4["max_span_tokens"] == 5
    r5 = rows[5]
    assert r5["n_windows"] == 0
    assert r5["dup_windows"] == 0


def test_dup_span_profile_overlapping_windows_union(spark):
    from data_pipelines_snowflake_procedures_spark.operators.dedup import (
        dup_span_profile,
    )

    # Adjacent duplicated starts overlap: coverage must be the interval
    # UNION (9 tokens for starts {1..5} with n=5), not 5*5=25.
    nine = "w1 w2 w3 w4 w5 w6 w7 w8 w9"
    df = spark.createDataFrame(
        [(1, nine), (2, nine)], ["doc_id", "text"]
    )
    r = {x["doc_id"]: x for x in dup_span_profile(df, n=5).collect()}[1]
    assert r["dup_windows"] == 5
    assert r["dup_token_cov"] == 9
    assert r["max_span_tokens"] == 9
    assert r["dup_frac"] == 1.0


def test_dup_span_dedup_keeps_canonical_occurrence(spark):
    from data_pipelines_snowflake_procedures_spark.operators.dedup import (
        dup_span_dedup,
    )

    # Docs 1 and 2 share an 8-token prefix; doc 1 is canonical (lower
    # doc_id), so doc 2 loses the whole shared span while doc 1 keeps
    # its full text. Doc 3 is untouched.
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h unique1 tail1"),
            (2, "a b c d e f g h other2 tail2"),
            (3, "p q r s t u v w x y"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in dup_span_dedup(df, n=5).collect()}
    assert rows[1]["clean_text"] == "a b c d e f g h unique1 tail1"
    assert rows[1]["removed_tokens"] == 0
    assert rows[2]["clean_text"] == "other2 tail2"
    assert rows[2]["n_tokens_before"] == 10
    assert rows[2]["n_tokens_after"] == 2
    assert rows[2]["removed_tokens"] == 8
    assert rows[3]["removed_tokens"] == 0


def test_dup_span_dedup_self_repeat_and_gap_overlap(spark):
    from data_pipelines_snowflake_procedures_spark.operators.dedup import (
        dup_span_dedup,
    )

    # Within-doc repeat: the second occurrence of "m n o p q" is cut.
    df = spark.createDataFrame(
        [(1, "m n o p q z1 z2 m n o p q")], ["doc_id", "text"]
    )
    r = dup_span_dedup(df, n=5).collect()[0]
    assert r["clean_text"] == "m n o p q z1 z2"
    assert r["removed_tokens"] == 5


def test_dup_span_dedup_then_profile_is_clean(spark):
    from data_pipelines_snowflake_procedures_spark.operators.dedup import (
        dup_span_dedup,
        dup_span_profile,
    )

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j k l"),
            (2, "a b c d e f g h z1 z2 z3 z4"),
            (3, "q w e r t a b c d e f g h"),
        ],
        ["doc_id", "text"],
    )
    cleaned = dup_span_dedup(df, n=5).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    prof = dup_span_profile(cleaned, n=5).collect()
    # after keeping only canonical occurrences, no 5-gram repeats
    # (the planted fixture cannot glue new duplicates together)
    assert all(r["dup_windows"] == 0 for r in prof)


def test_join_ivm_fold_equals_from_scratch(spark):
    from data_pipelines_snowflake_procedures_spark.operators.incremental import (
        maintain_join,
    )

    # Arbitrary 3-way splits on both sides (including keys that only
    # ever appear in deltas, and delta-x-delta pairs): two folds must
    # equal the from-scratch join of the final relations.
    a = spark.createDataFrame(
        [(k, f"a{k}{i}") for k in range(7) for i in range(3)], ["k", "av"]
    )
    b = spark.createDataFrame(
        [(k, f"b{k}{i}") for k in range(1, 9) for i in range(2)], ["k", "bv"]
    )
    a0, da1, da2 = (a.filter((F.col("av").substr(-1, 1)) == str(i)) for i in range(3))
    b0, db1 = (b.filter((F.col("bv").substr(-1, 1)) == str(i)) for i in range(2))
    db2 = b.limit(0)
    r0 = a0.join(b0, "k")
    r1 = maintain_join(r0, a0, da1, b0, db1, ["k"])
    r2 = maintain_join(
        r1, a0.unionByName(da1), da2, b0.unionByName(db1), db2, ["k"]
    )
    got = sorted(map(tuple, r2.collect()))
    want = sorted(map(tuple, a.join(b, "k").collect()))
    assert got == want and len(got) == 7 * 3 * 2 - 3 * 2  # k=0 has no b side


def test_join_ivm_signed_delete_cancels_pairs(spark):
    from data_pipelines_snowflake_procedures_spark.operators.incremental import (
        consolidate_bag,
        maintain_join_signed,
    )

    # b has TWO rows for k=1, so deleting the a-side (1, "x") must
    # cancel exactly two result pairs; k=2 row deleted then
    # re-inserted nets back to present.
    a0 = spark.createDataFrame(
        [(1, "x", 1), (2, "y", 1)], ["k", "av", "m"]
    )
    b0 = spark.createDataFrame(
        [(1, "p", 1), (1, "q", 1), (2, "r", 1)], ["k", "bv", "m"]
    )
    r0 = consolidate_bag(
        a0.withColumnRenamed("m", "ma")
        .join(b0.withColumnRenamed("m", "mb"), "k")
        .select("k", "av", "bv", (F.col("ma") * F.col("mb")).cast("long").alias("m"))
    )
    da1 = spark.createDataFrame(
        [(1, "x", -1), (2, "y", -1), (2, "y", 1), (3, "z", 1)],
        ["k", "av", "m"],
    )
    db1 = spark.createDataFrame([(3, "s", 1)], ["k", "bv", "m"])
    r1 = maintain_join_signed(r0, a0, da1, b0, db1, ["k"])
    got = sorted((r["k"], r["av"], r["bv"], r["m"]) for r in r1.collect())
    assert got == [(2, "y", "r", 1), (3, "z", "s", 1)]


def test_mmr_rerank_prefers_diversity_over_redundant_top_k(spark):
    from data_pipelines_snowflake_procedures_spark.operators.similarity import (
        knn_bruteforce,
        mmr_rerank,
    )

    # Query [1,0]: candidates 10/11 are mutual near-duplicates at ~26
    # deg (rel ~0.9, pair sim ~1.0), candidate 12 sits on the other
    # side (rel 0.85, sim to the cluster ~0.53). Plain top-2 takes the
    # duplicate pair; MMR (lam=0.5) takes one of them then 12, because
    # the second duplicate's penalty (~1) wipes out its relevance.
    rows = [
        (0, [1.0, 0.0]),
        (10, [0.9, 0.436]),
        (11, [0.9, 0.44]),
        (12, [0.85, -0.527]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") == 0)
    corpus = emb.filter(F.col("vec_id") > 0)
    topk = [
        r["neighbor_id"]
        for r in knn_bruteforce(corpus, q, k=2)
        .orderBy("rank")
        .collect()
    ]
    assert topk == [10, 11]
    mmr = [
        r["neighbor_id"]
        for r in mmr_rerank(corpus, q, k=2, n_candidates=3, lam=0.5)
        .orderBy("mmr_rank")
        .collect()
    ]
    assert mmr == [10, 12]


def test_mmr_rerank_lambda_one_equals_top_k(spark):
    from data_pipelines_snowflake_procedures_spark.operators.similarity import (
        knn_bruteforce,
        mmr_rerank,
    )

    # lam=1 disables the penalty: MMR order must equal the plain
    # relevance ranking.
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") < 2)
    corpus = emb.filter(F.col("vec_id") >= 2)
    want = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in knn_bruteforce(corpus, q, k=4).collect()
    }
    got = {
        (r["query_id"], r["mmr_rank"]): r["neighbor_id"]
        for r in mmr_rerank(corpus, q, k=4, n_candidates=10, lam=1.0).collect()
    }
    assert got == want


def test_signed_rollup_fold_equals_recompute_random_batches(spark):
    """Signed partial-agg + signed histogram: fold over an arbitrary
    insert/delete batch sequence equals a from-scratch aggregate of
    the surviving multiset — distributive (n, sum) AND holistic
    (median via the signed histogram) metrics, with net-zero keys and
    emptied bins consolidated away."""
    import random

    from data_pipelines_snowflake_procedures_spark.operators.incremental import (
        merge_hists_signed,
        merge_partials_signed,
        partial_agg_signed,
        partial_hist_signed,
        quantile_from_hist,
    )

    rng = random.Random(9)
    live: list[tuple[str, int]] = []
    batches = []
    for _ in range(3):
        batch = []
        for _i in range(40):  # inserts
            row = (rng.choice("abc"), rng.randint(1, 50))
            live.append(row)
            batch.append((*row, 1))
        rng.shuffle(live)
        for _i in range(min(15, len(live) // 2)):  # deletes of live rows
            row = live.pop()
            batch.append((*row, -1))
        batches.append(
            spark.createDataFrame(batch, ["k", "v", "sign"])
        )
    # every 'c' row deleted in the last batch → key may vanish entirely
    gone = [r for r in live if r[0] == "c"]
    live = [r for r in live if r[0] != "c"]
    if gone:
        batches.append(
            spark.createDataFrame(
                [(k, v, -1) for k, v in gone], ["k", "v", "sign"]
            )
        )
    state = merge_partials_signed(
        [partial_agg_signed(b, ["k"], "v") for b in batches], ["k"]
    )
    hist = merge_hists_signed(
        [partial_hist_signed(b, ["k"], "v", scale=1) for b in batches], ["k"]
    )
    med = quantile_from_hist(hist, ["k"], 0.5, scale=1, out="med")
    got = {
        r["k"]: (r["n"], r["sum"], r["med"])
        for r in state.join(med, ["k"]).collect()
    }
    # from-scratch truth over the surviving multiset
    want = {}
    for k in set(r[0] for r in live):
        vals = sorted(v for kk, v in live if kk == k)
        want[k] = (
            len(vals),
            float(sum(vals)),
            float(vals[-(-len(vals) // 2) - 1]),  # ceil(n/2) rank, 1-based
        )
    assert got == want
    assert "c" not in got  # consolidated out, not present with n=0


def test_fit_cache_is_sf_keyed_and_memoizes(spark):
    """The driver-side model-fit memo (queries_llm._FIT_CACHE) must (1)
    key on sf_dir so warming one corpus never leaks another corpus's
    codebook into an entry, (2) return the exact cold-fit value, and
    (3) actually memoize — the evaluation entries' speedup depends on
    the second training never running."""
    from data_pipelines_snowflake_procedures_spark import queries_llm as QL
    from data_pipelines_snowflake_procedures_spark.operators.similarity import (
        kmeans_fit,
    )
    from data_pipelines_snowflake_procedures_spark.session import load_table

    sf_a, sf_b = "/root/testdata/sf0.001", "/root/testdata/sf0.01"
    saved = dict(QL._FIT_CACHE)
    QL._FIT_CACHE.clear()
    try:
        emb_a = load_table(spark, sf_a, "embeddings")
        emb_b = load_table(spark, sf_b, "embeddings")
        cold_b = kmeans_fit(emb_b, k=8, iters=2)
        ca = QL._cached_fit(
            sf_a, "coarse_k8", lambda: kmeans_fit(emb_a, k=8, iters=2)
        )
        cb = QL._cached_fit(
            sf_b, "coarse_k8", lambda: kmeans_fit(emb_b, k=8, iters=2)
        )
        assert cb == cold_b  # warming sf_a did not leak into sf_b
        assert ca != cb  # different corpora yield different centroids
        sentinel = object()
        assert (
            QL._cached_fit(sf_b, "coarse_k8", lambda: sentinel) == cold_b
        )  # memo hit: the thunk is not re-evaluated
    finally:
        QL._FIT_CACHE.clear()
        QL._FIT_CACHE.update(saved)


def _pq_assign_all(
    df: DataFrame, codebooks: list[list[list[float]]], sub_exprs: list[Column]
) -> DataFrame:
    """Every subspace's argmin code in ONE projection over ONE
    broadcast books matrix — the JVM-native reference spec of the PQ
    encode that the numpy kernel of ``pq_encode``/``pq_fit`` must
    match code for code. ``sub_exprs[j]`` is the j-th
    subvector column (a pre-sliced column or a slice expression).
    Distances are the ordered ``aggregate(zip_with(sub, c))`` fold
    per book entry, argmin ties to the lowest code via
    array_position(array_min)."""
    mat = df.sparkSession.createDataFrame(
        [([[[float(x) for x in c] for c in b] for b in codebooks],)],
        "__pq_books: array<array<array<double>>>",
    )
    out = df.crossJoin(F.broadcast(mat))

    def _dist_fn(s):
        # closure, not a default arg: F.transform treats a 2-arg
        # lambda as (element, index)
        return lambda c: F.aggregate(
            F.zip_with(
                s,
                c,
                lambda x, y: (x.cast("double") - y)
                * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    code_cols = []
    for j in range(len(codebooks)):
        dists = F.transform(
            F.element_at(F.col("__pq_books"), j + 1),
            _dist_fn(sub_exprs[j]),
        )
        code_cols.append(
            (F.array_position(dists, F.array_min(dists)) - 1)
            .cast("long")
            .alias(f"code_{j}")
        )
    return out.select(*df.columns, *code_cols)


def test_pq_numpy_assign_matches_jvm_spec(spark, sf_dir):
    """r10: the Arrow numpy PQ encode (hot path) must emit codes
    IDENTICAL to the JVM-native reference projection _pq_assign_all —
    the bit-exactness claim behind routing pq_encode/pq_fit through
    numpy (per-dimension index-order accumulation, first-min ties)."""
    from data_pipelines_snowflake_procedures_spark.operators.similarity import (
        pq_encode,
        pq_fit,
    )
    from data_pipelines_snowflake_procedures_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_fit(emb, m=4, k=16, iters=2)
    sub = len(books[0][0])
    got = {
        r["vec_id"]: tuple(r[f"code_{j}"] for j in range(4))
        for r in pq_encode(emb, books).select(
            "vec_id", *[f"code_{j}" for j in range(4)]
        ).collect()
    }
    ref = {
        r["vec_id"]: tuple(r[f"code_{j}"] for j in range(4))
        for r in _pq_assign_all(
            emb,
            books,
            [F.slice(F.col("embedding"), j * sub + 1, sub) for j in range(4)],
        ).select("vec_id", *[f"code_{j}" for j in range(4)]).collect()
    }
    assert got == ref


def test_knn_scans_zero_norm_vector_sorts_last(spark):
    """ADVICE r10 / VERDICT r10 #6: a zero-norm corpus vector scores
    0/0 = NaN in the numpy scan kernels; Spark orders NaN ABOVE every
    real double, so without the NaN->NULL guard it would surface as
    the #1 neighbor. It must sort LAST (NULL) like the pre-kernel
    Spark division did — i.e. rank after every real-scored neighbor —
    in every search."""
    from data_pipelines_snowflake_procedures_spark.operators.similarity import (
        knn_ivf,
        knn_sq,
        sq_bounds,
    )

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 0.0, 0.0]),  # zero-norm: NaN cosine to everything
    ]
    vecs = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    q = vecs.filter(F.col("vec_id") == 1)

    out = knn_bruteforce(vecs, q, k=3).collect()
    by_rank = {r["rank"]: r for r in out}
    assert [by_rank[i]["neighbor_id"] for i in (1, 2)] == [2, 3]
    assert by_rank[3]["neighbor_id"] == 4
    assert by_rank[3]["cosine"] is None  # NaN mapped to NULL, sorts last

    out_sq = knn_sq(vecs, q, sq_bounds(vecs), k=3, rerank=2).collect()
    sq_rank = {r["rank"]: r for r in out_sq}
    assert sq_rank[1]["neighbor_id"] == 2 and sq_rank[2]["neighbor_id"] == 3
    # the exact re-rank stage is guarded too: the zero-norm candidate
    # lands last with a NULL cosine, never first with NaN
    assert sq_rank[3]["neighbor_id"] == 4 and sq_rank[3]["cosine"] is None

    # the join searches rank it last too, where the division raised
    # DIVIDE_BY_ZERO under ANSI mode
    cents = vecs.filter(F.col("vec_id") <= 2).withColumnRenamed("vec_id", "centroid_id")
    for out_j in (
        knn_lsh(vecs, q, k=3, n_planes=0, dim=4).collect(),
        knn_ivf(vecs, q, cents, k=3, nprobe=2).collect(),
    ):
        j_rank = {r["rank"]: r for r in out_j}
        assert [j_rank[i]["neighbor_id"] for i in (1, 2, 3)] == [2, 3, 4]
        assert j_rank[3]["cosine"] is None


@pytest.mark.slowtier
def test_near_dup_blocked_oversized_bucket_cap(spark):
    """VERDICT r10 #7: a hot SRP bucket must not materialize unbounded
    on one executor — oversized buckets split like oversized k-means
    cells. n_planes=0 puts the WHOLE corpus in one bucket (the
    pathological case); two exactly-identical clumps with interleaved
    ids exercise the split (clumps separate into sub-cells), the
    recursive re-split, and the max_depth fallback (identical vectors
    cannot split further) — while every qualifying pair survives, so
    the capped result equals the uncapped one here (cross-clump
    cosine is 0, far below threshold, so splitting drops nothing)."""
    from data_pipelines_snowflake_procedures_spark.operators.dedup import (
        embedding_near_dup_blocked,
    )

    rows = [
        (i, [1.0, 0.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 1.0, 0.0, 0.0])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    kw = dict(threshold=0.99, n_planes=0, dim=4)
    capped = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_blocked(
            df, max_bucket_size=10, **kw
        ).collect()
    }
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_blocked(
            df, max_bucket_size=None, **kw
        ).collect()
    }
    # 20 identical vectors per clump -> C(20,2) pairs each, no cross
    assert len(uncapped) == 2 * (20 * 19) // 2
    assert capped == uncapped
