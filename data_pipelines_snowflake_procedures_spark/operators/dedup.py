"""Deduplication operators for LLM training-data pipelines: exact,
n-gram Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.

North-star extensions (SURVEY.md §7 step 8) over the ``documents`` /
``embeddings`` harness tables. All hashing is md5-based so Spark and
the DuckDB oracle agree bit-for-bit (DuckDB lacks xxhash64); swap
:func:`token_hash` to ``F.xxhash64`` for ~3× faster production hashing
when cross-engine determinism is not needed.

Scale design (the point of each operator, in order of cost):

* **exact_dedup** — one shuffle on the 128-bit content hash; group
  sizes are tiny (true duplicates), so no skew concern.
* **token_jaccard_pairs** — inverted-index self-join: shuffle on
  token, pair counts aggregated map-side. The classic failure mode at
  100 TB is high-document-frequency tokens exploding the join
  (quadratic in df); ``max_token_df`` drops those tokens (standard
  practice — a token in half the corpus carries no dedup signal).
* **minhash_lsh_pairs** — the scale path: candidate generation touches
  only (doc, band) rows, shuffles on band key, and the quadratic blowup
  is confined to hash buckets (actual near-dups). Verification runs
  exact Jaccard on candidates only, over the same per-document shingle
  set the signatures were hashed from (:func:`shingle_sets`, built
  once). Signatures and band keys are SQL text (:func:`_band_keys`),
  so the plan costs a few hundred py4j round trips, not thousands.
* **simhash** — one narrow projection producing a 32-bit signature;
  near-dup blocking joins on rotated signature bands (Hamming ≤ k).
* **embedding_near_dup_pairs** — exact O(n²); use only on bounded
  slices or after LSH blocking (operators/similarity.py) at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .profile import ident
from .text import fingerprint, fingerprint_sql, shingles_sql, tokens, tokens_sql

SIMHASH_BITS = 32


#: Normalization + hash used for exact dedup: md5 of the
#: whitespace-collapsed, lowercased text (the text fingerprint).
content_key = fingerprint


def keep_min_id(df: DataFrame, key_sql: str, id_col: str) -> DataFrame:
    """The minimum-id row per value of the SQL expression ``key_sql``:
    ONE shuffle on the key (window row_number), no join-back — the
    min-id-then-rejoin formulation scans and shuffles the corpus twice
    for the same answer. A NULL id sorts first, as in ``ORDER BY id``."""
    return (
        df.selectExpr(
            "*",
            f"row_number() OVER (PARTITION BY {key_sql} ORDER BY {ident(id_col)}) AS __rn",
        )
        .filter("__rn = 1")
        .drop("__rn")
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: keep the minimum-id representative per normalized
    content hash (:func:`keep_min_id` over :func:`content_key`)."""
    return keep_min_id(df, fingerprint_sql(text_col), id_col)


def dedup_against(
    new_batch: DataFrame,
    existing: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup: rows of ``new_batch`` whose normalized
    content does NOT already exist in ``existing`` — the daily-crawl
    shape (new batch vs accumulated corpus), composed with
    :func:`exact_dedup` for within-batch duplicates first.

    Plan: dedup the (small) batch, then LEFT ANTI join its content
    hashes against the corpus's. The corpus side reduces to a
    hash-projection scan — at 100 TB, store/maintain the corpus's
    content-hash column (or a bucketed hash table) so the anti join
    shuffles 16-byte hashes, never text; with both sides bucketed on
    the hash it needs no shuffle at all (sources/sink.py).
    """
    batch = exact_dedup(new_batch, text_col, id_col).withColumn(
        "__ck", content_key(text_col)
    )
    seen = existing.select(content_key(text_col).alias("__ck")).distinct()
    return batch.join(seen, on="__ck", how="left_anti").drop("__ck")


def shingle_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 1
) -> DataFrame:
    """``(id, toks)``: each document's DISTINCT tokens, or distinct
    n-token shingles for n>1 (set semantics for Jaccard). One narrow
    projection; the MinHash signatures, the candidate verification and
    :func:`doc_tokens` all read this one definition."""
    unit = f"array_distinct({tokens_sql(text_col)})" if n == 1 else shingles_sql(text_col, n)
    return df.selectExpr(f"{ident(id_col)} AS id", f"{unit} AS toks")


def doc_tokens(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 1
) -> DataFrame:
    """(id, token) inverted-index rows; n>1 switches to n-token
    shingles. Distinct per document (set semantics for Jaccard)."""
    return shingle_sets(df, text_col, id_col, n).selectExpr("id", "explode(toks) AS tok")


def token_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 1,
    threshold: float = 0.9,
    max_token_df: int | None = None,
) -> DataFrame:
    """All document pairs with token-set Jaccard ≥ threshold, via the
    inverted-index join (never a cross join). Output
    ``(doc_a, doc_b, jaccard)`` with doc_a < doc_b.

    ``max_token_df`` drops tokens appearing in more than that many
    documents before pairing — the skew guard that makes this viable
    beyond toy scale (dropped tokens only *lower* Jaccard estimates;
    at the default None, Jaccard is exact).

    Cache note: the token index is cached because three branches of
    the RETURNED lazy plan read it (sizes + both self-join sides), so
    it must outlive this call — an intentional session cache; batch
    harnesses release it between entries (bench.py clearCache).
    """
    toks = doc_tokens(df, text_col, id_col, n).cache()
    if max_token_df is not None:
        rare = toks.groupBy("tok").count().filter(F.col("count") <= max_token_df)
        toks = toks.join(rare.select("tok"), "tok")
    sizes = toks.groupBy("id").agg(F.count("*").alias("sz"))
    a, b = toks.alias("a"), toks.alias("b")
    inter = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("doc_b"), F.col("sz").alias("sz_b"))
    jac = F.col("inter").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("inter")
    ).cast("double")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 1,
    threshold: float = 0.9,
) -> DataFrame:
    """EXACT-threshold Jaccard similarity join via prefix filtering
    (the PPJoin-family principle, Chaudhuri/Bayardo — public
    algorithm): identical output to :func:`token_jaccard_pairs`, but
    the candidate join touches only each document's PREFIX tokens —
    its ``|d| − ceil(t·|d|) + 1`` globally-rarest tokens — instead of
    its whole set. Two sets with Jaccard ≥ t must share a prefix token
    under a common global order (with the size filter
    ``t·|b| ≤ |a|``, overlap ≥ ceil(t·max(|a|,|b|)) follows from
    o ≥ t(|a|+|b|)/(1+t)), so the filter has NO false negatives and
    exact verification of the candidates restores exactness — the LSH
    alternative trades recall; this trades nothing.

    At 100 TB the candidate join's skew ceiling is the rarity
    ordering's whole point: prefixes hold each document's LOWEST-df
    tokens, so hot tokens never generate candidates. Verification work
    is Σ|a| over candidate pairs, not corpus²."""
    from pyspark.sql.window import Window

    toks = doc_tokens(df, text_col, id_col, n).persist()
    order = toks.groupBy("tok").agg(F.count("*").alias("tok_df"))
    w_pos = Window.partitionBy("id").orderBy(F.asc("tok_df"), F.asc("tok"))
    w_sz = Window.partitionBy("id")
    # ceil with an epsilon guard: double t·n lands just ABOVE integers
    # at exact multiples (0.9·10 → 9.000000000000002 → ceil 10), which
    # would SHORTEN the prefix and break the no-false-negative proof
    prefix = (
        toks.join(F.broadcast(order), "tok")
        .withColumn("pos", F.row_number().over(w_pos))
        .withColumn("sz", F.count("*").over(w_sz))
        .filter(
            F.col("pos")
            <= F.col("sz")
            - F.ceil(F.lit(float(threshold)) * F.col("sz") - F.lit(1e-9))
            + 1
        )
        .select("id", "tok")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .distinct()
    )
    # exact verification over full token sets, candidates only
    ta = toks.select(F.col("id").alias("doc_a"), F.col("tok"))
    tb = toks.select(F.col("id").alias("doc_b"), F.col("tok"))
    inter = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sizes = toks.groupBy("id").agg(F.count("*").alias("sz"))
    sa = sizes.select(F.col("id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("doc_b"), F.col("sz").alias("sz_b"))
    jac = F.col("inter").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("inter")
    ).cast("double")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def dup_span_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Exact duplicated-substring span profile — the ExactSubstr idea
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better") computed distributively WITHOUT suffix arrays: a
    token position is duplicated iff some length-``n`` token window
    covering it occurs ≥ ``min_count`` times corpus-wide (self-repeats
    included, as in the original). Per document this reports how much
    of it is verbatim-duplicated text and the longest duplicated run —
    the fine-grained signal doc-level MinHash/SimHash cannot give
    (boilerplate headers, licence blocks, quoted chunks inside
    otherwise-unique pages).

    Plan, in shuffle order:

    1. positional n-gram explode → |corpus tokens| rows (narrow);
    2. groupBy gram with map-side partial counts (shuffle #1) —
       duplicated grams only survive the HAVING, so the join feed is
       duplicate-sized, not corpus-sized;
    3. join window starts to surviving grams (shuffle on gram; AQE
       broadcasts the survivor side when duplication is sparse);
    4. one window pass per doc (shuffle on id) computing BOTH the
       interval-union coverage (sum of least(n, pos − lag(pos)) — the
       classic merged-interval sweep as a frame expression) and the
       run key (pos − row_number), then two groupBys that reuse the
       id partitioning (HashPartitioning(id) satisfies (id, run)).

    Nothing is quadratic and no suffix structure is materialized; at
    100 TB swap the gram string for ``xxhash64(gram)`` in steps 2–3 to
    shuffle 8-byte keys (collision odds ~|grams|²/2⁶⁴; the registered
    form keeps the string so the DuckDB oracle is hash-exact).

    Reference: no counterpart — north-star training-data mandate
    (SURVEY.md §2.14 family; complements exact_dedup at :45 and
    minhash_lsh_pairs at :294).
    """
    from pyspark.sql.window import Window

    from .text import positional_shingles

    toks = tokens(text_col)
    base = df.select(
        F.col(ident(id_col)).alias("id"),
        F.size(toks).cast("long").alias("n_tokens"),
        positional_shingles(text_col, n).alias("grams"),
    )
    grams = base.select(
        "id", F.posexplode("grams").alias("pos0", "gram")
    ).select("id", (F.col("pos0") + 1).alias("pos"), "gram")
    survivors = (
        grams.groupBy("gram")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("gram")
    )
    dup = grams.join(survivors, "gram").select("id", "pos")
    w = Window.partitionBy("id").orderBy("pos")
    cov = F.coalesce(
        F.least(F.lit(n), F.col("pos") - F.lag("pos").over(w)), F.lit(n)
    )
    run = F.col("pos") - F.row_number().over(w)
    runs = (
        dup.select("id", "pos", cov.alias("cov"), run.alias("run"))
        .groupBy("id", "run")
        .agg(
            F.count("*").alias("wins"),
            F.sum("cov").alias("covsum"),
            (F.max("pos") - F.min("pos") + n).cast("long").alias("span"),
        )
    )
    perdoc = runs.groupBy("id").agg(
        F.sum("wins").alias("dup_windows"),
        F.sum("covsum").alias("dup_token_cov"),
        F.max("span").alias("max_span_tokens"),
    )
    frac = F.when(
        F.col("n_tokens") > 0,
        F.floor(
            F.coalesce(F.col("dup_token_cov"), F.lit(0)).cast("double")
            / F.col("n_tokens")
            * 10000
        )
        / 10000,
    ).otherwise(F.lit(0.0))
    return (
        base.select(
            "id",
            "n_tokens",
            F.greatest(F.size("grams").cast("long"), F.lit(0).cast("long")).alias(
                "n_windows"
            ),
        )
        .join(perdoc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            "n_windows",
            F.coalesce("dup_windows", F.lit(0)).cast("long").alias("dup_windows"),
            F.coalesce("dup_token_cov", F.lit(0))
            .cast("long")
            .alias("dup_token_cov"),
            frac.alias("dup_frac"),
            F.coalesce("max_span_tokens", F.lit(0))
            .cast("long")
            .alias("max_span_tokens"),
        )
    )


def dup_span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """The APPLY half of :func:`dup_span_profile` — distributed
    ExactSubstr deduplication (Lee et al. 2022): every duplicated
    length-``n`` token window keeps exactly its CANONICAL occurrence
    (first by ``(doc_id, pos)`` corpus-wide); tokens covered by any
    non-canonical duplicated window are removed and the document is
    reconstructed from the survivors. Policy at overlap boundaries: a
    token covered by both a canonical and a non-canonical window is
    removed (removal wins) — the same span-cut destructiveness the
    suffix-array original accepts, made deterministic.

    Output per document: the cleaned text (normalized-token rendering
    — lowercased, single-spaced, matching :func:`content_key`'s
    normalization), token counts before/after, and removed-token
    count.

    Plan: positional n-gram explode → duplicate-gram survivors (agg on
    gram) → canonical ranking (ONE window over duplicate occurrences
    only, partitioned by gram) → per-doc merged removal intervals (the
    run-key trick) → interval explode to removed positions (O(removed
    tokens), never O(doc²)) → left-anti against the token index →
    order-preserving rebuild via sort-free ``array_sort(collect_list(
    struct(pos, tok)))``. Shuffles: gram agg, gram window, id window,
    anti join + rebuild on id (AQE coalesces; the id stages reuse one
    partitioning). No suffix structure, nothing quadratic.

    Reference: no counterpart — north-star training-data mandate
    (complements dup_span_profile above).
    """
    from pyspark.sql.window import Window

    from .text import positional_shingles

    toks = tokens(text_col)
    base = df.select(
        F.col(ident(id_col)).alias("id"),
        toks.alias("toks"),
        positional_shingles(text_col, n).alias("grams"),
    )
    grams = base.select(
        "id", F.posexplode("grams").alias("pos0", "gram")
    ).select("id", (F.col("pos0") + 1).alias("pos"), "gram")
    survivors = (
        grams.groupBy("gram")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("gram")
    )
    occ = grams.join(survivors, "gram")
    w_gram = Window.partitionBy("gram").orderBy("id", "pos")
    removable = (
        occ.withColumn("rn", F.row_number().over(w_gram))
        .filter(F.col("rn") > 1)
        .select("id", "pos")
    )
    w_id = Window.partitionBy("id").orderBy("pos")
    runs = (
        removable.withColumn(
            "run", F.col("pos") - F.row_number().over(w_id)
        )
        .groupBy("id", "run")
        .agg(F.min("pos").alias("lo"), (F.max("pos") + n - 1).alias("hi"))
    )
    removed = runs.select(
        "id", F.explode(F.sequence("lo", "hi")).alias("tpos")
    ).distinct()
    token_index = base.select(
        "id", F.posexplode("toks").alias("tpos0", "tok")
    ).select("id", (F.col("tpos0") + 1).alias("tpos"), "tok")
    kept = token_index.join(removed, ["id", "tpos"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tpos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").cast("long").alias("n_tokens_after"),
    )
    return (
        base.select("id", F.size("toks").cast("long").alias("n_tokens_before"))
        .join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_tokens_before",
            F.coalesce("n_tokens_after", F.lit(0))
            .cast("long")
            .alias("n_tokens_after"),
            (
                F.col("n_tokens_before")
                - F.coalesce("n_tokens_after", F.lit(0))
            )
            .cast("long")
            .alias("removed_tokens"),
        )
    )


def token_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 1,
    threshold: float = 0.9,
    max_token_df: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup: pairs where the SMALLER token set is
    ≥ ``threshold`` contained in the other (``|A∩B| / min(|A|,|B|)``).
    Jaccard misses a short document embedded verbatim in a long one
    (the intersection is dwarfed by the union); containment is the
    standard detector for quote/boilerplate/sub-document duplication
    (CCNet-style). Same inverted-index plan shape as
    :func:`token_jaccard_pairs` — shuffle on token, never a cross
    join; ``max_token_df`` is the high-DF skew guard; same
    intentional token-index cache (see the jaccard docstring).

    Output ``(doc_a, doc_b, containment)`` with doc_a < doc_b.
    """
    toks = doc_tokens(df, text_col, id_col, n).cache()
    if max_token_df is not None:
        rare = toks.groupBy("tok").count().filter(F.col("count") <= max_token_df)
        toks = toks.join(rare.select("tok"), "tok")
    sizes = toks.groupBy("id").agg(F.count("*").alias("sz"))
    a, b = toks.alias("a"), toks.alias("b")
    inter = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("doc_b"), F.col("sz").alias("sz_b"))
    cont = F.col("inter").cast("double") / F.least("sz_a", "sz_b").cast("double")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(cont, 6).alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


#: MinHash permutation family: h_i(s) = (a_i * h(s) + b_i) mod P over a
#: single 30-bit base hash h(s) = md5(s) mod 2^30 — the standard
#: affine-universal construction (same family as datasketch's MinHash).
#: P is the largest prime below 2^30 so a_i * h fits comfortably in a
#: 64-bit long (< 2^60). ONE md5 per shingle replaces num_perm md5s:
#: the md5-per-permutation form kept every digest inside an
#: F.transform lambda, where Spark interprets (no codegen) — measured
#: 24x more hash work and the dominant cost of the LSH entries.
_MINHASH_P = 1073741789


def minhash_perm_consts(num_perm: int) -> "list[tuple[int, int]]":
    """Deterministic (a_i, b_i) for the affine permutations, derived
    from md5 of the permutation index — the SINGLE SOURCE both the
    Spark operator and the SQL oracle generators read, so the two
    engines cannot drift."""
    import hashlib

    out = []
    for i in range(num_perm):
        a = (
            int(hashlib.md5(f"minhash-a-{i}".encode()).hexdigest()[:15], 16)
            % (_MINHASH_P - 1)
            + 1
        )
        b = int(
            hashlib.md5(f"minhash-b-{i}".encode()).hexdigest()[:15], 16
        ) % _MINHASH_P
        out.append((a, b))
    return out


#: 30-bit base hash of the shingle ``sh``: md5, first 15 hex digits,
#: mod 2^30.
_BASE_HASH_SQL = "CAST(conv(substring(md5(sh), 1, 15), 16, 10) AS BIGINT) % 1073741824"


def _signatures(sets: DataFrame, num_perm: int) -> DataFrame:
    """``(id, sig_0..)`` from a :func:`shingle_sets` frame: explode the
    set, hash each shingle once, and take the ``num_perm`` affine MINs
    in one groupBy(id), all as SQL text."""
    mins = [
        F.expr(f"min(({a} * h + {b}) % {_MINHASH_P}) AS sig_{i}")
        for i, (a, b) in enumerate(minhash_perm_consts(num_perm))
    ]
    return (
        sets.selectExpr("id", "explode(toks) AS sh")
        .selectExpr("id", f"{_BASE_HASH_SQL} AS h")
        .groupBy("id")
        .agg(*mins)
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 24,
    n: int = 1,
) -> DataFrame:
    """MinHash signatures: the document's shingle set hashes once
    through md5 to a 30-bit base value, and permutation i is the
    affine map ``(a_i * h + b_i) mod P`` (:func:`minhash_perm_consts`)
    whose min over the set is signature entry i.

    Output: (id, sig_0..sig_{num_perm-1}) BIGINT columns.

    Plan shape: explode the distinct shingles to rows, compute the ONE
    md5 + num_perm affine maps as PLAIN PROJECTIONS (whole-stage
    codegen), then one groupBy(id) whose num_perm MIN aggregates
    combine map-side — so the shuffle carries one num_perm-wide row
    per (partition, doc). The previous form evaluated md5 inside
    transform lambdas (interpreted per element per permutation —
    num_perm md5s per shingle); this form does 24x less hash work and
    keeps the hot path in codegen. Documents with an empty shingle set
    produce no signature row (they cannot match anything anyway, and
    the SQL oracles' GROUP BY restatement drops them identically)."""
    return _signatures(shingle_sets(df, text_col, id_col, n), num_perm)


def _band_keys(sets: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """``(id, band, key)``: each document's signature cut into ``bands``
    bands of ``num_perm // bands`` rows, a band's key the md5 of its
    rows joined by ``|``. One ``inline`` over a literal array of
    structs; the shared band-key step of :func:`minhash_lsh_pairs` and
    :func:`lsh_bucket_stats`."""
    r = num_perm // bands
    keys = ", ".join(
        f"named_struct('band', {bi}, 'key', md5(concat_ws('|', "
        + ", ".join(f"sig_{bi * r + j}" for j in range(r))
        + ")))"
        for bi in range(bands)
    )
    return _signatures(sets, num_perm).selectExpr("id", f"inline(array({keys}))")


def _bucket_sizes(band_rows: DataFrame) -> DataFrame:
    """``(band, key, bucket_size)``: documents per band bucket."""
    return band_rows.groupBy("band", "key").agg(F.expr("count(1) AS bucket_size"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 24,
    bands: int = 6,
    n: int = 3,
    threshold: float = 0.9,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash + LSH banding near-dup detection, the 100 TB dedup
    path: signature → band keys → bucket join (quadratic only inside
    buckets) → exact-Jaccard verification of candidates.

    Output ``(doc_a, doc_b, jaccard)``, a recall-bounded subset of
    :func:`token_jaccard_pairs` at the same threshold. With r =
    num_perm/bands rows per band, P(candidate) = 1-(1-j^r)^bands.
    Document ids are keys: one row per id.

    **One shingle set per document.** :func:`shingle_sets` projects
    ``(id, toks)`` once, as SQL text; the signatures explode ``toks``
    and the verification joins the candidate pairs back to the same
    ``toks`` and ``size(toks)``. There is no second tokenization and no
    ``collect_set`` shuffle to rebuild the sets: with an eager
    checkpoint the call is 4 Spark jobs. The signature MINs, band keys
    and Jaccard are SQL text too, so building the plan takes a few
    hundred py4j round trips, where Column calls took about 3500.

    **The shingle unit is load-bearing at scale — the default is
    n=3.** ``n=1`` hashes the raw token SET; on a low-diversity corpus
    (tiny vocabulary, heavy boilerplate) most documents share
    near-identical token sets, band buckets approach corpus size, and
    the bucket join degenerates to the all-pairs quadratic — measured
    at sf1 (500k docs, ~50-word base vocabulary): n=1 GC-thrashed to
    death while ``n=3`` shingles finished in 77 s with 25k verified
    pairs. Pass ``n=1`` explicitly only for small-slice token-set
    parity work (the labeled ``dedup_minhash_lsh_documents`` registry
    entry does); run exact dedup first (clean_corpus does) so identical
    documents collapse before banding.

    ``max_bucket_size`` is the skew guard for the residue: band
    buckets larger than the cap are DROPPED from candidate generation
    (one extra groupBy when enabled). That loses recall for exactly
    the documents whose buckets overflowed — never silently: inspect
    :func:`lsh_bucket_stats` first and log what the cap drops.
    """
    sets = shingle_sets(df, text_col, id_col, n)
    band_rows = _band_keys(sets, num_perm, bands)
    if max_bucket_size is not None:
        small = _bucket_sizes(band_rows).filter(f"bucket_size <= {int(max_bucket_size)}")
        band_rows = band_rows.join(small, ["band", "key"], "left_semi")
    candidates = (
        band_rows.alias("a")
        .join(
            band_rows.alias("b"),
            F.expr("a.band = b.band AND a.key = b.key AND a.id < b.id"),
        )
        .selectExpr("a.id AS doc_a", "b.id AS doc_b")
        .distinct()
    )
    # Verify candidates only: join each candidate pair to the two
    # documents' shingle SETS and intersect per pair. Cost is linear in
    # (candidate pairs × doc size) — never the corpus-wide quadratic
    # token-token self-join that token_jaccard_pairs(threshold=0.0)
    # would materialize (Catalyst cannot push a candidate filter into
    # that aggregate).
    inter = "size(array_intersect(toks_a, toks_b))"
    return (
        candidates.join(sets.selectExpr("id AS doc_a", "toks AS toks_a"), "doc_a")
        .join(sets.selectExpr("id AS doc_b", "toks AS toks_b"), "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            f"round(CAST({inter} AS DOUBLE) / "
            f"CAST(size(toks_a) + size(toks_b) - {inter} AS DOUBLE), 6) AS jaccard",
        )
        .filter(F.col("jaccard") >= threshold)
    )


def lsh_bucket_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 24,
    bands: int = 6,
    n: int = 3,
) -> DataFrame:
    """Band-bucket size distribution for :func:`minhash_lsh_pairs` —
    the pre-flight check before choosing ``max_bucket_size``: one row
    per bucket size with its bucket count and the pair-work (Σ size²)
    that size class contributes. A heavy tail here means the shingle
    unit is too coarse (raise ``n``) or exact dedup should run first."""
    band_rows = _band_keys(shingle_sets(df, text_col, id_col, n), num_perm, bands)
    return (
        _bucket_sizes(band_rows)
        .groupBy("bucket_size")
        .agg(F.count("*").alias("n_buckets"))
        .withColumn(
            "pair_work", F.col("n_buckets") * F.col("bucket_size") * F.col("bucket_size")
        )
        .orderBy(F.desc("bucket_size"))
    )


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Connected components over an undirected edge list — the step
    that turns near-dup PAIRS (from :func:`minhash_lsh_pairs`,
    :func:`simhash_near_dup_pairs`, …) into duplicate CLUSTERS so one
    representative per cluster survives. Output ``(id, comp)`` where
    ``comp`` is the minimum node id in the component; nodes not in any
    edge are absent (callers coalesce singletons to their own id), and
    an edge with a null endpoint joins nothing. ``id`` and ``comp``
    keep the type of ``src``.

    Algorithm: one union-find pass over the whole edge list in a single
    Arrow task: a dict parent map with path compression, linking the
    larger root under the smaller, so every root is its component's
    minimum id; each node is emitted once. Union-find is exact on any
    graph after one pass, so there are no rounds, no change check and
    no iteration cap that could return partial labels on a long chain.
    Round-based alternatives (min-label propagation, large-star/
    small-star) need O(log n) rounds of several Spark jobs each; at
    near-dup pair-list sizes the job count is the cost, not the edges.
    This plan is 2 jobs: the shuffle into one partition and the task.

    Memory bound: the whole node set lives in one Python worker. On a
    4-core VM the kernel alone labels a 1M-node chain with shuffled ids
    in 2.9 CPU-s at 267 MB peak RSS, and 3M random edges over 1M nodes
    in 12.8 CPU-s at 389 MB. Pair lists are edges between
    near-duplicates, orders of magnitude smaller than the corpus; a
    graph whose node set outgrows one worker needs a distributed
    algorithm instead.

    ``repartition(1)``, not ``coalesce(1)``: callers pass lazy pair
    computations, and ``coalesce`` would pull that whole plan into the
    one task. The eager ``localCheckpoint`` keeps the cost inside this
    call, and callers that reuse the result do not rerun Python.
    """
    # Nested, so cloudpickle ships the kernel by value: the Python
    # workers of a session not built by get_spark may be unable to
    # import this package.
    def union_find(batches):
        import pyarrow as pa

        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while x != root:
                parent[x], x = root, parent[x]
            return root

        arrow_type = None
        for batch in batches:
            arrow_type = batch.schema.field("id").type
            for a, b in zip(
                batch.column("id").to_pylist(), batch.column("nbr").to_pylist()
            ):
                if a is None or b is None:
                    continue
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra < rb:
                    parent[rb] = ra
                elif rb < ra:
                    parent[ra] = rb
        if parent:
            ids = list(parent)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, arrow_type), pa.array([find(x) for x in ids], arrow_type)],
                names=["id", "comp"],
            )

    t = edges.schema[src].dataType
    return (
        edges.select(F.col(src).alias("id"), F.col(dst).cast(t).alias("nbr"))
        .repartition(1)
        .mapInArrow(
            union_find,
            T.StructType([T.StructField("id", t), T.StructField("comp", t)]),
        )
        .localCheckpoint()
    )


def token_hash(tok: Column, bits: int = 60) -> Column:
    """Deterministic cross-engine integer hash: the first 15 md5 hex
    digits parsed base-16 (60 bits, always positive in a long)."""
    assert bits <= 60
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """SimHash signature per document: each output bit is the majority
    vote of that bit across the document's distinct token hashes.
    Output (id, simhash) — one narrow projection, no shuffle.

    Near-dup candidates then block on signature bands (documents
    within Hamming distance k share a band with high probability)."""
    # r11: materialize the token-hash array through its OWN projection.
    # Inlined, the transform(array_distinct(tokens), md5-conv) tree was
    # referenced by all `bits`+1 per-bit filters — higher-order-function
    # lambdas sit outside codegen subexpression elimination, so every
    # row tokenized and md5-hashed its text 33 times. CollapseProject
    # keeps the split (it refuses to duplicate non-cheap expressions),
    # leaving n_tok md5s + 32·n_tok integer bit tests per row.
    hashed = df.select(
        F.col(ident(id_col)).alias("id"),
        F.transform(
            F.array_distinct(tokens(text_col)), lambda t: token_hash(t)
        ).alias("__th"),
    )
    hashes = F.col("__th")
    n_tok = F.size(hashes)
    value = F.lit(0).cast("long")

    def bit_set(j: int):
        # single-arg lambda per bit: a two-arg lambda would bind the
        # second parameter to the array index in Spark's HOF protocol
        return lambda h: F.shiftright(h, j) % 2 == 1

    for j in range(bits):
        set_count = F.size(F.filter(hashes, bit_set(j)))
        bit_on = (set_count * 2) >= n_tok
        value = value + F.when(bit_on, F.lit(2**j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return hashed.select(
        "id",
        F.when(n_tok > 0, value).otherwise(F.lit(0).cast("long")).alias("simhash"),
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 1,
    bits: int = SIMHASH_BITS,
    n_bands: int = 4,
) -> DataFrame:
    """SimHash near-dup detection: band each signature into
    ``n_bands`` byte-slices, join documents sharing any band
    (pigeonhole: Hamming ≤ n_bands-1 guarantees one equal band), then
    verify exact Hamming distance ≤ ``max_hamming`` via
    bit_count(xor). Output (doc_a, doc_b, hamming).

    The banded join is the scale path — quadratic work confined to
    band buckets, like MinHash-LSH but with integer signatures (4 B/doc
    of signature state vs 24 md5 strings)."""
    band_width = bits // n_bands
    mask = (1 << band_width) - 1
    sigs = simhash(df, text_col, id_col, bits)
    bands = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * band_width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bv"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "simhash", F.col("bk.band").alias("band"), F.col("bk.bv").alias("bv"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_hamming)


def dot_product(a: Column, b: Column) -> Column:
    """Ordered-fold dot product in double — identical accumulation
    order on every engine, so results are portable bit-for-bit."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    """Euclidean norm in double (ordered fold)."""
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two float-array columns. For joins, prefer
    precomputing :func:`norm` per side before pairing (see
    operators/similarity.py) — this convenience form recomputes norms
    per pair."""
    na, nb = norm(a), norm(b)
    return F.when(
        (na > 0) & (nb > 0), dot_product(a, b) / (na * nb)
    ).otherwise(F.lit(0.0))


def _grouped_cosine_pairs(
    normed: DataFrame,
    group_col: str,
    threshold: float,
    include_group: bool = False,
) -> DataFrame:
    """Within-group pair cosines, vectorized (optimization r10): one
    applyInPandas keyed on the blocking column replaces the
    group-keyed self-join whose per-pair JVM array-lambda fold
    dominated the near-dup entries. Bit-identical arithmetic to the
    old ``dot_product / (nrm_a * nrm_b)`` expression:

    * the dot accumulates per dimension IN INDEX ORDER from 0.0 — the
      exact IEEE op sequence of the ordered ``aggregate(zip_with)``
      fold;
    * ``nrm`` is NOT recomputed — the caller's JVM-computed norm
      column rides through and the denominator multiplies
      ``nrm_a * nrm_b`` before the one division, as before.

    Emits RAW cosines pre-filtered with a conservative margin
    (``threshold − 1e−6``; HALF_UP 6-decimal rounding moves a value by
    at most 5e−7, so no qualifying pair can be dropped); the caller
    applies the exact ``F.round(c, 6) >= threshold`` in Spark so the
    rounding engine is unchanged. Expects columns
    ``(id, emb, nrm, <group_col>)``; returns ``(id_a, id_b,
    [group,] c_raw)`` with ``id_a < id_b``. Row-blocked so a skewed
    group cannot hold an n×n float matrix."""
    import numpy as np
    import pandas as pd

    cut = threshold - 1e-6
    out_cols = ["id_a", "id_b"] + (["grp"] if include_group else []) + ["c_raw"]

    def per_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {
                    "id_a": pd.Series([], dtype="int64"),
                    "id_b": pd.Series([], dtype="int64"),
                    **(
                        {"grp": pd.Series([], dtype="int64")}
                        if include_group
                        else {}
                    ),
                    "c_raw": pd.Series([], dtype="float64"),
                }
            )
        pdf = pdf.sort_values("id")
        ids = pdf["id"].to_numpy(dtype=np.int64)
        nrm = pdf["nrm"].to_numpy(dtype=np.float64)
        X = np.stack(pdf["emb"].to_numpy()).astype(np.float64)
        dim = X.shape[1]
        grp = int(pdf[group_col].iloc[0]) if include_group else 0
        ia_all: list = []
        ib_all: list = []
        c_all: list = []
        block = max(1, 4_000_000 // n)
        for lo in range(0, n, block):
            hi = min(lo + block, n)
            acc = np.zeros((hi - lo, n), dtype=np.float64)
            for d in range(dim):
                acc += X[lo:hi, d][:, None] * X[None, :, d]
            c = acc / (nrm[lo:hi][:, None] * nrm[None, :])
            # strict upper triangle in id order: ids are sorted, so
            # column index > row index  <=>  id_b > id_a
            ri, ci = np.nonzero(c >= cut)
            keep = ci > (ri + lo)
            ri, ci = ri[keep], ci[keep]
            ia_all.append(ids[ri + lo])
            ib_all.append(ids[ci])
            c_all.append(c[ri, ci])
        data = {
            "id_a": np.concatenate(ia_all) if ia_all else np.array([], dtype=np.int64),
            "id_b": np.concatenate(ib_all) if ib_all else np.array([], dtype=np.int64),
        }
        if include_group:
            data["grp"] = np.full(len(data["id_a"]), grp, dtype=np.int64)
        data["c_raw"] = (
            np.concatenate(c_all) if c_all else np.array([], dtype=np.float64)
        )
        return pd.DataFrame(data)

    schema = "id_a LONG, id_b LONG, " + (
        "grp LONG, " if include_group else ""
    ) + "c_raw DOUBLE"
    return normed.groupBy(group_col).applyInPandas(per_group, schema=schema)


def embedding_near_dup_pairs(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.99,
) -> DataFrame:
    """Exact embedding near-dup pairs (cosine ≥ threshold) — O(n²),
    the verification/baseline path. At scale, use
    :func:`embedding_near_dup_blocked` (SRP buckets) instead; this
    operator deliberately computes EVERY pair, so the whole input is
    one :func:`_grouped_cosine_pairs` group (r11: the id_a<id_b
    BroadcastNestedLoopJoin with a per-pair 64-dim JVM fold → the
    vectorized one-group kernel; pair memory stays row-blocked inside
    it, the n×dim group matrix is the operator's own O(n²) contract).
    Result bit-identical: the kernel accumulates the dot per dimension
    in index order from 0.0 (the ordered fold's IEEE op sequence),
    reuses the JVM-computed norm column, pre-filters RAW cosines at
    threshold − 1e−6 (HALF_UP@6dp moves ≤5e−7, so no qualifying pair
    can be dropped), and the exact ``round(c,6) >= threshold`` below
    stays in Spark. Ids must be int64 (the similarity-module id
    contract); string-id corpora must map ids first."""
    normed = df.select(
        F.col(ident(id_col)).alias("id"),
        F.col(ident(emb_col)).alias("emb"),
        norm(F.col(ident(emb_col))).alias("nrm"),
        F.lit(0).alias("__blk"),
    )
    return (
        _grouped_cosine_pairs(normed, "__blk", threshold)
        .select("id_a", "id_b", F.round("c_raw", 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_near_dup_blocked(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.99,
    n_planes: int = 8,
    dim: int = 64,
    seed: str = "srp",
    max_bucket_size: int | None = 65_536,
) -> DataFrame:
    """Embedding near-dup pairs, SRP-blocked — the 100 TB path.

    Bucket every vector by its signed-random-projection signature
    (2^n_planes buckets) and compute cosine only within buckets: the
    self-join becomes a bucket equi-join, shrinking pair work
    ~2^n_planes-fold. Recall < 1 by construction (a near-dup pair can
    straddle a hyperplane), but for cosine ≥ 0.99 the two vectors
    disagree on a plane with probability ≈ arccos(0.99)/π ≈ 4.5% per
    plane; lower n_planes or multi-probe to push recall higher.

    Output ``(id_a, id_b, cosine)`` — a subset of
    :func:`embedding_near_dup_pairs` at the same threshold.
    """
    from .similarity import srp_bucket, srp_hyperplanes

    planes = srp_hyperplanes(n_planes, dim, seed)
    normed = df.select(
        F.col(ident(id_col)).alias("id"),
        F.col(ident(emb_col)).alias("emb"),
        norm(F.col(ident(emb_col))).alias("nrm"),
        srp_bucket(F.col(ident(emb_col)), planes).alias("bucket"),
    )
    if max_bucket_size is not None:
        # Size guard for the per-bucket kernel (VERDICT r10 #3): a hot
        # SRP bucket (low-entropy embeddings all on one side of every
        # hyperplane) would otherwise materialize an unbounded n×dim
        # group matrix on ONE executor inside applyInPandas. Oversized
        # buckets re-cluster exactly like oversized k-means cells
        # (recall trade-off identical to raising n_planes, applied only
        # where the cap is breached; no test-SF bucket comes near 65k
        # rows, so results are unchanged wherever the oracle looks).
        from pyspark import StorageLevel

        normed = split_oversized_cells(
            normed.persist(StorageLevel.MEMORY_AND_DISK),
            max_bucket_size,
            k=8,
            cluster_col="bucket",
            unpersist_input=True,
        )
    # r10 optimization: bucket-keyed self-join + per-pair fold → one
    # per-bucket vectorized kernel (same contract as the kmeans form)
    return _grouped_cosine_pairs(normed, "bucket", threshold).select(
        "id_a",
        "id_b",
        F.round(F.col("c_raw"), 6).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)


def split_oversized_cells(
    assigned: DataFrame,
    max_cell_size: int,
    k: int = 8,
    iters: int = 2,
    emb_col: str = "emb",
    id_col: str = "id",
    cluster_col: str = "cluster",
    max_depth: int = 3,
    unpersist_input: bool = False,
) -> DataFrame:
    """Skew guard for cell-blocked pair search (VERDICT r2 #5): any
    cell larger than ``max_cell_size`` is re-clustered with a fresh
    k-means fit over ITS OWN rows, recursively up to ``max_depth``
    rounds — so the Σ n_c² pair-join work stays bounded even when the
    corpus is pathologically concentrated (one dense semantic region
    swallowing most rows, where a single global k can't help).

    Driver work per round is one k-row cell-size aggregate plus the
    per-cell centroid state (cells × k × dim floats — broadcast-sized);
    split-cell labels are freshly issued from a driver counter, so
    surviving cells keep their ids and results stay deterministic
    (label blocks in ascending cell-id order; each cell seeds from its
    own lowest ids).

    ALL oversized cells re-cluster together in ONE grouped Lloyd pass
    per round (cell id as the group key — the ``grouped_pagerank``
    pattern): seeding is one window pass, each iteration is one
    broadcast-join assignment + one (cell, sub-cluster, dim) mean
    shuffle for every cell at once. The previous per-cell
    ``kmeans_fit`` loop launched ~4 sequential Spark jobs PER oversized
    cell — fine at a handful of cells, thousands of serial jobs on a
    skewed 100-TB corpus. Identical arithmetic to the per-cell fit
    (same seeds, same assignment kernel, same rounded means), so
    results are unchanged.

    Recall note: like raising ``k``, every split can drop pairs that
    straddle the new sub-cell boundary — that is the documented
    blocking trade-off, applied only where the cap is breached.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from .similarity import _sq_dists_to_matrix

    out = assigned
    spark = assigned.sparkSession
    cell_c, id_c, emb_c = (F.col(ident(c)) for c in (cluster_col, id_col, emb_col))
    # With unpersist_input=True the caller hands over responsibility
    # for ``assigned``'s cache: the first split round releases it once
    # the round's own persisted union materializes (if no cell needs a
    # split, ``assigned`` IS the returned frame and stays cached —
    # releasing it would be wrong). Fixes the orphaned first persist in
    # embedding_near_dup_kmeans (ADVICE r4 #2).
    prev_persisted: DataFrame | None = assigned if unpersist_input else None
    # fresh labels start above every label k-means can issue — computed
    # lazily on the FIRST split round so the common no-oversized-cell
    # path pays one sizes aggregate, not two actions (r11)
    next_label: int | None = None
    for _ in range(max_depth):
        sizes = (
            out.groupBy(cell_c)
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > max_cell_size)
            .orderBy(cell_c)
            .collect()
        )
        if not sizes:
            break
        if next_label is None:
            next_label = (
                out.agg(F.max(cell_c).alias("m")).collect()[0]["m"]
                or 0
            ) + 1
        big_ids = [r[cluster_col] for r in sizes]
        keep = out.filter(~cell_c.isin(big_ids))
        big = out.filter(cell_c.isin(big_ids))

        # grouped seeding: the k lowest-id rows of EVERY oversized cell
        # in one window pass — the same rows each per-cell
        # ``orderBy(id).limit(k)`` used to pick
        w = Window.partitionBy(cell_c).orderBy(id_c)
        seed_rows = (
            big.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .select(cell_c, "__rn", emb_c)
            .collect()
        )
        cents: dict = {cid: [] for cid in big_ids}
        cell_pos = {cid: i for i, cid in enumerate(big_ids)}
        for r in sorted(
            seed_rows, key=lambda r: (cell_pos[r[cluster_col]], r["__rn"])
        ):
            cents[r[cluster_col]].append([float(x) for x in r[emb_col]])

        cmat_schema = StructType(
            [
                StructField(cluster_col, out.schema[cluster_col].dataType),
                StructField("__km_matrix", ArrayType(ArrayType(DoubleType()))),
                StructField("__label_base", LongType()),
            ]
        )

        def cmat_df(label_bases: dict) -> DataFrame:
            return spark.createDataFrame(
                [(cid, cents[cid], label_bases.get(cid, 0)) for cid in big_ids],
                schema=cmat_schema,
            )

        dists = _sq_dists_to_matrix(emb_c, "__km_matrix")
        argmin = (F.array_position(dists, F.array_min(dists)) - 1).cast("long")

        for _i in range(iters):  # grouped Lloyd update, all cells at once
            means = (
                big.join(F.broadcast(cmat_df({})), cluster_col)
                .withColumn("__cl", argmin)
                .select(cell_c, "__cl", F.posexplode(emb_c))
                .groupBy(cell_c, "__cl", "pos")
                .agg(F.round(F.avg(F.col("col").cast("double")), 6).alias("m"))
                .collect()
            )
            by_cell: dict = {}
            for r in means:
                by_cell.setdefault(r[cluster_col], {}).setdefault(r["__cl"], {})[
                    r["pos"]
                ] = r["m"]
            for cid in big_ids:  # empty sub-clusters keep previous centroid
                new_c = [list(c) for c in cents[cid]]
                for cl, dims in by_cell.get(cid, {}).items():
                    new_c[cl] = [dims[i] for i in range(len(cents[cid][cl]))]
                cents[cid] = new_c

        label_bases = {
            cid: next_label + i * k for i, cid in enumerate(big_ids)
        }
        next_label += k * len(big_ids)
        split = (
            big.join(F.broadcast(cmat_df(label_bases)), cluster_col)
            .withColumn("__cl", argmin)
            .withColumn(
                cluster_col, (F.col("__label_base") + F.col("__cl")).cast("long")
            )
            .select(*(F.col(ident(c)) for c in out.columns))
        )
        out = keep.unionByName(split).persist(StorageLevel.MEMORY_AND_DISK)
        # Materialize the new round, then release the prior round's cached
        # blocks — otherwise every round leaks MEMORY_AND_DISK blocks for
        # the session lifetime on large corpora.
        out.count()
        if prev_persisted is not None:
            prev_persisted.unpersist()
        prev_persisted = out
    return out


def embedding_near_dup_kmeans(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    k: int | None = None,
    iters: int = 2,
    max_cell_size: int | None = None,
    target_cell_size: int = 1024,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: cluster the corpus with
    k-means, then compare embeddings only WITHIN clusters — the
    curvature-aware alternative to SRP blocking
    (:func:`embedding_near_dup_blocked`): data-dependent cells follow
    the embedding distribution, so near-dups co-locate even where
    fixed hyperplanes would split a dense region.

    **k scales with the corpus** (the sf1 stress finding): with a FIXED
    k, mean cell size grows linearly in n and the within-cell pair join
    grows as n²/k — a 50× corpus cost 65× wall-clock. The default
    ``k=None`` derives ``k = max(8, ceil(n / target_cell_size))`` from
    one count, holding EXPECTED cell size (hence Σ n_c² / n) constant —
    the SemDeDup contract is bounded cells, not a fixed cell count —
    and arms ``max_cell_size = 4 × target_cell_size`` so a skewed cell
    re-clusters recursively (:func:`split_oversized_cells`) before the
    pair join. Pass an explicit ``k`` to reproduce a fixed clustering.

    Plan shape: :func:`~.similarity.kmeans_fit` (iters shuffles, k×dim
    driver state), then assignment is a narrow broadcast-centroid
    argmin — the pair search is ONE equi-join on cluster id. Recall < 1
    exactly for pairs straddling a cluster (or sub-cell) boundary.

    Output ``(id_a, id_b, cluster, cosine)`` — a subset of
    :func:`embedding_near_dup_pairs` at the same threshold.
    """
    from pyspark import StorageLevel

    from .similarity import kmeans_assign_df, kmeans_fit

    if k is None:
        n = df.count()
        k = max(8, -(-n // target_cell_size))
        if max_cell_size is None:
            max_cell_size = 4 * target_cell_size
    cents = kmeans_fit(df, k=k, iters=iters, emb_col=emb_col, id_col=id_col)
    # Both self-join branches consume the assignment; without a persist
    # each branch re-runs the k×dim argmin pass over the full corpus.
    normed = (
        kmeans_assign_df(df, cents, emb_col)
        .select(
            F.col(ident(id_col)).alias("id"),
            F.col(ident(emb_col)).alias("emb"),
            norm(F.col(ident(emb_col))).alias("nrm"),
            F.col("__cl").alias("cluster"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if max_cell_size is not None:
        # sub-splits always use a small k: the goal is halving-ish cuts
        # of one oversized cell, not re-clustering the corpus
        normed = split_oversized_cells(
            normed, max_cell_size, k=min(k, 8), iters=iters,
            unpersist_input=True,
        )
    # r10 optimization: the cluster-keyed self-join + per-pair fold is
    # now one per-cluster vectorized kernel (see _grouped_cosine_pairs
    # for the bit-exactness contract); the 6-decimal rounding and the
    # threshold filter stay in Spark, unchanged.
    return _grouped_cosine_pairs(
        normed, "cluster", threshold, include_group=True
    ).select(
        "id_a",
        "id_b",
        F.col("grp").cast("long").alias("cluster"),
        F.round(F.col("c_raw"), 6).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)
