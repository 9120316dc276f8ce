"""Similarity search over embedding columns: brute-force cosine top-k
(the exact baseline) and signed-random-projection LSH bucketing (the
scale path). North-star extension per SURVEY.md §7 step 8, over the
``embeddings`` harness table (``array<float>`` of dim 64).

Scale design: brute-force, SQ, PQ and IVF-PQ share one scan of the
corpus against the collected (small) query set — a narrow map over
corpus partitions that emits per-batch top-k heads, then one per-query
ranking window over those candidates (never a global sort). SRP-LSH replaces the full scan
with a bucket equi-join: only vectors sharing a signature bucket are
compared, trading recall for a ~(corpus/buckets) scan reduction;
multi-probe (xor-ing single bits) recovers recall at the margin.

Hyperplanes are derived deterministically from md5 (seeded), so the
same buckets come out on any engine / cluster / run — which also makes
the bucketing oracle-testable in SQL.
"""

from __future__ import annotations

import hashlib

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructField, StructType
from pyspark.sql.window import Window

from ..session import rows_frame
from .dedup import dot_product, norm
from .profile import ident


def srp_hyperplanes(n_planes: int, dim: int, seed: str = "srp") -> list[list[int]]:
    """Deterministic ±1 hyperplanes: component (p, d) is +1 when the
    first hex digit of md5(f"{seed}|{p}|{d}") is even. Pure function of
    (seed, p, d) — reproducible anywhere, including inside SQL."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}|{p}|{d}".encode()).hexdigest()
            row.append(1 if int(h[0], 16) % 2 == 0 else -1)
        planes.append(row)
    return planes


def srp_bucket(
    emb: Column, planes: list[list[int]]
) -> Column:
    """SRP signature as a bucket id: bit p is 1 iff emb · plane_p ≥ 0.
    One narrow expression per plane — stays in codegen, no UDF."""
    value = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(
                emb,
                F.array(*[F.lit(float(w)) for w in plane]),
                lambda x, w: x.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        value = value + F.when(dot >= 0, F.lit(2**p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return value


def _vectors(df: DataFrame, side: str, id_col: str, emb_col: str, *extra: Column) -> DataFrame:
    """The query side ``(query_id, q_emb, q_nrm)`` of a search for
    ``side="q"``, or the corpus side ``(neighbor_id, c_emb, c_nrm)`` for
    ``side="c"``, then ``extra``: the one projection of every cosine
    search, with ``id_col`` and ``emb_col`` quoted so any name works."""
    emb = F.col(ident(emb_col))
    return df.select(
        F.col(ident(id_col)).alias("query_id" if side == "q" else "neighbor_id"),
        emb.alias(f"{side}_emb"),
        norm(emb).alias(f"{side}_nrm"),
        *extra,
    )


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """``scored`` (query_id, neighbor_id, cosine) plus ``rank``, the
    first ``k`` rows per query by cosine desc then neighbor_id asc
    (a NULL cosine sorts last): the one ranking window of the kNN
    searches."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _cosine(q_emb: Column, q_nrm: Column, c_emb: Column, c_nrm: Column) -> Column:
    """The ordered-fold cosine rounded to 6 decimals; NULL (sorting
    after every real score) when a norm is 0, where the division would
    raise DIVIDE_BY_ZERO under ANSI mode."""
    return F.when(
        (q_nrm * c_nrm) > 0, F.round(dot_product(q_emb, c_emb) / (q_nrm * c_nrm), 6)
    )


def _join_cosines(c: DataFrame, q: DataFrame, on: str) -> DataFrame:
    """(query_id, neighbor_id, cosine) for every corpus row of ``c``
    and broadcast query row of ``q`` sharing the key ``on`` (an IVF cell
    or an SRP bucket), a query never its own neighbor."""
    return (
        c.join(F.broadcast(q), on=on)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine(F.col("q_emb"), F.col("q_nrm"), F.col("c_emb"), F.col("c_nrm")).alias("cosine"),
        )
    )


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k. Output (query_id, neighbor_id, cosine, rank).

    The corpus is scanned once by :func:`_cosine_scan` against the
    collected query set (small by definition), which emits each
    batch's margin superset of the per-query top-k; the 6-decimal
    rounding and the per-query window run in Spark over those
    candidates only."""
    return _top_k(
        _cosine_scan(
            corpus.select(F.col(ident(id_col)), F.col(ident(emb_col))),
            _vectors(queries, "q", id_col, emb_col),
            k,
            lambda X: (X, None),
        ),
        k,
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id: str = "centroid_id",
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its ``nprobe``
    highest-cosine centroids (ties broken by centroid id; one output
    row per (vector, probed cell)): all input columns +
    ``centroid_id``. A corpus takes one cell; a query probing the
    2nd/3rd-closest cells too recovers neighbors that sit just across a
    cell boundary, at nprobe× the scan cost. Centroids broadcast (there
    are k of them), so assignment is a narrow broadcast-join +
    per-vector top-``nprobe`` window — no shuffle of the corpus.

    Centroid choice is the caller's: k-means, or any deterministic
    seed set (tests use the first k vectors)."""
    emb = F.col(ident(emb_col))
    cents = centroids.select(
        F.col(ident(centroid_id)), emb.alias("__c_emb"), norm(emb).alias("__c_nrm"),
    )
    scored = (
        df.withColumn("__v_nrm", norm(emb))
        .join(F.broadcast(cents))
        .withColumn(
            "__sim",
            F.when(
                (F.col("__v_nrm") * F.col("__c_nrm")) > 0,
                dot_product(emb, F.col("__c_emb")) / (F.col("__v_nrm") * F.col("__c_nrm")),
            ),
        )
    )
    w = Window.partitionBy(F.col(ident(id_col))).orderBy(
        F.desc("__sim"), F.asc(F.col(ident(centroid_id)))
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= nprobe)
        .drop("__c_emb", "__c_nrm", "__v_nrm", "__sim", "__rn")
    )


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    nprobe: int = 1,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: quantize corpus vectors to their nearest
    centroid, then search the query's ``nprobe`` closest cells.
    Same output shape as :func:`knn_bruteforce`; recall < 1 when a true
    neighbor lives outside the probed cells — raise ``nprobe`` to trade
    scan cost for recall. At scale the corpus is pre-partitioned (and
    pre-written bucketed) by centroid_id, so a query touches
    ~nprobe/k_cells of the data. Pass ``assigned`` (an
    :func:`ivf_assign` frame with one probe, ideally persisted) to share the
    query-independent corpus assignment across searches with different
    nprobe — values identical by construction."""
    c_assigned = (
        assigned
        if assigned is not None
        else ivf_assign(corpus, centroids, 1, emb_col, id_col)
    )
    q_assigned = ivf_assign(queries, centroids, nprobe, emb_col, id_col)
    cell = F.col("centroid_id")
    return _top_k(
        _join_cosines(
            _vectors(c_assigned, "c", id_col, emb_col, cell),
            _vectors(q_assigned, "q", id_col, emb_col, cell),
            "centroid_id",
        ),
        k,
    )


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = "srp",
    multiprobe: bool = False,
    corpus_hashed: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: compare only within SRP buckets. Same output
    shape as :func:`knn_bruteforce`; recall < 1 by construction (a
    query's true neighbor may land in another bucket). At 2^n_planes
    buckets the candidate set shrinks ~2^n_planes-fold.

    ``multiprobe=True`` additionally probes every bucket at Hamming
    distance 1 from the query's bucket (each single plane flipped):
    near-dup pairs are missed exactly when they straddle ONE
    hyperplane, so probing the n_planes 1-flip buckets recovers most
    lost recall for (1+n_planes)× the candidate cost. Corpus vectors
    keep one bucket, so each (query, neighbor) candidate appears at
    most once."""
    planes = srp_hyperplanes(n_planes, dim, seed)
    q_bucket = srp_bucket(F.col(ident(emb_col)), planes)
    if multiprobe:
        probe = F.explode(
            F.array(
                q_bucket,
                *[
                    q_bucket.bitwiseXOR(F.lit(1 << p).cast("long"))
                    for p in range(n_planes)
                ],
            )
        )
    else:
        probe = q_bucket
    # corpus side is query-independent and identical for the plain and
    # multiprobe variants (multiprobe only widens the QUERY probes):
    # share it via corpus_hashed across searches
    c = (
        corpus_hashed
        if corpus_hashed is not None
        else _vectors(corpus, "c", id_col, emb_col, q_bucket.alias("bucket"))
    )
    q = _vectors(queries, "q", id_col, emb_col, probe.alias("bucket"))
    return _top_k(_join_cosines(c, q, "bucket"), k)


# ---------------------------------------------------------------------------
# K-means clustering (Lloyd) and scalar-quantized ANN
# ---------------------------------------------------------------------------


def _matrix_df(spark, matrix: list[list[float]], col: str) -> DataFrame:
    """A k×dim float matrix as a 1-ROW broadcastable table — the plan
    stays tiny where a literal expression tree costs ~1 s of
    driver-side analysis per 512 literals (measured; see
    kmeans_assign_df). An Arrow ``LocalRelation``, so reading it
    starts no Python worker."""
    return rows_frame(
        spark,
        [([[float(x) for x in c] for c in matrix],)],
        f"`{col}` ARRAY<ARRAY<DOUBLE>>",
    )


def _sq_dists_to_matrix(emb: Column, matrix_col: str) -> Column:
    """Array of squared-L2 distances from ``emb`` to every row of the
    broadcast matrix column — THE shared assignment kernel (k-means,
    IVF residuals, the IVF-PQ probe): (x−y)·(x−y) folds, identical
    arithmetic everywhere so the tie-break/oracle contract cannot
    diverge between operators."""
    return F.transform(
        F.col(matrix_col),
        lambda c: F.aggregate(
            F.zip_with(
                emb,
                c,
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )


#: Centroid count at or above which a RETURNED assignment plan
#: switches to the Arrow-batched numpy kernel. The native zip_with
#: fold costs ~40× more per flop (measured at sf1, k=391: 33 s native
#: vs ~2 s numpy for 100k×391×64) because it allocates a zipped
#: 64-element array per (point, centroid). Since r10 the numpy kernel
#: accumulates distances per dimension in index order and is therefore
#: BIT-IDENTICAL to the native fold (same values, same tie-breaks), so
#: this constant is purely a plan-shape choice: below it, entry plans
#: keep their JVM-native expression form (stable plan budgets, no
#: Python node); at or above it, the Arrow kernel wins on throughput.
#: Model FITS (kmeans_fit / pq_fit iterations) always use the numpy
#: kernel — their assignment never appears in a returned plan, and the
#: collected means are identical because the codes are.
NUMPY_ASSIGN_MIN_K = 32


def _map_nearest(
    df: DataFrame,
    emb_cols: list[str],
    books: list[list[list[float]]],
    out: list[tuple[str, DataType]],
    emit,
) -> DataFrame:
    """All of ``df`` plus the ``out`` columns (name, type), computed in
    Arrow batches through ``mapInPandas`` from each column of
    ``emb_cols`` and its nearest row of the matching matrix of
    ``books``: the one numpy nearest-centroid kernel of k-means, PQ and
    IVF.

    Per column ``j`` a batch holds ``X`` (rows × dim, float64), the
    squared distances ``d2`` to every row of ``books[j]`` and their
    argmin ``cl``; ``emit(Xs, cls, d2s)`` returns the ``out`` columns'
    values in order. Distances accumulate per dimension in index order
    from 0.0, the exact IEEE op sequence of the native ``zip_with``
    fold, and numpy's argmin takes the first minimum (the lowest index,
    as ``array_position(array_min)``): codes and distances are
    bit-identical to the JVM form.

    mapInPandas parses each input column's name, so the input rides
    under positional names and an odd caller name (``a.b``, ``c`d``)
    never reaches the parser; the output takes the names back. The
    kernel is nested and uses no module-level name of this package, so
    it ships by value to workers that cannot import it."""
    names = df.columns
    keys = [f"_{names.index(c)}" for c in emb_cols]
    mats = [[[float(x) for x in row] for row in b] for b in books]
    flat = df.toDF(*(f"_{i}" for i in range(len(names))))
    schema = StructType(
        flat.schema.fields + [StructField(f"_o{j}", t) for j, (_, t) in enumerate(out)]
    )

    def run(batches):
        import numpy as np

        Cs = [np.asarray(m, dtype=np.float64) for m in mats]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Xs, cls, d2s = [], [], []
            for key, C in zip(keys, Cs):
                X = np.stack(pdf[key].to_numpy()).astype(np.float64)
                d2 = np.zeros((len(X), C.shape[0]), dtype=np.float64)
                for d in range(X.shape[1]):
                    diff = X[:, d][:, None] - C[None, :, d]
                    d2 += diff * diff
                Xs.append(X)
                cls.append(d2.argmin(axis=1))
                d2s.append(d2)
            for j, values in enumerate(emit(Xs, cls, d2s)):
                pdf[f"_o{j}"] = values
            yield pdf

    return flat.mapInPandas(run, schema).toDF(*names, *(name for name, _ in out))


def _kmeans_assign_numpy(
    df: DataFrame,
    centroids: list[list[float]],
    emb_col: str,
    cluster_col: str,
    dist_col: str,
) -> DataFrame:
    """Arrow-batched vectorized assignment (:func:`_map_nearest`),
    bit-identical to the native fold: same distances, same lowest-id
    tie-break, same ``dist_col`` values."""
    from pyspark.sql.types import DoubleType, LongType

    def emit(Xs, cls, d2s):
        import numpy as np

        (cl,), (d2,) = cls, d2s
        return cl.astype("int64"), d2[np.arange(len(cl)), cl]

    return _map_nearest(
        df, [emb_col], [centroids], [(cluster_col, LongType()), (dist_col, DoubleType())], emit
    )


def kmeans_assign_df(
    df: DataFrame,
    centroids: list[list[float]],
    emb_col: str = "embedding",
    cluster_col: str = "__cl",
    dist_col: str = "__dist",
) -> DataFrame:
    """All of ``df`` plus (cluster, dist) columns, with the centroid
    matrix riding in as a 1-ROW broadcast table instead of a literal
    expression tree: same zero-shuffle assignment (a broadcast of k×dim
    doubles is metadata), but the PLAN stays tiny — a 512-literal
    expression costs ~1 s of driver-side analysis per job, which
    dominates every Lloyd iteration at benchmark scale.

    Above :data:`NUMPY_ASSIGN_MIN_K` centroids the assignment runs as
    an Arrow-batched numpy matmul instead (the FAISS/BLAS route) — see
    the constant's docstring for the oracle-parity argument."""
    if len(centroids) >= NUMPY_ASSIGN_MIN_K:
        return _kmeans_assign_numpy(
            df, centroids, emb_col, cluster_col, dist_col
        )
    mat = _matrix_df(df.sparkSession, centroids, "__km_matrix")
    dists = _sq_dists_to_matrix(F.col(ident(emb_col)), "__km_matrix")
    return (
        df.crossJoin(F.broadcast(mat))
        .withColumn(
            cluster_col,
            (F.array_position(dists, F.array_min(dists)) - 1).cast("long"),
        )
        .withColumn(dist_col, F.array_min(dists))
        .drop("__km_matrix")
    )


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    round_decimals: int = 6,
) -> list[list[float]]:
    """Fit Lloyd's k-means and return the final centroids as plain
    Python lists (k×dim — driver-metadata-sized); use them with
    :func:`kmeans_assign_df` for shuffle-free downstream assignment
    (clustering, SemDeDup blocking, IVF cells).

    Centroids live on the DRIVER, so every assignment pass is narrow —
    no shuffle. Each of the ``iters`` update steps costs ONE shuffle:
    posexplode to (cluster, dim, value) and groupBy-avg, collecting
    k×dim rounded means back to the driver — the same job structure
    as MLlib's KMeans (treeAggregate of partial sums).

    Determinism (oracle-matchable): seeds are the k lowest-id vectors;
    per-dimension means round to ``round_decimals`` so accumulation
    order can't leak into the next iteration; ties in argmin break to
    the lowest cluster id. Empty clusters keep their previous centroid.
    """
    # Iterative algorithm: every Lloyd pass re-reads the corpus, so pin
    # the (id, embedding) projection across iterations — the same
    # handlePersistence MLlib's KMeans applies. MEMORY_AND_DISK: spills
    # instead of recomputing from source at 100 TB.
    id_c, emb_c = F.col(ident(id_col)), F.col(ident(emb_col))
    base = df.select(id_c, emb_c).persist(StorageLevel.MEMORY_AND_DISK)
    # k lowest-id vectors seed the centroids (NOT "id < k": ids need not
    # be contiguous — e.g. corpora with planted/offset id spaces).
    seed_rows = base.orderBy(id_c).limit(k).select(emb_c).collect()
    cents = [[float(x) for x in r[emb_col]] for r in seed_rows]
    for _ in range(iters):
        # fit iterations always assign via the Arrow numpy kernel
        # (r10): it is bit-identical to the native fold since the
        # per-dimension rewrite, never appears in a returned plan
        # (the fit ends in a driver collect), and removes the
        # dominant per-(point,centroid) JVM lambda cost at scale
        means = (
            _kmeans_assign_numpy(base, cents, emb_col, "__cl", "__dist")
            .select("__cl", F.posexplode(emb_c))
            .groupBy("__cl", "pos")
            .agg(F.round(F.avg(F.col("col").cast("double")), round_decimals).alias("m"))
            .collect()
        )
        new_cents = [list(c) for c in cents]  # empty clusters keep previous
        by_cl: dict[int, dict[int, float]] = {}
        for r in means:
            by_cl.setdefault(r["__cl"], {})[r["pos"]] = r["m"]
        for cl, dims in by_cl.items():
            new_cents[cl] = [dims[i] for i in range(len(cents[cl]))]
        cents = new_cents
    base.unpersist()
    return cents


def sq_bounds(
    df: DataFrame, emb_col: str = "embedding"
) -> list[tuple[float, float]]:
    """Per-dimension (min, max) over the corpus — the scalar-quantizer
    codebook. One posexplode + groupBy(pos) min/max (exact,
    order-independent), collected to the driver (dim rows)."""
    rows = (
        df.select(F.posexplode(F.col(ident(emb_col))))
        .groupBy("pos")
        .agg(
            F.min(F.col("col").cast("double")).alias("lo"),
            F.max(F.col("col").cast("double")).alias("hi"),
        )
        .orderBy("pos")
        .collect()
    )
    return [(r["lo"], r["hi"]) for r in rows]


#: Margin used by the scan kernel when pre-pruning candidates on RAW
#: cosine before Spark applies the exact 6-decimal rounding: two reals
#: more than 1e-6 apart cannot round to the same 6-decimal value, so
#: rows more than 2e-6 below a batch's keep-th best raw score are
#: strictly below it after rounding and can never enter the top-keep
#: set under any tie-break.
_SCAN_PRUNE_MARGIN = 2e-6


def _cosine_scan(side: DataFrame, queries: DataFrame, keep: int, decode) -> DataFrame:
    """(query_id, neighbor_id, cosine) candidates of one corpus scan
    against the collected ``queries`` (a :func:`_vectors` query side,
    broadcast-small by every caller's contract, with its JVM-computed
    ``q_nrm``): the one cosine scan kernel of the exact, SQ, PQ and
    IVF-PQ searches.

    ``side`` holds an integer id, then (IVF-PQ only, when ``queries``
    has a ``cell`` column) the vector's cell, then the columns
    ``decode`` reads. Per Arrow batch, ``decode(X, *rest)`` turns the
    stacked first of them ``X`` (rows × dim, float64) and the rest into
    the scored vectors and their norms (``None``: folded here). Dots
    and norms accumulate per dimension in index order from 0.0, the
    IEEE op sequence of ``dot_product``/``norm``, so raw cosines are
    bit-identical to the JVM fold; a zero denominator gives NaN, which
    maps to a NULL cosine that sorts after every real one. A query
    scores only the rows of its own cells (IVF-PQ's probes), never
    itself, and each batch emits only the margin superset of its
    per-query top ``keep`` (:data:`_SCAN_PRUNE_MARGIN`) plus every
    NaN row, so ranking the rounded cosines in Spark selects the same
    set as a window over the full scan.

    Ids are read as int64: the searches need an integer ``id_col``
    (the embeddings' vec_id is int64); a string-id corpus must map its
    ids to longs first, or use :func:`knn_lsh`/:func:`knn_ivf`. The
    input rides under positional names, so an odd caller name never
    reaches mapInPandas's parser. The kernel is nested and uses no
    module-level name of this package, so it ships by value to workers
    that cannot import it."""
    import numpy as np

    cells = "cell" in queries.columns
    q_list, by_id = [], {}
    for r in queries.collect():
        qid = int(r["query_id"])
        if cells and qid in by_id:
            by_id[qid][3].append(int(r["cell"]))
            continue
        by_id[qid] = (
            qid,
            np.asarray(r["q_emb"], dtype=np.float64),
            float(r["q_nrm"]),
            [int(r["cell"])] if cells else None,
        )
        q_list.append(by_id[qid])
    margin = _SCAN_PRUNE_MARGIN

    def scan(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            cols = [pdf[c] for c in pdf.columns]
            ids = cols[0].to_numpy(dtype=np.int64)
            cell = cols[1].to_numpy(dtype=np.int64) if cells else None
            payload = cols[1 + cells:]
            X = np.stack(payload[0].to_numpy()).astype(np.float64)
            C, c_nrm = decode(X, *payload[1:])
            if c_nrm is None:
                acc = np.zeros(len(C), dtype=np.float64)
                for d in range(C.shape[1]):
                    acc += C[:, d] * C[:, d]
                c_nrm = np.sqrt(acc)
            out_q, out_i, out_c = [], [], []
            for qid, qe, qn, qcells in q_list:
                rows = slice(None) if qcells is None else np.isin(cell, qcells)
                Cq, iq = C[rows], ids[rows]
                dots = np.zeros(len(iq), dtype=np.float64)
                for d in range(len(qe)):
                    dots += qe[d] * Cq[:, d]
                denom = qn * c_nrm[rows]
                with np.errstate(divide="ignore", invalid="ignore"):
                    c = np.where(denom == 0.0, np.nan, dots / denom)
                other = iq != qid
                iq, c = iq[other], c[other]
                real = ~np.isnan(c)
                nr = int(real.sum())
                if nr > keep:
                    kth = np.partition(c[real], nr - keep)[nr - keep]
                    top = (c >= kth - margin) | ~real
                    iq, c = iq[top], c[top]
                out_q.append(np.full(len(iq), qid, dtype=np.int64))
                out_i.append(iq)
                out_c.append(c)
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_i),
                        "c_raw": np.concatenate(out_c),
                    }
                )

    flat = side.toDF(*(f"_{i}" for i in range(len(side.columns))))
    raw = flat.mapInPandas(scan, "query_id LONG, neighbor_id LONG, c_raw DOUBLE")
    return raw.select(
        "query_id",
        "neighbor_id",
        F.when(~F.isnan("c_raw"), F.round("c_raw", 6)).alias("cosine"),
    )


def _exact_rerank(
    approx: DataFrame,
    n: int,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    emb_col: str,
    id_col: str,
) -> DataFrame:
    """Exact-cosine top-``k`` of the top-``n`` candidates per query of
    an approximate scan — the candidates-only fetch half of every
    quantized ANN rung: the candidates carry ONLY (query_id,
    neighbor_id), and the true embeddings enter here, after candidate
    selection, via a join back to the corpus on neighbor_id. The
    candidates are bounded by |queries|·n rows, so they broadcast and
    the corpus side of the join never shuffles; the queries
    (broadcast-small in every caller) ride in the same way. The
    approximate scan therefore reads codes only — m bytes (PQ) or
    dequantized int8 (SQ) per vector — and exact floats are read once
    per CANDIDATE, not per scanned vector."""
    cand = _top_k(approx, n).select("query_id", "neighbor_id")
    exact = (
        _vectors(corpus, "c", id_col, emb_col)
        .join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(_vectors(queries, "q", id_col, emb_col)), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            _cosine(F.col("q_emb"), F.col("q_nrm"), F.col("c_emb"), F.col("c_nrm")).alias("cosine"),
        )
    )
    return _top_k(exact, k)


def knn_sq(
    corpus: DataFrame,
    queries: DataFrame,
    bounds: list[tuple[float, float]],
    k: int = 5,
    rerank: int = 3,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Scalar-quantized ANN with exact re-ranking (the SQ analogue of a
    FAISS SQ8 index): score every (query, corpus) pair on DEQUANTIZED
    corpus vectors (asymmetric distance — queries stay exact), keep the
    top ``rerank``·k candidates per query, then re-rank only those on
    the exact float cosine. Recall loss happens only when quantization
    error reorders a true top-k neighbor past position rerank·k.

    The approximate stage is :func:`_cosine_scan` on the dequantized
    vectors and projects (query_id, neighbor_id, approx cosine) ONLY —
    no exact embedding rides through the scan or the candidate window —
    and :func:`_exact_rerank` joins the top rerank·k ids back to the
    corpus for the float pass, so the first pass really is codes-bound
    I/O and exact embeddings are fetched only for candidates."""
    import numpy as np

    lo = np.asarray([b[0] for b in bounds], dtype=np.float64)
    hi = np.asarray([b[1] for b in bounds], dtype=np.float64)
    span = np.where(hi > lo, hi - lo, 1.0)
    n_levels = float(256 - 1)

    def dequantize(X):
        # the oracle's SQ decode op for op: scaled = round((x-lo)/span *
        # (levels-1)) with Spark's HALF_UP (x >= lo always, so the
        # positive-value floor+frac rule is exact), clamped, then
        # lo + (code*span)/(levels-1)
        v = (X - lo[None, :]) / span[None, :] * n_levels
        ip = np.floor(v)
        code = np.minimum(np.maximum(ip + (v - ip >= 0.5), 0.0), n_levels)
        return lo[None, :] + (code * span[None, :]) / n_levels, None

    side = corpus.select(F.col(ident(id_col)), F.col(ident(emb_col)))
    approx = _cosine_scan(side, _vectors(queries, "q", id_col, emb_col), rerank * k, dequantize)
    return _exact_rerank(approx, rerank * k, corpus, queries, k, emb_col, id_col)


# ---------------------------------------------------------------------------
# Product quantization (PQ): the FAISS-style ANN memory ladder's last
# rung — where SQ8 stores one byte per DIMENSION, PQ stores one code
# per SUBSPACE (dim/m dims each), compressing 64 floats to m bytes.
# Each subspace gets its own k-means codebook; distance is asymmetric
# (exact query vs codebook-reconstructed corpus).
# ---------------------------------------------------------------------------


def _pq_assign_all_numpy(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    sub_cols: list[str],
    code_prefix: str = "code_",
) -> DataFrame:
    """Every subspace's argmin code in one Arrow pass: ``sub_cols[j]``
    against book ``j`` through :func:`_map_nearest`, so codes are
    bit-identical to the JVM-native ``aggregate(zip_with)`` fold
    (asserted in tests/test_llm_ops.py)."""
    from pyspark.sql.types import LongType

    def emit(Xs, cls, d2s):
        return [cl.astype("int64") for cl in cls]

    return _map_nearest(
        df,
        sub_cols,
        codebooks,
        [(f"{code_prefix}{j}", LongType()) for j in range(len(codebooks))],
        emit,
    )


def pq_fit(
    df: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    dim: int = 64,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Train one k-means codebook per subspace, ALL subspaces per job:
    the ``m`` Lloyd fits share each pass — every subvector is assigned
    against its own current book (m chained zero-shuffle broadcast
    assignments), then ONE stacked (subspace, cluster, dim) groupBy-avg
    computes every subspace's new centroids together. Same math as m
    independent :func:`kmeans_fit` runs — identical lowest-id seeds
    (the k lowest-id rows seed all m books at once), identical
    per-group 6-decimal mean rounding, identical lowest-cluster
    tie-break — but 1 seed collect + ``iters`` jobs total instead of
    m×(1+iters): at production PQ sizes (m=16) the sequential form
    spends its wall-clock on 48 job launches, not on data. Returns
    ``m × k × (dim/m)`` floats — driver-metadata-sized."""
    sub = dim // m
    id_c = F.col(ident(id_col))
    slices = [
        F.slice(F.col(ident(emb_col)), j * sub + 1, sub).alias(f"__s{j}")
        for j in range(m)
    ]
    base = df.select(id_c, *slices).persist(StorageLevel.MEMORY_AND_DISK)
    # k lowest-id rows carry every subspace's seed slice — one collect.
    seed_rows = base.orderBy(id_c).limit(k).collect()
    books = [
        [[float(x) for x in r[f"__s{j}"]] for r in seed_rows]
        for j in range(m)
    ]
    for _ in range(iters):
        # fit iterations assign every subspace in ONE Arrow numpy pass
        # (r10): bit-identical to the native fold (per-dimension
        # index-order accumulation, first-min ties), plan-invisible
        # (the fit ends in a driver collect)
        assigned = _pq_assign_all_numpy(
            base, books, [f"__s{j}" for j in range(m)], code_prefix="__cl"
        )
        stacked = assigned.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.col(f"__cl{j}").alias("cl"),
                        F.col(f"__s{j}").alias("e"),
                    )
                    for j in range(m)
                ])
            ).alias("s")
        ).select(F.col("s.j").alias("j"), F.col("s.cl").alias("cl"),
                 F.posexplode(F.col("s.e")))
        means = (
            stacked.groupBy("j", "cl", "pos")
            .agg(F.round(F.avg(F.col("col").cast("double")), 6).alias("m"))
            .collect()
        )
        new_books = [[list(c) for c in b] for b in books]  # empty keep previous
        by_key: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            by_key.setdefault((r["j"], r["cl"]), {})[r["pos"]] = r["m"]
        for (j, cl), dims in by_key.items():
            new_books[j][cl] = [dims[i] for i in range(sub)]
        books = new_books
    base.unpersist()
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    emb_col: str = "embedding",
) -> DataFrame:
    """Append ``code_0..code_{m-1}``: per subspace, the argmin-distance
    codebook entry — ONE zero-shuffle projection over ONE broadcast
    books matrix (r10; previously m chained assignment passes, each
    with its own 1-row matrix crossJoin — m× the plan-analysis cost).
    The broadcast form keeps the plan tiny at any (m, k) (VERDICT r4
    wrong-list #3). Codes are bit-identical to both earlier forms —
    same fold, same argmin, same lowest-cluster tie-break."""
    sub = len(codebooks[0][0])
    m = len(codebooks)
    # ONE Arrow numpy pass for all m subspaces (optimization r10 —
    # was m chained kmeans_assign_df crossJoins, then one JVM
    # projection; the numpy kernel is bit-identical to both — same
    # per-dimension fold order, same first-min tie-break — and removes
    # the per-(point,codeword) JVM lambda cost at scale: the encode of
    # a 100k-vector corpus was ~8 s of fold time at sf1)
    slices = [
        F.slice(F.col(ident(emb_col)), j * sub + 1, sub).alias(f"__pqs{j}")
        for j in range(m)
    ]
    tmp = df.select("*", *slices)
    out = _pq_assign_all_numpy(
        tmp, codebooks, [f"__pqs{j}" for j in range(m)]
    )
    return out.drop(*[f"__pqs{j}" for j in range(m)])


def pq_reconstruct_expr(codebooks: list[list[list[float]]]) -> Column:
    """Decoded vector from the ``code_j`` columns: concat of each
    subspace's selected centroid — codebooks ride as literal matrices,
    so decode is a pure expression over m small ints."""
    parts = []
    for j, book in enumerate(codebooks):
        matrix = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in book])
        parts.append(F.element_at(matrix, (F.col(f"code_{j}") + 1).cast("int")))
    return F.concat(*parts)


def knn_pq(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    rerank: int = 3,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ ANN with exact re-ranking — the same two-phase shape as
    :func:`knn_sq`, with the approximate phase scoring the exact query
    against the PQ-RECONSTRUCTED corpus vector (asymmetric distance).
    Recall loss occurs only when quantization error pushes a true
    top-k neighbor past position rerank·k. The approximate stage
    projects (query_id, neighbor_id, approx cosine) only, so at 100 TB
    the first pass reads m bytes per vector (vs 4·dim for floats);
    exact embeddings enter via :func:`_exact_rerank`'s join-back,
    touched once per candidate."""
    import numpy as np

    books = [
        np.asarray([[float(x) for x in c] for c in b], dtype=np.float64)
        for b in codebooks
    ]
    sub = books[0].shape[1]

    def reconstruct(X):
        # encode + reconstruct, bit-identical to pq_encode +
        # pq_reconstruct_expr: the same index-order squared-distance
        # fold, first-minimum argmin
        C = np.empty_like(X)
        for j, B in enumerate(books):
            d2 = np.zeros((len(X), len(B)), dtype=np.float64)
            for d in range(sub):
                diff = X[:, j * sub + d][:, None] - B[None, :, d]
                d2 += diff * diff
            C[:, j * sub:(j + 1) * sub] = B[d2.argmin(axis=1)]
        return C, None

    side = corpus.select(F.col(ident(id_col)), F.col(ident(emb_col)))
    approx = _cosine_scan(side, _vectors(queries, "q", id_col, emb_col), rerank * k, reconstruct)
    return _exact_rerank(approx, rerank * k, corpus, queries, k, emb_col, id_col)


# ---------------------------------------------------------------------------
# IVF-PQ: the composed production ANN shape (FAISS IndexIVFPQ) — a
# coarse k-means quantizer restricts each query to nprobe cells, and
# within cells the corpus is PQ-coded on RESIDUALS (x − cell centroid),
# which quantize tighter than raw vectors because each cell's residual
# cloud is centered. Scan cost per query: nprobe/k_coarse of the corpus
# at m bytes per vector, + exact fetches for rerank candidates only.
# ---------------------------------------------------------------------------


def ivf_residuals(
    df: DataFrame,
    centroids: list[list[float]],
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "cell",
    res_col: str = "remb",
) -> DataFrame:
    """Append (cell, residual) to every vector: nearest-coarse-centroid
    assignment (broadcast 1-row matrix, zero shuffle, lowest-cell
    tie-break) and ``remb = emb − centroid[cell]`` as a double array —
    the input both to residual-codebook training (:func:`pq_fit` with
    ``emb_col=res_col``) and to :func:`knn_ivfpq`'s encode pass.

    r10: one Arrow numpy pass — the cell argmin is bit-identical to
    the old broadcast-matrix JVM fold (per-dimension index-order
    accumulation, first-minimum tie-break), and the residual is a
    per-element subtraction (no accumulation, exact either way). The
    JVM form cost ~4 s of fold time per 100k vectors at sf1."""
    from pyspark.sql.types import ArrayType, DoubleType, LongType

    def emit(Xs, cls, d2s):
        import numpy as np

        (X,), (cl,) = Xs, cls
        return cl.astype("int64"), list(X - np.asarray(centroids, dtype=np.float64)[cl])

    return _map_nearest(
        df,
        [emb_col],
        [centroids],
        [(cell_col, LongType()), (res_col, ArrayType(DoubleType()))],
        emit,
    )


def ivfpq_index(
    corpus: DataFrame,
    coarse: list[list[float]],
    codebooks: list[list[list[float]]],
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    residuals: DataFrame | None = None,
) -> DataFrame:
    """The searchable IVF-PQ corpus index: one row per vector with its
    coarse cell, the reconstructed (centroid + dequantized residual)
    vector, and its norm — everything the approximate-scan phase needs
    and nothing query-dependent. Build once (and persist) per
    (corpus, coarse, codebooks); every :func:`knn_ivfpq` call with a
    different nprobe/k/rerank then reuses it, exactly how a FAISS-style
    index amortizes encode cost across queries. The coarse matrix
    rides in as a 1-row broadcast — a literal k_coarse x dim tree
    would re-create the plan-analysis cost kmeans_assign_df
    documents."""
    spark = corpus.sparkSession
    res = (
        residuals
        if residuals is not None
        else ivf_residuals(corpus, coarse, emb_col, id_col)
    )
    enc = pq_encode(res, codebooks, emb_col="remb")
    deq_res = pq_reconstruct_expr(codebooks)
    rmat = _matrix_df(spark, coarse, "__ivf_rmat")
    recon = F.zip_with(
        F.element_at(F.col("__ivf_rmat"), (F.col("cell") + 1).cast("int")),
        deq_res,
        lambda a, b: a + b,
    )
    return (
        enc.crossJoin(F.broadcast(rmat))
        .select(
            F.col(ident(id_col)).alias("neighbor_id"),
            "cell",
            recon.alias("c_recon"),
        )
        .withColumn(
            "c_recon_nrm",
            F.sqrt(
                F.aggregate(
                    F.col("c_recon"), F.lit(0.0), lambda acc, v: acc + v * v
                )
            ),
        )
    )


def knn_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    coarse: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 2,
    rerank: int = 3,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    residuals: DataFrame | None = None,
    index: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ ANN with exact re-ranking. Three phases, all
    hash-deterministic (6-decimal rounding, lowest-id tie-breaks):

    1. **Probe**: each query ranks the coarse centroids by L2 and keeps
       its ``nprobe`` nearest cells (k_coarse-row broadcast work).
    2. **Approximate scan**: corpus vectors in probed cells only —
       the join key IS the cell id, so the scan reads nprobe/k_coarse
       of the corpus — scored as cosine(query, centroid[cell] +
       PQ-reconstructed residual): asymmetric distance against the
       16×-compressed representation.
    3. **Exact re-rank**: top rerank·k candidates per query re-scored
       on true embeddings; output (query_id, neighbor_id, cosine,
       rank ≤ k).

    Recall loss has exactly two sources, both bounded and measurable
    (:func:`knn_recall_report` pattern): a true neighbor living in an
    unprobed cell, or residual quantization error pushing it past
    position rerank·k. At 100 TB the inverted-file layout makes phase
    2 a partition-pruned scan (cells are the partition key) of m bytes
    per vector; phase 3 fetches exact embeddings for candidates only.

    Pass ``residuals`` (an :func:`ivf_residuals` frame over the same
    corpus/centroids) to reuse the assignment pass that codebook
    training already ran — otherwise it is recomputed here. Pass
    ``index`` (an :func:`ivfpq_index` frame, ideally persisted) to
    skip the corpus encode+reconstruct entirely — the
    build-once/search-many layout every production IVF-PQ deployment
    uses; values are identical by construction.
    """
    spark = corpus.sparkSession
    # query-side probe: rank cells per query over the broadcast coarse
    # matrix (the shared assignment kernel — never a literal tree)
    qmat = _matrix_df(spark, coarse, "__ivf_matrix")
    qd = (
        _vectors(queries, "q", id_col, emb_col)
        .crossJoin(F.broadcast(qmat))
        .select(
            "query_id",
            "q_emb",
            "q_nrm",
            F.posexplode(
                _sq_dists_to_matrix(F.col("q_emb"), "__ivf_matrix")
            ).alias("cell", "cdist"),
        )
    )
    w_p = Window.partitionBy("query_id").orderBy(F.asc("cdist"), F.asc("cell"))
    probes = (
        qd.withColumn("__prn", F.row_number().over(w_p))
        .filter(F.col("__prn") <= nprobe)
        .select("query_id", "q_emb", "q_nrm", F.col("cell").cast("long").alias("cell"))
    )
    # corpus side: residual-encode, reconstruct cell centroid + residual
    # — shared across searches via a prebuilt ``index`` when provided
    c = (
        index
        if index is not None
        else ivfpq_index(
            corpus, coarse, codebooks, emb_col, id_col, residuals=residuals
        )
    )
    side = c.select("neighbor_id", "cell", "c_recon", "c_recon_nrm")
    approx = _cosine_scan(
        side, probes, rerank * k, lambda X, nrm: (X, nrm.to_numpy(dtype="float64"))
    )
    return _exact_rerank(approx, rerank * k, corpus, queries, k, emb_col, id_col)


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_candidates: int = 20,
    lam: float = 0.7,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) of each query's top-``n_candidates`` exact-cosine results:
    greedily pick ``k`` items maximizing

        ``lam * rel(q, c)  -  (1 - lam) * max_{s in selected} sim(c, s)``

    — the standard redundancy-penalized selection for diverse exemplar
    / few-shot retrieval (a plain top-k returns near-duplicates of one
    mode; MMR spends the budget across modes).

    Distributed shape: candidate generation is :func:`knn_bruteforce`
    (broadcast queries, corpus never shuffled); the greedy stage runs
    on CANDIDATE-sized state only — pairwise sims are
    |queries|·n_candidates² rows computed once and persisted, each of
    the k-1 steps is a penalty groupBy + top-1 window over that
    bounded state (never the corpus). Final result is k·|queries|
    rows, localCheckpoint-ed so the loop caches release before return.

    Determinism: relevance and pair sims round to 6 decimals; the
    mixed score floor-scales at 1e-6 (floor of identical IEEE doubles
    is engine-independent where round()'s half-up boundary is not) and
    ties break on neighbor_id — the DuckDB oracle unrolls the same k
    greedy steps hash-exactly.

    Reference: no counterpart — north-star similarity-search mandate.
    """
    cands = (
        knn_bruteforce(corpus, queries, k=n_candidates, emb_col=emb_col, id_col=id_col)
        .select("query_id", "neighbor_id", F.col("cosine").alias("rel"), "rank")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    with_emb = cands.join(_vectors(corpus, "c", id_col, emb_col), "neighbor_id").select(
        "query_id", "neighbor_id", "c_emb", "c_nrm"
    )
    a, b = with_emb.alias("a"), with_emb.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.query_id") == F.col("b.query_id"))
            & (F.col("a.neighbor_id") != F.col("b.neighbor_id")),
        )
        .select(
            F.col("a.query_id").alias("query_id"),
            F.col("a.neighbor_id").alias("ca"),
            F.col("b.neighbor_id").alias("cb"),
            _cosine(F.col("a.c_emb"), F.col("a.c_nrm"), F.col("b.c_emb"), F.col("b.c_nrm")).alias("psim"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    lam_l, pen_l = F.lit(float(lam)), F.lit(float(1.0 - lam))
    selected = (
        cands.filter(F.col("rank") == 1)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rel").alias("relevance"),
            F.lit(1).alias("mmr_rank"),
            (F.floor(lam_l * F.col("rel") * 1e6) / 1e6).alias("mmr_score"),
        )
    )
    w_pick = Window.partitionBy("query_id").orderBy(
        F.desc("__score"), F.asc("neighbor_id")
    )
    for t in range(2, k + 1):
        pen = (
            pairs.join(
                selected.select(
                    "query_id", F.col("neighbor_id").alias("cb")
                ),
                ["query_id", "cb"],
            )
            .groupBy("query_id", F.col("ca").alias("neighbor_id"))
            .agg(F.max("psim").alias("__pen"))
        )
        remaining = cands.join(
            selected.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_anti",
        )
        pick = (
            remaining.join(pen, ["query_id", "neighbor_id"])
            .withColumn(
                "__score",
                F.floor(
                    (lam_l * F.col("rel") - pen_l * F.col("__pen")) * 1e6
                )
                / 1e6,
            )
            .withColumn("__rn", F.row_number().over(w_pick))
            .filter(F.col("__rn") == 1)
            .select(
                "query_id",
                "neighbor_id",
                F.col("rel").alias("relevance"),
                F.lit(t).alias("mmr_rank"),
                F.col("__score").alias("mmr_score"),
            )
        )
        # selected is <= |queries|*t rows; checkpointing it each step
        # keeps every iteration's plan flat (without this, step t
        # re-derives steps 1..t-1 inside BOTH the penalty join and the
        # anti join — measured ~4x wall on the registered entry)
        selected = selected.unionByName(pick).localCheckpoint(eager=True)
    out = selected.localCheckpoint(eager=True)
    cands.unpersist()
    pairs.unpersist()
    return out
