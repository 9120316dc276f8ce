"""Poisson bootstrap — confidence intervals over data too big to
resample by index. The classical bootstrap draws n rows WITH
replacement per replicate, which requires global indexing and B full
passes; the Poisson bootstrap (the standard large-scale variant:
each row enters replicate r with an independent Poisson(1) weight)
needs neither — every row computes its own B weights locally, so all
B replicates accumulate in ONE pass, and the per-replicate row-count
difference from n is O(√n) noise the method absorbs.

No reference counterpart (the reference has no statistical-inference
surface; north-star extension). Public method: Poisson/online
bootstrap as described in e.g. Chamandy et al., "Estimating
uncertainty for massive data streams" (Google, 2012).

Determinism contract: weights derive from md5, not an RNG. ONE md5
per row: the digest's two 15-hex-digit halves reduce mod 2^30 to the
row's base pair (h0a, h0b), and replicate r's 15-bit uniform is
``((a_r*h0a + c_r*h0b + d_r) mod P) & 32767`` with per-replicate
constants from :func:`boot_perm_consts` (md5-derived — the single
source both the Spark operator and the SQL oracles read) and P the
largest prime below 2^30, so every product stays well inside a
signed 64-bit long on both engines. Each uniform maps to a
Poisson(1) draw through the integer-threshold inverse CDF in
:func:`poisson1_cdf15` (CDF values pre-scaled by 2^15 and floored,
so the comparison is integer-exact and restatable in any SQL
engine). Weighted sums stay on integer inputs (callers pass
integer-unit measures, e.g. cents) — partial sums are exact,
hash-exact cross-engine.

Why this exact derivation: md5 is the hot term, so the scheme calls
it once per row, not once per 8 replicates. The round-7 form (one
digest per 8-replicate block: ⌈B/8⌉ md5+2×conv string-parses per
row) spent ~25 digests/row at B=200 — the measured 8.0 s at sf0.1
was almost entirely hash work. The affine-universal expansion is the
same construction that took MinHash from 24 interpreted md5s to one
(operators/dedup.py): per replicate, (h0a, h0b) -> u15 is a
pairwise-independent family, which is the standard large-scale
substitute for fresh hashes per replicate (the Poisson bootstrap
itself already tolerates O(√n) replicate-size noise far larger than
any family-vs-iid effect on the CI quantiles).

Scale shape (:func:`grouped_replicate_partials`): ONE Arrow pass
reduces each batch to its (group, replicate) integer partials in
numpy, so the b× fanout never materializes as rows; the shuffle
carries groups × B × partitions rows, and the final percentile rule
runs over B rows per group on the driver (the k-means/PQ
"model state is driver metadata" contract).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def poisson1_cdf15(max_k: int = 8) -> list[int]:
    """Poisson(1) CDF thresholds scaled to 15-bit integers:
    ``T[k] = floor(P(X <= k) * 2^15)``. A 15-bit uniform ``u`` maps to
    the smallest k with ``u < T[k]`` (``max_k`` if none) — the
    integer-exact inverse-CDF both engines evaluate identically."""
    cum, term = 0.0, math.exp(-1.0)
    out = []
    for k in range(max_k):
        cum += term
        out.append(int(cum * 32768))
        term /= k + 1
    return out


#: Largest prime below 2^30 — same affine-universal family modulus as
#: the MinHash permutations (operators/dedup.py::_MINHASH_P). With
#: 30-bit bases and sub-P constants, a_r*h0a + c_r*h0b + d_r < 2^62:
#: comfortably inside a signed 64-bit long on Spark AND DuckDB.
_BOOT_P = 1073741789
_BOOT_M30 = 1073741824  # 2^30: base-pair reduction modulus


def boot_perm_consts(b: int, seed: str = "boot") -> "list[tuple[int, int, int]]":
    """Deterministic per-replicate affine constants ``(a_r, c_r, d_r)``
    derived from md5 of the replicate index — the SINGLE SOURCE both
    the Spark operator and the SQL oracle generators read, so the two
    engines cannot drift (the MinHash ``minhash_perm_consts``
    contract)."""
    import hashlib

    out = []
    for r in range(b):
        a = (
            int(hashlib.md5(f"boot-a-{seed}-{r}".encode()).hexdigest()[:15], 16)
            % (_BOOT_P - 1)
            + 1
        )
        c = (
            int(hashlib.md5(f"boot-c-{seed}-{r}".encode()).hexdigest()[:15], 16)
            % (_BOOT_P - 1)
            + 1
        )
        d = int(
            hashlib.md5(f"boot-d-{seed}-{r}".encode()).hexdigest()[:15], 16
        ) % _BOOT_P
        out.append((a, c, d))
    return out


def grouped_replicate_partials(
    df: DataFrame,
    group_col: str,
    key_col: str,
    value_col: str,
    b: int = 200,
    seed: str = "boot",
) -> "tuple[list, list]":
    """The SUFFICIENT STATISTICS both CI forms derive from, collected:
    per-(group, replicate) integer weight partials ``(g, r, swx, sw)``
    and per-group exact totals ``(g, n, s)``. The Poisson draws are a
    pure function of (key, seed) — independent of any grouping — so
    ONE grouped pass serves the per-group CIs directly and the global
    CI by exact integer re-aggregation (summing the group partials per
    replicate is bit-identical to a global groupBy(__r)). Collected
    state is groups × B rows — driver metadata for dimension-like
    groups."""
    # r10: the b× posexplode fanout (n·b rows through the CASE +
    # partial agg — 300M rows at sf1 for b=200) is replaced by ONE
    # Arrow pass that reduces each batch to its (group, replicate)
    # integer partials in numpy. The draw arithmetic is identical op
    # for op: the same single md5 per row (hex halves reduced mod
    # 2^30), the same affine-universal 15-bit uniforms in int64 (all
    # products < 2^62), and the same integer-threshold inverse CDF
    # (searchsorted(side='right') ≡ the CASE's smallest k with
    # u < T[k]). Weighted partials are exact long sums, so the final
    # groupBy totals are bit-identical to the exploded form (asserted
    # against the exploded reference — long AND string keys — in
    # tests/test_bootstrap.py::test_grouped_partials_match_exploded_draws).
    src = df.select(
        F.col(key_col).alias("__k"),
        F.col(group_col).alias("__g"),
        F.col(value_col).alias("__x"),
    )
    target = df.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < target:
        src = src.repartition(target)
    consts = boot_perm_consts(b, seed)
    thresholds = poisson1_cdf15()
    gtype = dict(src.dtypes)["__g"]

    def partials(batches):
        import hashlib as _hashlib

        import numpy as np
        import pandas as pd

        A = np.asarray([c[0] for c in consts], dtype=np.int64)
        C = np.asarray([c[1] for c in consts], dtype=np.int64)
        D = np.asarray([c[2] for c in consts], dtype=np.int64)
        T = np.asarray(thresholds, dtype=np.int64)
        sfx = f"|{seed}".encode()
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            h0a = np.empty(n, dtype=np.int64)
            h0b = np.empty(n, dtype=np.int64)
            for i, k in enumerate(pdf["__k"]):
                h = _hashlib.md5(str(k).encode() + sfx).hexdigest()
                h0a[i] = int(h[:15], 16) % _BOOT_M30
                h0b[i] = int(h[15:30], 16) % _BOOT_M30
            u = (
                h0a[:, None] * A[None, :]
                + h0b[:, None] * C[None, :]
                + D[None, :]
            ) % _BOOT_P & 32767
            W = np.searchsorted(T, u, side="right").astype(np.int64)
            x = pdf["__x"].to_numpy(dtype=np.int64)
            codes, uniq = pd.factorize(pdf["__g"])
            rows = []
            for gi, g in enumerate(uniq):
                sel = codes == gi
                Wg = W[sel]
                swx = Wg.T @ x[sel]
                sw = Wg.sum(axis=0)
                for r in range(len(consts)):
                    rows.append((g, r, int(swx[r]), int(sw[r])))
            yield pd.DataFrame(
                rows, columns=["__g", "__r", "__swx", "__sw"]
            )

    per = [
        (p["__g"], p["__r"], p["__swx"], p["__sw"])
        for p in src.mapInPandas(
            partials,
            schema=f"__g {gtype}, __r INT, __swx LONG, __sw LONG",
        )
        .groupBy("__g", "__r")
        .agg(F.sum("__swx").alias("__swx"), F.sum("__sw").alias("__sw"))
        .collect()
    ]
    totals = [
        (t["__g"], int(t["n"]), t["s"])
        for t in df.groupBy(F.col(group_col).alias("__g"))
        .agg(F.count("*").alias("n"), F.sum(value_col).alias("s"))
        .collect()
    ]
    return per, totals


def _rank_rule(b: int, alpha: float, n_means: int) -> "tuple[int, int]":
    lo_rn = max(math.ceil((alpha / 2) * b), 1)
    hi_rn = min(math.ceil((1 - alpha / 2) * b), n_means)
    return lo_rn, hi_rn


def global_ci_from_partials(
    per: list, totals: list, b: int = 200, alpha: float = 0.05
) -> "tuple[int, float, float, float]":
    """Percentile-bootstrap CI for the mean over all groups,
    ``(n_rows, mean, ci_lo, ci_hi)`` unrounded: sum the integer
    partials across groups per replicate (exact — long addition
    commutes with the distributed SUM), order the replicate means with
    the replicate id as tiebreak, and pick the bounds by the integer
    rank rule rn = ceil(q·b) — deterministic on any engine."""
    agg: dict = {}
    for _g, r, swx, sw in per:
        a = agg.get(r)
        agg[r] = (swx, sw) if a is None else (a[0] + swx, a[1] + sw)
    means = sorted((swx / sw, r) for r, (swx, sw) in agg.items() if sw)
    lo_rn, hi_rn = _rank_rule(b, alpha, len(means))
    n = sum(t[1] for t in totals)
    s = sum(t[2] for t in totals)
    return (n, s / n, means[lo_rn - 1][0], means[hi_rn - 1][0])


def group_cis_from_partials(
    per: list, totals: list, b: int = 200, alpha: float = 0.05
) -> "list[tuple]":
    """Per-group percentile-bootstrap mean CIs,
    ``[(group, n_rows, mean, ci_lo, ci_hi)]`` sorted by group,
    unrounded: the rank rule of :func:`global_ci_from_partials` over
    each group's B replicate means."""
    by_group: dict = {}
    for g, r, swx, sw in per:
        if sw:
            by_group.setdefault(g, []).append((swx / sw, r))
    tot = {t[0]: t for t in totals}
    out = []
    for g in sorted(by_group):
        means = sorted(by_group[g])
        lo_rn, hi_rn = _rank_rule(b, alpha, len(means))
        _, n, s = tot[g]
        out.append((g, n, s / n, means[lo_rn - 1][0], means[hi_rn - 1][0]))
    return out


def poisson_case_sql(u15_sql: str, max_k: int = 8) -> str:
    """The integer-threshold inverse CDF over a 15-bit uniform SQL
    expression — single source for oracle queries so the thresholds
    cannot drift from the Spark side."""
    parts = [
        f"WHEN {u15_sql} < {t} THEN {k}"
        for k, t in enumerate(poisson1_cdf15(max_k))
    ]
    return "CASE " + " ".join(parts) + f" ELSE {max_k} END"
