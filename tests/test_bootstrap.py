"""operators/bootstrap.py: deterministic Poisson bootstrap — draw
distribution, determinism, CI sanity.

The Column-expression draws below are the reference the program's
numpy partials (``grouped_replicate_partials``) are compared against:
the same single md5 per row, affine-universal 15-bit uniforms and
integer-threshold inverse CDF, as Spark expressions.
"""

from __future__ import annotations

import pytest

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_pipelines_snowflake_procedures_spark.operators.bootstrap import (
    _BOOT_M30,
    _BOOT_P,
    boot_perm_consts,
    global_ci_from_partials,
    group_cis_from_partials,
    grouped_replicate_partials,
    poisson1_cdf15,
)


def _poisson_weight(u15: Column, thresholds: list[int]) -> Column:
    """Inverse-CDF CASE over a 15-bit uniform. Call this on a
    MATERIALIZED column only: each WHEN arm re-references the input
    expression, so a compound ``u15`` would be re-evaluated per arm."""
    w: Column = F.lit(len(thresholds))
    for k in reversed(range(len(thresholds))):
        w = F.when(u15 < F.lit(thresholds[k]), F.lit(k)).otherwise(w)
    return w


def _base_halves(key: Column, seed: str) -> tuple[Column, Column]:
    """The row's 30-bit base pair: the two 60-bit halves of ONE md5
    digest, reduced mod 2^30."""
    h = F.md5(F.concat(key.cast("string"), F.lit(f"|{seed}")))
    return (
        F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % F.lit(_BOOT_M30),
        F.conv(F.substring(h, 16, 15), 16, 10).cast("long") % F.lit(_BOOT_M30),
    )


def _slot_u15(h0a: Column, h0b: Column, const: "tuple[int, int, int]") -> Column:
    """Replicate's 15-bit uniform from the row base pair and its
    affine constants."""
    a, c, d = const
    return (
        (F.lit(a) * h0a + F.lit(c) * h0b + F.lit(d)) % F.lit(_BOOT_P)
    ).bitwiseAND(F.lit(32767))


def poisson_weights(key: Column, b: int, seed: str = "boot") -> Column:
    """Array of ``b`` deterministic Poisson(1) weights for a row key —
    the readable array-form spec of the draw scheme."""
    thresholds = poisson1_cdf15()
    h0a, h0b = _base_halves(key, seed)
    cols = [
        _poisson_weight(_slot_u15(h0a, h0b, const), thresholds)
        for const in boot_perm_consts(b, seed)
    ]
    return F.array(*cols)


def poisson_draws(df: DataFrame, key_col: str, b: int, seed: str = "boot") -> DataFrame:
    """Exploded form of :func:`poisson_weights`: appends ``(__r, __w)``
    — one row per (input row, replicate). The per-replicate constants
    posexplode from a literal array and the inverse-CDF CASE runs on
    the materialized 15-bit column."""
    thresholds = poisson1_cdf15()
    h0a, h0b = _base_halves(F.col(key_col), seed)
    d1 = df.withColumns({"__h0a": h0a, "__h0b": h0b})
    consts = F.array(
        *[
            F.struct(
                F.lit(a).alias("a"), F.lit(c).alias("c"), F.lit(d).alias("d")
            )
            for a, c, d in boot_perm_consts(b, seed)
        ]
    )
    d2 = d1.select("*", F.posexplode(consts).alias("__r", "__k"))
    u = (
        (
            F.col("__k.a") * F.col("__h0a")
            + F.col("__k.c") * F.col("__h0b")
            + F.col("__k.d")
        )
        % F.lit(_BOOT_P)
    ).bitwiseAND(F.lit(32767))
    d2 = d2.withColumn("__u", u)
    return (
        d2.withColumn("__w", _poisson_weight(F.col("__u"), thresholds))
        .drop("__h0a", "__h0b", "__k", "__u")
    )


def _global_ci(df: DataFrame, key_col: str, value_col: str, b: int):
    """The global CI the registry emits, from partials grouped on
    ``key % 3`` (three groups, re-aggregated per replicate)."""
    grouped = df.withColumn("__g", F.col(key_col) % 3)
    per, totals = grouped_replicate_partials(grouped, "__g", key_col, value_col, b)
    return global_ci_from_partials(per, totals, b)


def _group_cis(
    df: DataFrame, group_col: str, key_col: str, value_col: str, b: int
):
    per, totals = grouped_replicate_partials(df, group_col, key_col, value_col, b)
    return group_cis_from_partials(per, totals, b)


def test_cdf15_thresholds_match_poisson1():
    t = poisson1_cdf15()
    cum, term = 0.0, math.exp(-1.0)
    for k, got in enumerate(t):
        cum += term
        assert got == int(cum * 32768)
        term /= k + 1
    assert t[0] == int(math.exp(-1) * 32768)  # ~12055
    assert t[-1] == 32767


@pytest.mark.slowtier
def test_weights_distribution_is_poisson1(spark):
    df = spark.range(2000).select(F.col("id"))
    w = df.select(
        F.explode(poisson_weights(F.col("id"), 40)).alias("w")
    )
    stats = w.agg(
        F.avg("w").alias("m"), F.var_pop("w").alias("v"), F.max("w").alias("mx")
    ).first()
    # Poisson(1): mean 1, variance 1
    assert abs(stats["m"] - 1.0) < 0.02
    assert abs(stats["v"] - 1.0) < 0.05
    assert stats["mx"] <= 8
    share0 = w.filter("w = 0").count() / w.count()
    assert abs(share0 - math.exp(-1)) < 0.01


def test_bootstrap_deterministic_and_sane(spark):
    rows = [(i, 100 + (i * 37) % 50) for i in range(3000)]
    df = spark.createDataFrame(rows, "k LONG, x LONG")
    a = _global_ci(df, "k", "x", b=80)
    bb = _global_ci(df, "k", "x", b=80)
    assert a == bb  # md5 draws: bit-identical across runs
    n, mean, lo, hi = a
    assert n == 3000
    assert lo < mean < hi
    true_mean = sum(x for _, x in rows) / len(rows)
    assert lo < true_mean < hi
    # interval is tight for n=3000 of bounded values
    assert (hi - lo) < 3.0


def test_ci_narrows_with_n(spark):
    small = spark.createDataFrame(
        [(i, (i * 13) % 100) for i in range(300)], "k LONG, x LONG"
    )
    big = spark.createDataFrame(
        [(i, (i * 13) % 100) for i in range(6000)], "k LONG, x LONG"
    )
    _, _, lo_s, hi_s = _global_ci(small, "k", "x", b=80)
    _, _, lo_b, hi_b = _global_ci(big, "k", "x", b=80)
    assert (hi_b - lo_b) < (hi_s - lo_s)


def test_group_bootstrap_matches_global_on_single_group(spark):
    df = spark.createDataFrame(
        [("a", i, 100 + (i * 37) % 50) for i in range(1500)],
        "g STRING, k LONG, x LONG",
    )
    [(g, n, mean, lo, hi)] = _group_cis(df, "g", "k", "x", b=80)
    gn, gmean, glo, ghi = _global_ci(df, "k", "x", b=80)
    assert (g, n) == ("a", 1500)
    # same keys, same seed -> identical draws -> identical interval
    assert (mean, lo, hi) == (gmean, glo, ghi)


def test_group_bootstrap_separates_shifted_groups(spark):
    rows = [("lo", i, (i * 13) % 100) for i in range(2000)] + [
        ("hi", 10_000 + i, 500 + (i * 13) % 100) for i in range(2000)
    ]
    df = spark.createDataFrame(rows, "g STRING, k LONG, x LONG")
    out = {g: (lo, hi) for g, _, _, lo, hi in
           _group_cis(df, "g", "k", "x", b=80)}
    assert out["lo"][1] < out["hi"][0]  # disjoint intervals


def test_poisson_draws_identical_to_array_form(spark):
    df = spark.createDataFrame([(i,) for i in range(50)], "k LONG")
    arr = df.select(
        "k", F.posexplode(poisson_weights(F.col("k"), 20)).alias("r", "w")
    )
    ex = poisson_draws(df, "k", 20).select("k", F.col("__r").alias("r"), F.col("__w").alias("w"))
    a = {(x["k"], x["r"]): x["w"] for x in arr.collect()}
    b = {(x["k"], x["r"]): x["w"] for x in ex.collect()}
    assert a == b


def test_grouped_partials_match_exploded_draws(spark):
    """Direct parity (ADVICE r10): the numpy mapInPandas partials equal
    the exploded poisson_draws → groupBy(__g, __r) aggregation — the
    pre-r10 form — including a NON-long key dtype (string keys hash via
    Python str(k), which must agree with Spark's cast('string'))."""
    cases = [
        (
            [(i, f"g{i % 3}", 100 + (i * 37) % 50) for i in range(400)],
            "k LONG, g STRING, x LONG",
        ),
        (
            # string key: exercises the str(k) vs cast('string') path
            [(f"id-{i:04d}", f"g{i % 3}", 100 + (i * 37) % 50) for i in range(400)],
            "k STRING, g STRING, x LONG",
        ),
    ]
    for rows, schema in cases:
        df = spark.createDataFrame(rows, schema)
        per, totals = grouped_replicate_partials(df, "g", "k", "x", b=24)
        got = {(g, r): (swx, sw) for g, r, swx, sw in per}
        exploded = (
            poisson_draws(df, "k", 24)
            .groupBy("g", "__r")
            .agg(
                F.sum(F.col("__w") * F.col("x")).alias("swx"),
                F.sum("__w").alias("sw"),
            )
            .collect()
        )
        want = {(x["g"], x["__r"]): (x["swx"], x["sw"]) for x in exploded}
        assert got == want
        assert {t[0]: (t[1], t[2]) for t in totals} == {
            "g0": (134, sum(x for _, g, x in rows if g == "g0")),
            "g1": (133, sum(x for _, g, x in rows if g == "g1")),
            "g2": (133, sum(x for _, g, x in rows if g == "g2")),
        }
