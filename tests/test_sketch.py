"""HLL sketch distinct: merge invariant + error bound.

The scale claim being tested: sketches built per-slice and UNIONED
must estimate exactly what a single one-pass sketch over the same
rows estimates (HLL register state is order/partition-insensitive),
and the estimate must sit within the p=12 error envelope.
"""

import pytest
from pyspark.sql import functions as F

from data_pipelines_snowflake_procedures_spark.operators.sketch import (
    portable_hll_distinct,
)
from data_pipelines_snowflake_procedures_spark.session import load_table


def test_union_of_slices_equals_one_pass_sketch(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    cols = ("approx_distinct", "n_registers_filled")
    merged = {
        r["event_type"]: tuple(r[c] for c in cols)
        for r in portable_hll_distinct(
            ev, ["event_type"], F.to_date("ts"), "user_id"
        ).collect()
    }
    one_pass = {
        r["event_type"]: tuple(r[c] for c in cols)
        for r in portable_hll_distinct(
            ev, ["event_type"], F.lit(0), "user_id"
        ).collect()
    }
    assert merged == one_pass


def test_sketch_estimate_within_error_bound(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    rows = portable_hll_distinct(
        ev, ["event_type"], F.to_date("ts"), "user_id"
    ).collect()
    assert rows
    for r in rows:
        assert r["exact_distinct"] > 0
        # p=12 standard error ~1.6%; 5% is a ~3-sigma bound.
        assert r["rel_err"] <= 0.05, (r["event_type"], r["rel_err"])


def test_cms_merge_invariant_and_one_sided_error(spark, sf_dir):
    """Count-min sketch: (1) per-day sketches merged == one-pass sketch
    bucket-for-bucket; (2) point estimates are one-sided (>= exact) on
    a deliberately colliding configuration (3k users, width 64); (3)
    exact on a collision-free configuration (5 event types, width
    1024)."""
    from data_pipelines_snowflake_procedures_spark.operators.sketch import (
        cms_build,
        cms_merge,
        cms_point_estimate,
    )

    ev = load_table(spark, sf_dir, "events")

    # (1) merge invariance: sum of per-slice counts == whole-corpus build
    daily = cms_merge(cms_build(ev, [], F.to_date("ts"), "user_id"), [])
    one_pass = cms_merge(
        cms_build(ev, [], F.lit("all"), "user_id"), []
    )
    d = {(r["h"], r["b"]): r["cnt"] for r in daily.collect()}
    o = {(r["h"], r["b"]): r["cnt"] for r in one_pass.collect()}
    assert d == o

    # (2) one-sided error under heavy collisions
    small = cms_merge(
        cms_build(ev, [], F.lit("all"), "user_id", depth=4, width=64), []
    )
    keys = ev.select("user_id").distinct().limit(50)
    est = {
        r["user_id"]: r["est_count"]
        for r in cms_point_estimate(
            small, keys, "user_id", depth=4, width=64
        ).collect()
    }
    exact = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert est and all(est[u] >= exact[u] for u in est)

    # (3) exact when a collision-free hash row exists for every key
    types = cms_merge(cms_build(ev, [], F.to_date("ts"), "event_type"), [])
    tkeys = ev.select("event_type").distinct()
    test = {
        r["event_type"]: r["est_count"]
        for r in cms_point_estimate(types, tkeys, "event_type").collect()
    }
    truth = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert test == truth


def test_cms_bucket_keys_single_scan_entry(spark, sf_dir):
    """VERDICT r3 wrong-list #1: the CMS registry entry must not scan
    events a second time to enumerate its query keys. The merged
    sketch is persisted WHILE the estimate computes (keys drawn from
    its own h=0 exemplars — one real events scan inside the cache
    build), then the key-cardinality-sized result materializes and the
    sketch cache is released (ADVICE r4 #2): the returned plan is a
    local relation with ZERO parquet relations and ZERO live cached
    blocks."""
    from data_pipelines_snowflake_procedures_spark.operators.sketch import (
        cms_bucket_keys,
        cms_build,
        cms_merge,
    )
    from data_pipelines_snowflake_procedures_spark.queries import REGISTRY
    from data_pipelines_snowflake_procedures_spark.session import load_table

    df = REGISTRY["events_type_counts_cms"].spark_fn(spark, sf_dir)
    est = {r["event_type"]: r["est_count"] for r in df.collect()}
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("Relation parquet") == 0, opt
    # the entry releases its sketch cache before returning
    assert "InMemoryRelation" not in opt

    # exemplar key recovery enumerates exactly the observed vocabulary
    ev = load_table(spark, sf_dir, "events")
    merged = cms_merge(
        cms_build(ev, [], F.to_date("ts"), "event_type", keep_exemplar=True), []
    )
    got = {r["event_type"] for r in cms_bucket_keys(merged, "event_type").collect()}
    want = {r["event_type"] for r in ev.select("event_type").distinct().collect()}
    assert got == want
    assert set(est) == want


def test_kmv_overlap_accuracy_and_merge_invariance(spark):
    """KMV bottom-k sketches: (1) union/intersection estimates land
    within KMV's ~1/sqrt(k) error band on sets with known overlap;
    (2) the sketch of a union equals re-taking the bottom k of the
    two sketches' union (mergeability — the property that lets
    per-day sketches answer range queries); (3) sub-k sets estimate
    exactly."""
    from pyspark.sql import functions as F

    from data_pipelines_snowflake_procedures_spark.operators.sketch import (
        kmv_overlap,
        kmv_sketch,
    )

    # A = 0..3999, B = 2000..5999 -> |A|=|B|=4000, inter=2000, union=6000
    rows = [("A", i) for i in range(4000)] + [("B", i) for i in range(2000, 6000)]
    df = spark.createDataFrame(rows, "s STRING, v LONG")
    sk = kmv_sketch(df, "s", "v", k=256)
    out = kmv_overlap(sk, "s", k=256).collect()[0]
    assert abs(out["est_union"] - 6000) / 6000 < 0.20
    assert abs(out["est_intersection"] - 2000) / 2000 < 0.35
    assert 0 < out["est_jaccard"] < 1

    # mergeability: bottom-k of (sketch(A) ∪ sketch(B)) == sketch(A ∪ B)
    union_direct = kmv_sketch(
        df.select(F.lit("U").alias("s"), "v"), "s", "v", k=256
    )
    from pyspark.sql import Window

    merged = (
        sk.select("h")
        .distinct()
        .withColumn("rk", F.row_number().over(Window.orderBy("h")))
        .filter(F.col("rk") <= 256)
    )
    assert sorted(r["h"] for r in merged.collect()) == sorted(
        r["h"] for r in union_direct.collect()
    )

    # sub-k sets are exact
    small = spark.createDataFrame(
        [("X", i) for i in range(40)] + [("Y", i) for i in range(20, 60)],
        "s STRING, v LONG",
    )
    o2 = kmv_overlap(kmv_sketch(small, "s", "v", k=256), "s", k=256).collect()[0]
    assert o2["est_union"] == 60 and o2["est_intersection"] == 20
    assert o2["est_jaccard"] == 3333 / 10000


@pytest.mark.slowtier
def test_kmv_merge_fold_equals_recompute(spark):
    """Bottom-k-of-union folding is associative/commutative/idempotent:
    any merge order of per-slice sketches equals the direct sketch."""
    from data_pipelines_snowflake_procedures_spark.operators.sketch import (
        kmv_estimate,
        kmv_merge,
        kmv_sketch,
    )

    rows = [("g", i % 7, i * 37 % 501) for i in range(900)]
    df = spark.createDataFrame(rows, "k STRING, slice LONG, v LONG")
    direct = kmv_sketch(df, "k", "v", k=64)
    parts = [
        kmv_sketch(df.filter(F.col("slice") == s), "k", "v", k=64).select(
            "k", "h"
        )
        for s in range(7)
    ]

    def fold(order):
        st = parts[order[0]]
        for i in order[1:]:
            st = kmv_merge(st.unionByName(parts[i]), "k", k=64).select(
                "k", "h"
            )
        return kmv_merge(st, "k", k=64)

    want = sorted((r["h"], r["rk"]) for r in direct.collect())
    for order in ([0, 1, 2, 3, 4, 5, 6], [6, 2, 0, 5, 1, 3, 4]):
        got = sorted((r["h"], r["rk"]) for r in fold(order).collect())
        assert got == want
    # idempotent: re-merging the final state is a no-op
    refolded = kmv_merge(fold([0, 1, 2, 3, 4, 5, 6]), "k", k=64)
    assert sorted((r["h"], r["rk"]) for r in refolded.collect()) == want
    # estimator path: 501 distinct values > k engages the (k-1)M/h_k arm
    est = kmv_estimate(direct, "k", k=64).collect()[0]["est_distinct"]
    assert abs(est - 501) / 501 < 0.35


def test_heavy_hitters_matches_naive_groupby(spark):
    """Two-scan MG path == naive GROUP BY + HAVING on a skewed stream,
    regardless of partitioning; summaries respect the counter cap."""
    from data_pipelines_snowflake_procedures_spark.operators.sketch import (
        heavy_hitters,
        mg_summaries,
    )

    # Zipf-ish: value v appears ~3000/v times; plus a long uniform tail
    rows = [(v,) for v in range(1, 40) for _ in range(3000 // v)]
    rows += [(1000 + i % 500,) for i in range(3000)]
    df = spark.createDataFrame(rows, "v LONG").repartition(7)

    got = [
        (r["v"], r["cnt"]) for r in heavy_hitters(df, "v", 1, 20).collect()
    ]
    n = len(rows)
    from collections import Counter

    cnt = Counter(v for (v,) in rows)
    want = sorted(
        ((v, c) for v, c in cnt.items() if c * 20 > n),
        key=lambda t: (-t[1], t[0]),
    )
    assert got == want and got  # non-empty: the skew produced hitters

    summ = mg_summaries(df, "v", counters=20).collect()
    per_part = Counter()
    for r in summ:
        if r["v"] is not None:
            per_part["k"] += 1
    assert per_part["k"] <= 7 * 20
    assert sum(r["pn"] for r in summ if r["v"] is None) == n


def test_hll_portable_accuracy_and_determinism(spark):
    """Raw estimator lands inside the HLL error band for a mid-size
    cardinality, underestimates small sets (documented: no
    linear-counting branch), and is partition-invariant."""
    from data_pipelines_snowflake_procedures_spark.operators.sketch import (
        hll_portable,
    )

    rows = [("big", i) for i in range(5000)] + [("small", i) for i in range(20)]
    df = spark.createDataFrame(rows, "k STRING, v LONG")
    got = {
        r["k"]: (r["raw_est"], r["zero_registers"])
        for r in hll_portable(df, "k", "v").collect()
    }
    est, zeros = got["big"]
    assert abs(est - 5000) / 5000 < 0.15  # ~1.04/sqrt(256) = 6.5% band
    assert zeros == 0 or zeros < 5
    # small set: many empty registers reported for downstream correction
    assert got["small"][1] > 200
    # partition-invariance: registers are max-folds
    re7 = {
        r["k"]: (r["raw_est"], r["zero_registers"])
        for r in hll_portable(df.repartition(7), "k", "v").collect()
    }
    assert re7 == got


def test_mg_merge_preserves_heavy_hitter_guarantee(spark):
    """Merged-then-compacted summaries still contain every true heavy
    hitter; merging is associative enough to re-merge merged states."""
    from data_pipelines_snowflake_procedures_spark.operators.sketch import (
        mg_merge,
        mg_summaries,
    )

    rows = [(v,) for v in range(1, 30) for _ in range(2000 // v)]
    rows += [(5000 + i % 800,) for i in range(4000)]
    df = spark.createDataFrame(rows, "v LONG").repartition(5)
    k = 20
    half1 = mg_summaries(df.filter(F.col("v") % 2 == 0), "v", k)
    half2 = mg_summaries(df.filter(F.col("v") % 2 == 1), "v", k)
    merged = mg_merge(half1.unionByName(half2), k)
    remerged = mg_merge(merged, k)  # re-merge of a merged state

    n = len(rows)
    from collections import Counter

    cnt = Counter(v for (v,) in rows)
    hh = {v for v, c in cnt.items() if c * (k + 1) > n}
    for state in (merged, remerged):
        cand = {r["v"] for r in state.collect() if r["v"] is not None}
        assert hh <= cand, hh - cand
        assert len(cand) <= k
        tot = sum(
            r["pn"] for r in state.collect() if r["v"] is None
        )
        assert tot == n


def test_portable_hll_distinct_merge_invariance_and_error(spark):
    """The oracle-backed portable HLL (events_distinct_users_sketch):
    estimates are invariant to how rows split across slices AND across
    partitions (registers are max-folds), land inside the error band,
    and the small-range branch engages exactly when zeros remain."""
    from data_pipelines_snowflake_procedures_spark.operators.sketch import (
        portable_hll_distinct,
    )

    rows = [("big", i % 37, i) for i in range(30000)]
    rows += [("small", i % 37, i) for i in range(50)]
    df = spark.createDataFrame(rows, "k STRING, d LONG, v LONG")
    got = {
        r["k"]: r
        for r in portable_hll_distinct(df, ["k"], "d", "v").collect()
    }
    assert got["big"]["exact_distinct"] == 30000
    assert got["small"]["exact_distinct"] == 50
    # m=4096 -> ~1.04/sqrt(4096) = 1.6% band; allow 3 sigma
    assert got["big"]["rel_err"] < 0.05
    assert got["small"]["rel_err"] < 0.10  # linear-counting regime
    assert 0 < got["small"]["n_registers_filled"] <= 50

    # slice-merge invariance: ONE slice vs 37 slices vs repartitioned
    one = {
        r["k"]: r
        for r in portable_hll_distinct(
            df, ["k"], F.lit(0), "v"
        ).collect()
    }
    re11 = {
        r["k"]: r
        for r in portable_hll_distinct(
            df.repartition(11), ["k"], "d", "v"
        ).collect()
    }
    for k in ("big", "small"):
        for c in ("approx_distinct", "rel_err", "n_registers_filled"):
            assert got[k][c] == one[k][c] == re11[k][c], (k, c)


def test_bottomk_quantile_sketch_merge_invariance_and_bound(spark):
    """Bottom-k quantile sketch: merging per-slice samples equals the
    one-slice sketch and is partition-invariant; estimates hit the
    sampling error band; exact column is the true discrete quantile."""
    import numpy as np

    from data_pipelines_snowflake_procedures_spark.operators.sketch import (
        bottomk_quantile_sketch,
    )

    rng = np.random.RandomState(7)
    vals = rng.lognormal(0, 1, 8000)
    rows = [("a", i % 13, i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "g STRING, d LONG, k LONG, v DOUBLE")

    got = {
        r["pct"]: r
        for r in bottomk_quantile_sketch(
            df, ["g"], "d", "k", "v", k=256
        ).collect()
    }
    assert set(got) == {25, 50, 75, 90}
    sv = np.sort(vals)
    for pct, r in got.items():
        assert r["n_rows"] == 8000 and r["sample_k"] == 256
        # exact column == discrete quantile definition (rank ceil(p*n))
        assert r["exact_value"] == float(sv[(pct * 8000 + 99) // 100 - 1])
        # sampling bound: ~3 sigma of p(1-p)/sqrt(k) in RANK space,
        # translated loosely to value space via the empirical CDF
        est_rank = np.searchsorted(sv, r["est_value"], side="right")
        assert abs(est_rank / 8000 - pct / 100) < 3 * 0.5 / np.sqrt(256)

    # invariance: one slice == 13 slices == repartitioned input
    one = {
        r["pct"]: r["est_value"]
        for r in bottomk_quantile_sketch(
            df, ["g"], F.lit(0), "k", "v", k=256
        ).collect()
    }
    re9 = {
        r["pct"]: r["est_value"]
        for r in bottomk_quantile_sketch(
            df.repartition(9), ["g"], "d", "k", "v", k=256
        ).collect()
    }
    for pct in (25, 50, 75, 90):
        assert got[pct]["est_value"] == one[pct] == re9[pct]
