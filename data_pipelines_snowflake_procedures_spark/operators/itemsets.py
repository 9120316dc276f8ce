"""Market-basket co-occurrence mining over DataFrame basket tables —
frequent item pairs and association-rule strength (support / lift).

Why a training-data engine carries this: co-occurrence mining is the
relational workhorse behind corpus curation signals (tags that travel
together, sources that co-cite, near-duplicate cluster summaries) and
the classic retail basket analysis the reference's generated
aggregation pipelines (CODE_GENERATOR.sql's GROUP-BY templates) point
at but never reach.

Scale shape — Apriori's antimonotonicity as a pre-shuffle prune: an
item pair can only reach ``min_support`` if BOTH items individually do,
so infrequent items are dropped with one vocabulary-sized semi-join
BEFORE the quadratic per-basket pair expansion. The expansion itself is
a self-equi-join on the basket id, so its cost is Σ |basket|² — bounded
when baskets are bounded (orders hold ≤7 lineitems; documents hold
bounded tag sets). For corpora with unbounded baskets, ``max_basket``
drops oversize baskets entirely (the standard practice: a 10k-item
basket contributes no usable rule, only k² work), and the cutoff is
restated by the oracle so results stay exact by definition.

Determinism: supports are integer counts; lift is a single double
division rounded at the surface — no accumulation-order hazard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def frequent_pairs(
    baskets: DataFrame,
    basket_col: str = "basket_id",
    item_col: str = "item",
    min_support: int = 2,
    max_basket: int | None = None,
    decimals: int = 6,
    eager: bool = True,
) -> DataFrame:
    """Frequent item pairs with lift; returns ``(item_a, item_b,
    support, support_a, support_b, lift)`` for every unordered pair
    co-occurring in ≥ ``min_support`` baskets (items deduplicated
    within a basket first).

    ``eager=False`` skips the final materialization and returns the
    lazy pair plan, with nothing left persisted — for plan
    inspection/tests only.

    ``lift = support·N / (support_a·support_b)`` over N = number of
    baskets — >1 means the pair co-occurs more than independence
    predicts. Item supports count ALL baskets (before any
    ``max_basket`` drop is applied to the pair expansion), keeping the
    marginals honest."""
    from .graph import _PAIRGEN

    # One groupBy collects each basket's distinct items as a sorted
    # array (replacing bi.distinct() + per-aggregate re-scans of it:
    # guide §2.4 — the basket table's lineage is shuffled ONCE and the
    # persisted sets frame feeds supports, sizes, the pair expansion
    # and the basket count). Only the eager path persists it, since
    # only that path can release it before returning.
    sets = (
        baskets.select(
            F.col(basket_col).alias("bk"), F.col(item_col).alias("item")
        )
        .groupBy("bk")
        .agg(F.sort_array(F.collect_set("item")).alias("__ss"))
    )
    if eager:
        sets = sets.persist()
    isup = (
        sets.select(F.explode("__ss").alias("item"))
        .groupBy("item")
        .agg(F.count("*").alias("s"))
    )
    freq_items = isup.filter(F.col("s") >= min_support).select("item")
    expanded = (
        sets.filter(F.size("__ss") <= max_basket)
        if max_basket is not None
        else sets
    )
    # In-task array pair generation == the self-equi-join on bk
    # (items sorted + deduplicated, so a < b exactly like the join's
    # filter). The Apriori prune (items below min_support can't be in
    # any frequent pair) moves from the item stream to two broadcast
    # semi-joins on the exploded pairs — still applied BEFORE the
    # pair shuffle, which is the expensive boundary; the in-task
    # explosion stays bounded by max_basket.
    pairs = (
        expanded.select(F.explode(F.expr(_PAIRGEN)).alias("__p"))
        .select(
            F.col("__p.a").alias("item_a"), F.col("__p.b").alias("item_b")
        )
        .join(
            F.broadcast(freq_items.select(F.col("item").alias("item_a"))),
            "item_a",
            "left_semi",
        )
        .join(
            F.broadcast(freq_items.select(F.col("item").alias("item_b"))),
            "item_b",
            "left_semi",
        )
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= min_support)
    )
    n_baskets = sets.count()
    sa = isup.select(F.col("item").alias("item_a"), F.col("s").alias("support_a"))
    sb = isup.select(F.col("item").alias("item_b"), F.col("s").alias("support_b"))
    out = (
        pairs.join(F.broadcast(sa), "item_a")
        .join(F.broadcast(sb), "item_b")
        .select(
            "item_a",
            "item_b",
            "support",
            "support_a",
            "support_b",
            F.round(
                F.col("support") * F.lit(float(n_baskets))
                / (F.col("support_a") * F.col("support_b")),
                decimals,
            ).alias("lift"),
        )
    )
    if not eager:
        return out
    # frequent-pair output is min_support-pruned (vocabulary²-bounded,
    # tiny next to the basket table): materialize it eagerly so the
    # persisted sets frame can be released before returning
    out = out.localCheckpoint(eager=True)
    sets.unpersist()
    return out


def association_rules(
    baskets: DataFrame,
    basket_col: str = "basket_id",
    item_col: str = "item",
    min_support: int = 2,
    max_basket: int | None = None,
    decimals: int = 6,
) -> DataFrame:
    """Directed association rules over :func:`frequent_pairs`: each
    unordered frequent pair yields both ``antecedent -> consequent``
    directions with the full strength-metric set —

    * ``confidence`` = support / support(antecedent),
    * ``lift``       = support·N / (s_a·s_c)  (direction-symmetric),
    * ``leverage``   = P(a,c) − P(a)P(c)      (co-occurrence excess),
    * ``conviction`` = (1 − P(c)) / (1 − confidence), NULL at
      confidence 1 (the standard "infinite conviction" case).

    All metrics are single rounded doubles over integer counts, so the
    result is hash-exact cross-engine. Plan shape adds only a
    2×-union of the pair table plus two broadcast marginal joins on
    top of frequent_pairs — nothing new shuffles at corpus scale."""
    pairs = frequent_pairs(
        baskets, basket_col, item_col, min_support, max_basket, decimals
    )
    # the pair table already carries both items' marginal supports
    # (support_a/support_b = isup) — deriving the directed marginals
    # from it avoids re-scanning and re-shuffling the basket table
    # (guide §1.2: don't compute things twice); only the basket count
    # needs one extra narrow aggregate.
    n = float(
        baskets.select(F.col(basket_col).alias("bk"))
        .agg(F.count_distinct("bk"))
        .collect()[0][0]
    )
    directed = pairs.select(
        F.col("item_a").alias("antecedent"),
        F.col("item_b").alias("consequent"),
        "support",
        F.col("support_a").alias("support_ante"),
        F.col("support_b").alias("support_cons"),
    ).unionByName(
        pairs.select(
            F.col("item_b").alias("antecedent"),
            F.col("item_a").alias("consequent"),
            "support",
            F.col("support_b").alias("support_ante"),
            F.col("support_a").alias("support_cons"),
        )
    )
    conf = F.col("support").cast("double") / F.col("support_ante")
    return (
        directed
        .select(
            "antecedent",
            "consequent",
            F.col("support").cast("long").alias("support"),
            F.col("support_ante").cast("long").alias("support_ante"),
            F.col("support_cons").cast("long").alias("support_cons"),
            F.round(conf, decimals).alias("confidence"),
            F.round(
                F.col("support") * F.lit(n)
                / (F.col("support_ante") * F.col("support_cons")),
                decimals,
            ).alias("lift"),
            F.round(
                F.col("support") / F.lit(n)
                - (F.col("support_ante") / F.lit(n))
                * (F.col("support_cons") / F.lit(n)),
                decimals,
            ).alias("leverage"),
            F.when(F.col("support") == F.col("support_ante"), F.lit(None))
            .otherwise(
                F.round(
                    (F.lit(1.0) - F.col("support_cons") / F.lit(n))
                    / (F.lit(1.0) - conf),
                    decimals,
                )
            )
            .alias("conviction"),
        )
    )
