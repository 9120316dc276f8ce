"""Named query registry: PySpark implementation + DuckDB oracle SQL.

Every operator claimed in SURVEY.md §2 lands here as a ``QuerySpec``:
``spark_fn(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) an
ANSI-SQL ``oracle`` string the driver runs on DuckDB over the same
parquet. The driver compares row-count + schema + order-insensitive
value-hash, so:

* every computed column is aliased identically on both sides,
* double aggregates are rounded (accumulation order differs between
  engines; unrounded doubles are not bit-comparable),
* integer sums are cast explicitly (DuckDB ``sum(BIGINT)`` is HUGEINT).

Registered via ``@register`` in dependency order; modules for later
build steps append their own entries.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .session import load_table


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(name=name, spark_fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


# --------------------------------------------------------------------------
# Relational core — the query surface the reference's EXECUTION_ENGINE and
# generated pipelines (G2/G3) exercise, expressed over the harness tables.
# --------------------------------------------------------------------------


@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                    AS sum_qty,
           round(sum(l_extendedprice), 2)                               AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4)                                    AS avg_qty,
           round(avg(l_extendedprice), 4)                               AS avg_price,
           round(avg(l_discount), 4)                                    AS avg_disc,
           CAST(count(*) AS BIGINT)                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Flagship TPC-H-Q1-style pricing summary (A1-A4/A9/G3). Single "
    "shuffle on two low-cardinality keys; map-side partial agg makes the "
    "shuffle O(groups), scale-safe at 100 TB.",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "region_revenue",
    """
    SELECT r.r_name AS region_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lineitems
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN nation n    ON c.c_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    doc="Multi-hop star join (J1/G2) lineitem→orders→customer→nation→region. "
    "nation/region are broadcast (tiny dims); customer broadcasts under the "
    "64 MB threshold at bench SF and shuffle-joins beyond it.",
)
def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


@register(
    "top_customers_by_revenue",
    """
    SELECT c_custkey, c_name,
           round(sum(o_totalprice), 2) AS total_spent,
           CAST(count(*) AS BIGINT)    AS n_orders
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    ORDER BY total_spent DESC, c_custkey
    LIMIT 10
    """,
    doc="Join + group + global top-k (O2/O3, G2). TakeOrdered physical op: "
    "per-partition top-10 then driver merge — no full sort at scale.",
)
def top_customers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
            F.count("*").alias("n_orders"),
        )
        .orderBy(F.desc("total_spent"), F.asc("c_custkey"))
        .limit(10)
    )


@register(
    "latest_order_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate
    FROM (
      SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice,
             o_orderdate,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC
             ) AS rn
      FROM orders
    ) t WHERE rn = 1
    """,
    doc="W1: latest-record-per-key via row_number window — the SCD1 dedup "
    "primitive (CODE_GENERATOR.sql:45,56). One shuffle on the partition key; "
    "deterministic tie-break on o_orderkey so the oracle hash is stable.",
)
def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "o_orderdate",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "latest_order_per_customer_maxby",
    """
    WITH o AS (
      SELECT *, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '|' ||
             lpad(CAST(o_orderkey AS VARCHAR), 18, '0') AS ok
      FROM orders
    )
    SELECT o_custkey,
           arg_max(o_orderkey, ok) AS o_orderkey,
           round(arg_max(o_totalprice, ok), 2) AS o_totalprice,
           arg_max(o_orderdate, ok) AS o_orderdate
    FROM o GROUP BY o_custkey
    """,
    doc="Latest-record-per-key as a max_by AGGREGATE — the 100 TB form "
    "of W1/A8: a window row_number shuffles EVERY row to sort its "
    "partition; max_by is a plain aggregate with map-side partial "
    "combine, so one candidate row per (task, key) crosses the wire "
    "and no partition ever sorts. Tie-break identical to "
    "latest_order_per_customer via a lexicographic (date | "
    "zero-padded key) ordering string, which both engines compare "
    "bytewise.",
)
def latest_order_per_customer_maxby(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    ok = F.concat(
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
        F.lit("|"),
        F.lpad(F.col("o_orderkey").cast("string"), 18, "0"),
    )
    return orders.groupBy("o_custkey").agg(
        F.max_by(F.col("o_orderkey"), ok).alias("o_orderkey"),
        F.round(F.max_by(F.col("o_totalprice"), ok), 2).alias("o_totalprice"),
        F.max_by(F.col("o_orderdate"), ok).alias("o_orderdate"),
    )


@register(
    "order_priority_counts",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
        AND l_shipdate > o_orderdate
    )
    GROUP BY o_orderpriority
    """,
    doc="Semi-join (EXISTS) + group (TPC-H Q4 shape). left_semi avoids "
    "materializing the join fan-out; aggregate keys are tiny.",
)
def order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    matched = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


@register(
    "customers_without_big_orders",
    """
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers
    FROM customer
    WHERE NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_totalprice > 400000
    )
    GROUP BY c_mktsegment
    """,
    doc="Anti-join (NOT EXISTS) + group — the SCD1 parquet-fallback "
    "primitive (J4). left_anti keeps only the probe side. The price "
    "threshold keeps the result non-trivial on the harness data (every "
    "customer has at least one order).",
)
def customers_without_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > 400000)
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


# --------------------------------------------------------------------------
# Profiling + data-quality (SURVEY.md §2.10: Q1-Q7) — oracle SQL is
# generated by the helpers below so the Spark plan and the DuckDB SQL
# stay structurally in sync.
# --------------------------------------------------------------------------

_PROFILE_CUSTOMER_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]


def _profile_oracle(table: str, cols: list[str]) -> str:
    aggs = ["count(*) AS total"]
    for c in cols:
        aggs.append(f"count(DISTINCT {c}) AS d_{c}")
        aggs.append(f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_{c}")
    selects = [
        f"""SELECT '{c}' AS column_name, CAST(total AS BIGINT) AS count_all,
            CAST(d_{c} AS BIGINT) AS count_distinct, n_{c} AS count_nulls,
            round(n_{c}::DOUBLE / greatest(total, 1), 6) AS null_ratio,
            round(d_{c}::DOUBLE / greatest(total, 1), 6) AS distinct_ratio
            FROM a"""
        for c in cols
    ]
    return f"WITH a AS (SELECT {', '.join(aggs)} FROM {table})\n" + "\nUNION ALL\n".join(selects)


@register(
    "profile_customer",
    _profile_oracle("customer", _PROFILE_CUSTOMER_COLS),
    doc="Q7 column profile of customer: profile_table's counts and "
    "6-decimal ratios, one row per column, from one single-pass wide "
    "aggregate (vs the reference's query-per-column at "
    "Data_Quality_Table.sql:70-77).",
)
def profile_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.profile import profile_long

    return profile_long(load_table(spark, sf_dir, "customer"))


_DQ_NOW = "1995-06-01 00:00:00"
_ORDERS_COLS = [
    ("o_orderkey", "numeric"),
    ("o_custkey", "numeric"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "numeric"),
    ("o_orderdate", "datelike"),
    ("o_orderpriority", "string"),
]


def _table_dq_oracle(table: str, cols: list[tuple[str, str]], now: str) -> str:
    aggs = ["count(*) AS total"]
    for c, kind in cols:
        aggs.append(f"count(DISTINCT {c}) AS d_{c}")
        aggs.append(f"sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS n_{c}")
        if kind == "numeric":
            aggs.append(f"avg({c}) AS avg_{c}")
        if kind == "datelike":
            aggs.append(
                f"sum(CASE WHEN {c} > TIMESTAMP '{now}' THEN 1 ELSE 0 END) AS fut_{c}"
            )
    selects = []
    for c, kind in cols:
        comp = f"(1.0 - n_{c}::DOUBLE / greatest(total, 1))"
        uniq = f"(d_{c}::DOUBLE / greatest(total, 1))"
        if kind == "numeric":
            val = f"(CASE WHEN coalesce(avg_{c}, 0) >= 0 THEN 1.0 ELSE 0.5 END)"
        else:
            val = "1.0"
        if kind == "datelike":
            acc = f"(CASE WHEN total > 0 THEN 1.0 - fut_{c}::DOUBLE / total ELSE 1.0 END)"
        else:
            acc = "1.0"
        selects.append(
            f"""SELECT '{c}' AS column_name,
                round({comp}, 3) AS completeness,
                round({uniq}, 3) AS uniqueness,
                round({val}, 3) AS validity,
                round({acc}, 3) AS accuracy,
                round(1.0, 3) AS consistency,
                round(({comp} + {uniq} + {val} + {acc} + 1.0) / 5, 3) AS column_score
                FROM a"""
        )
    return f"WITH a AS (SELECT {', '.join(aggs)} FROM {table})\n" + "\nUNION ALL\n".join(selects)


@register(
    "dq_table_scores_orders",
    _table_dq_oracle("orders", _ORDERS_COLS, _DQ_NOW),
    doc="Table-engine five-pillar DQ scores (Data_Quality_Table.sql:106-173) "
    "for orders, future-date accuracy pinned to 1995-06-01 so the rule is "
    "non-trivial on TPC-H-dated data: run_table_dq's own scores, one row "
    "per column. Single-pass; consistency is the reference's 1.0 stub.",
)
def dq_table_scores_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dq import table_dq_long

    return table_dq_long(load_table(spark, sf_dir, "orders"), now=_DQ_NOW)


_DOCS_COLS = [
    ("doc_id", "numeric"),
    ("text", "string"),
    ("lang", "string"),
    ("source", "string"),
    ("n_chars", "numeric"),
]


@register(
    "dq_table_scores_documents",
    _table_dq_oracle("documents", _DOCS_COLS, _DQ_NOW),
    doc="Table-engine five-pillar DQ over the documents corpus — the "
    "same single-pass rule engine applied to a text table (validity "
    "from numeric sign, no date columns so accuracy is 1.0).",
)
def dq_table_scores_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dq import table_dq_long

    return table_dq_long(load_table(spark, sf_dir, "documents"), now=_DQ_NOW)


def _cu_oracle(table: str, cols: list[str]) -> str:
    aggs = ["count(*) AS total"]
    for c in cols:
        aggs.append(f"count(DISTINCT {c}) AS d_{c}")
        aggs.append(f"sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS n_{c}")
    selects = []
    for c in cols:
        comp = f"((total - n_{c})::DOUBLE / greatest(total, 1))"
        uniq = f"(d_{c}::DOUBLE / greatest(total, 1))"
        for pillar, expr in (("completeness", comp), ("uniqueness", uniq)):
            selects.append(
                f"""SELECT '{c}' AS column_name, '{pillar}' AS pillar,
                    round({expr}, 6) AS result,
                    CASE WHEN {expr} >= 0.95 THEN 'passed' ELSE 'failed' END AS status
                    FROM a"""
            )
    return f"WITH a AS (SELECT {', '.join(aggs)} FROM {table})\n" + "\nUNION ALL\n".join(selects)


@register(
    "dq_file_completeness_uniqueness_customer",
    _cu_oracle("customer", _PROFILE_CUSTOMER_COLS),
    doc="File-engine completeness + uniqueness rules with 0.95 pass/fail "
    "status (Data_Discovery_File.sql:217-273): the records of the file "
    "sweep's own profile pass.",
)
def dq_file_cu_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dq import completeness_uniqueness_long

    return completeness_uniqueness_long(load_table(spark, sf_dir, "customer"))


_SUPPLIER_NUMERIC = ["s_suppkey", "s_nationkey", "s_acctbal"]


def _zscore_oracle(table: str, cols: list[str]) -> str:
    aggs = []
    for c in cols:
        aggs += [f"avg({c}) AS m_{c}", f"stddev({c}) AS sd_{c}", f"count({c}) AS cnt_{c}"]
    outs = [
        f"sum(CASE WHEN abs({c} - st.m_{c}) > 3 * st.sd_{c} THEN 1 ELSE 0 END) AS out_{c}"
        for c in cols
    ]
    selects = [
        f"""SELECT '{c}' AS column_name,
            round(1.0 - out_{c}::DOUBLE / cnt_{c}, 6) AS result,
            CASE WHEN (1.0 - out_{c}::DOUBLE / cnt_{c}) >= 0.95
                 THEN 'passed' ELSE 'failed' END AS status
            FROM st, o"""
        for c in cols
    ]
    return (
        f"WITH st AS (SELECT {', '.join(aggs)} FROM {table}),\n"
        f"o AS (SELECT {', '.join(outs)} FROM {table}, st)\n"
        + "\nUNION ALL\n".join(selects)
    )


@register(
    "dq_zscore_accuracy_supplier",
    _zscore_oracle("supplier", _SUPPLIER_NUMERIC),
    doc="File-engine numeric accuracy: values beyond 3 sample-stddevs "
    "(Data_Discovery_File.sql:147-183). Two aggregate passes (the file "
    "sweep's profile, then outlier counts) instead of per-column scans.",
)
def dq_zscore_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dq import zscore_accuracy_long

    return zscore_accuracy_long(
        load_table(spark, sf_dir, "supplier"), _SUPPLIER_NUMERIC
    )


_CUSTOMER_STRINGS = ["c_name", "c_mktsegment"]


def _rare_oracle(table: str, cols: list[str]) -> str:
    selects = []
    for c in cols:
        inner = (
            f"SELECT count(*)::BIGINT AS cnt, "
            f"(SELECT count({c}) FROM {table})::BIGINT AS tot "
            f"FROM {table} WHERE {c} IS NOT NULL GROUP BY {c}"
        )
        expr = (
            "1.0 - coalesce(CAST(sum(CASE WHEN CAST(cnt AS DOUBLE) / tot "
            "< 0.01 THEN cnt ELSE 0 END) AS DOUBLE) / max(tot), 0)"
        )
        selects.append(
            f"""SELECT '{c}' AS column_name, round({expr}, 6) AS result,
                CASE WHEN ({expr}) >= 0.95 THEN 'passed' ELSE 'failed' END AS status
                FROM ({inner}) v_{c}"""
        )
    return "\nUNION ALL\n".join(selects)


@register(
    "dq_rare_value_accuracy_customer",
    _rare_oracle("customer", _CUSTOMER_STRINGS),
    doc="File-engine string accuracy: 1 - Σ freq(<1%) "
    "(Data_Discovery_File.sql:185-211). c_name is all-unique so the rule "
    "fails hard (score 0); c_mktsegment passes — both branches exercised.",
)
def dq_rare_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dq import rare_value_accuracy_long

    return rare_value_accuracy_long(
        load_table(spark, sf_dir, "customer"), _CUSTOMER_STRINGS
    )


_PART_COLS = ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"]


def _fd_oracle(table: str, cols: list[str]) -> str:
    selects = []
    for c1 in cols:
        for c2 in cols:
            if c1 == c2:
                continue
            selects.append(
                f"""SELECT '{c1}->{c2}' AS pair,
                    CAST(count(*) AS BIGINT) AS inconsistent_keys,
                    CASE WHEN count(*) = 0 THEN 1.0 ELSE 0.0 END AS result,
                    CASE WHEN count(*) = 0 THEN 'passed' ELSE 'failed' END AS status
                    FROM (SELECT {c1} FROM {table}
                          WHERE {c1} IS NOT NULL AND {c2} IS NOT NULL
                          GROUP BY {c1} HAVING count(DISTINCT {c2}) > 1) t"""
            )
    return "\nUNION ALL\n".join(selects)


@register(
    "dq_fd_consistency_part",
    _fd_oracle("part", _PART_COLS),
    doc="File-engine pairwise functional-dependency consistency "
    "(Data_Discovery_File.sql:97-143): all 30 ordered pairs of part "
    "columns, unioned into one Spark plan instead of O(cols²) scans.",
)
def dq_fd_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dq import fd_consistency_long

    return fd_consistency_long(load_table(spark, sf_dir, "part"), _PART_COLS)


# --------------------------------------------------------------------------
# PII detection + masking (SURVEY.md §2.11: F1-F6, PI1-PI2). The harness
# tables carry no real PII, so each query derives deterministic
# PII-shaped columns from customer keys, then detects/masks them — the
# expressions under test are the same ones security.py applies to real
# columns.
# --------------------------------------------------------------------------


def _pii_derived_sql() -> str:
    return """
        SELECT c_custkey,
               'user' || CAST(c_custkey AS VARCHAR) || '@example.com' AS email,
               lpad(CAST((c_custkey * 7919 + 13) % 10000000000 AS VARCHAR), 10, '0') AS phone,
               substr(a12, 1, 4) || ' ' || substr(a12, 5, 4) || ' ' || substr(a12, 9, 4) AS aadhaar,
               substr(c16, 1, 4) || '-' || substr(c16, 5, 4) || '-' ||
               substr(c16, 9, 4) || '-' || substr(c16, 13, 4) AS card
        FROM (
          SELECT c_custkey,
                 lpad(CAST((c_custkey * 37 + 11) % 1000000000000 AS VARCHAR), 12, '0') AS a12,
                 lpad(CAST((c_custkey * 101 + 7) % 10000000000000000 AS VARCHAR), 16, '0') AS c16
          FROM customer
        )
    """


def _pii_derived_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    key = F.col("c_custkey").cast("long")
    a12 = F.lpad(((key * 37 + 11) % F.lit(10**12)).cast("string"), 12, "0")
    c16 = F.lpad(((key * 101 + 7) % F.lit(10**16)).cast("string"), 16, "0")
    return cust.select(
        "c_custkey",
        F.concat(F.lit("user"), key.cast("string"), F.lit("@example.com")).alias("email"),
        F.lpad(((key * 7919 + 13) % F.lit(10**10)).cast("string"), 10, "0").alias("phone"),
        F.concat_ws(
            " ", F.substring(a12, 1, 4), F.substring(a12, 5, 4), F.substring(a12, 9, 4)
        ).alias("aadhaar"),
        F.concat_ws(
            "-",
            F.substring(c16, 1, 4),
            F.substring(c16, 5, 4),
            F.substring(c16, 9, 4),
            F.substring(c16, 13, 4),
        ).alias("card"),
    )


@register(
    "pii_mask_customer",
    f"""
    SELECT c_custkey,
           substr(email, 1, 1) || '***@' || split_part(email, '@', 2) AS email_masked,
           repeat('*', length(phone) - 4) || right(phone, 4)          AS phone_masked,
           'XXXX XXXX ' || right(aadhaar, 4)                          AS aadhaar_masked,
           'XXXX-XXXX-XXXX-' || right(card, 4)                        AS card_masked
    FROM ({_pii_derived_sql()}) d
    """,
    doc="F2-F5 masking expressions (Data_Security.sql:20-33 semantics) "
    "applied full-table as native Column expressions — narrow plan, no "
    "shuffle, no UDF. The Spark side uses the production mask_expr() "
    "builders (incl. the lookahead digit-star for phones); the oracle "
    "re-states each mask in portable SQL, so the test checks semantics, "
    "not shared syntax.",
)
def pii_mask_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.security import mask_expr

    d = _pii_derived_df(spark, sf_dir)
    return d.select(
        "c_custkey",
        mask_expr("email", "EMAIL").alias("email_masked"),
        mask_expr("phone", "PHONE").alias("phone_masked"),
        mask_expr("aadhaar", "AADHAAR").alias("aadhaar_masked"),
        mask_expr("card", "CREDIT_CARD").alias("card_masked"),
    )


def _pii_detect_oracle() -> str:
    from .operators.security import PII_PATTERNS

    selects = []
    for col in ("email", "phone", "aadhaar", "card"):
        for pii_type, pattern in PII_PATTERNS.items():
            selects.append(
                f"""SELECT '{col}' AS column_name, '{pii_type}' AS pii_type,
                    CAST(coalesce(sum(CASE WHEN regexp_matches({col}, '{pattern}')
                        THEN 1 END), 0) AS BIGINT) AS n_matches
                    FROM d"""
            )
    return f"WITH d AS ({_pii_derived_sql()})\n" + "\nUNION ALL\n".join(selects)


@register(
    "pii_detect_customer",
    _pii_detect_oracle(),
    doc="PI1 detection matrix: one aggregate pass evaluating every "
    "(column × PII pattern) predicate at once (vs the reference's "
    "per-column 100-value Python loop, Data_Security.sql:52-59). "
    "Patterns are RE2-safe so Spark rlike and DuckDB regexp_matches "
    "agree. Note AADHAAR values also match the (looser) PHONE pattern — "
    "faithful to first-match-wins detection ordering.",
)
def pii_detect_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.security import PII_PATTERNS

    d = _pii_derived_df(spark, sf_dir)
    structs = []
    wide = d.agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col(c).rlike(p), 1)), F.lit(0)
            ).cast("long").alias(f"{c}__{t}")
            for c in ("email", "phone", "aadhaar", "card")
            for t, p in PII_PATTERNS.items()
        ]
    )
    for c in ("email", "phone", "aadhaar", "card"):
        for t in PII_PATTERNS:
            structs.append(
                F.struct(
                    F.lit(c).alias("column_name"),
                    F.lit(t).alias("pii_type"),
                    F.col(f"{c}__{t}").alias("n_matches"),
                )
            )
    return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


@register(
    "pii_masking_report_customer",
    None,  # publish + markdown-diff side effects → rows-only check
    doc="PI4 end-to-end (Data_Security.sql:68-86): detect → mask full "
    "table → publish <table>_MASKED (managed overwrite) → markdown "
    "before/after diff report. Registry surface returns one row per "
    "masked column (column_name, pii_types, report status, non-empty "
    "previews) so the driver exercises the publish path; the report "
    "content itself is asserted in tests/test_security.py.",
)
def pii_masking_report_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.security import pii_masking_report

    d = _pii_derived_df(spark, sf_dir)
    report = pii_masking_report(spark, d, "PII_DEMO_CUSTOMER", save=True)
    rows = [
        (
            col,
            types,
            report["status"],
            report["masked_table"],
            bool(report["before_sample"]) and bool(report["after_sample"]),
        )
        for col, types in sorted(report["masked_columns"].items())
    ]
    return spark.createDataFrame(
        rows,
        "column_name STRING, pii_types STRING, status STRING, "
        "masked_table STRING, has_previews BOOLEAN",
    )


# --------------------------------------------------------------------------
# SCD1 incremental merge (SURVEY.md §2.12 G1, §2.5 W1, §2.3 J4)
# --------------------------------------------------------------------------

_SCD1_SRC_SQL = """
    SELECT o_orderkey, o_custkey, o_orderstatus,
           o_totalprice + 10.0 AS o_totalprice, o_orderdate, o_orderpriority,
           1 AS created_at
    FROM orders WHERE o_orderkey % 5 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus,
           o_totalprice + 20.0, o_orderdate, o_orderpriority, 2
    FROM orders WHERE o_orderkey % 5 = 0
    UNION ALL
    SELECT o_orderkey + 100000000, o_custkey, 'N',
           o_totalprice + 5.0, o_orderdate, o_orderpriority, 1
    FROM orders WHERE o_orderkey % 13 = 0
"""


def _scd1_source_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    upd = orders.filter(F.col("o_orderkey") % 5 == 0)
    v1 = upd.withColumn("o_totalprice", F.col("o_totalprice") + 10.0).withColumn(
        "created_at", F.lit(1)
    )
    v2 = upd.withColumn("o_totalprice", F.col("o_totalprice") + 20.0).withColumn(
        "created_at", F.lit(2)
    )
    new = (
        orders.filter(F.col("o_orderkey") % 13 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + 100000000)
        .withColumn("o_orderstatus", F.lit("N"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 5.0)
        .withColumn("created_at", F.lit(1))
    )
    return v1.unionByName(v2).unionByName(new)


@register(
    "scd1_merge_orders",
    f"""
    WITH src AS ({_SCD1_SRC_SQL}),
    latest AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             o_orderdate, o_orderpriority
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY o_orderkey ORDER BY created_at DESC
        ) AS rn FROM src
      ) WHERE rn = 1
    ),
    merged AS (
      SELECT o.* FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.o_orderkey = o.o_orderkey)
      UNION ALL
      SELECT * FROM latest
    )
    SELECT o_orderkey, o_custkey, o_orderstatus,
           round(o_totalprice, 2) AS o_totalprice, o_orderdate, o_orderpriority
    FROM merged
    """,
    doc="G1 SCD1 merge on the parquet fallback path: W1 dedup "
    "(latest-per-key by created_at) then anti-join + unionByName "
    "(CODE_GENERATOR.sql:39-59 contract). Source mixes duplicate-key "
    "updates (+10 then +20 — the +20 version must win), and brand-new keys. One "
    "shuffle per side on the business key; a small daily increment "
    "broadcasts under AQE so the 100 TB target never moves.",
)
def scd1_merge_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.scd import scd1_merge

    target = load_table(spark, sf_dir, "orders")
    source = _scd1_source_df(spark, sf_dir)
    merged = scd1_merge(target, source, ["o_orderkey"], order_col="created_at")
    return merged.withColumn("o_totalprice", F.round("o_totalprice", 2))


@register(
    "customer_order_analytics",
    """
    SELECT o_custkey, o_orderkey,
           round(o_totalprice, 2) AS price,
           round(o_totalprice - lag(o_totalprice) OVER w, 2) AS delta_prev,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS UNBOUNDED PRECEDING
           ), 2) AS running_total,
           CAST(rank() OVER (
             PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
           ) AS BIGINT) AS price_rank,
           round(o_totalprice
                 + coalesce(lag(o_totalprice, 1) OVER w, 0)
                 + coalesce(lag(o_totalprice, 2) OVER w, 0), 2) AS moving_sum3
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="Analytic window surface (SURVEY.md §2.5 commitment beyond "
    "W1): lag deltas, running totals, rank, and a 3-row moving average "
    "per customer — all over ONE shuffle on the partition key "
    "(moving 3-row sum via explicit lags: cross-engine-stable arithmetic) "
    "(Catalyst groups same-partitioning window specs into shared "
    "exchanges). Deterministic secondary sort on o_orderkey makes "
    "every function hash-stable.",
)
def customer_order_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    by_date = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = by_date.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # moving average via explicit lags, NOT a sliding-frame avg: frame
    # aggregates accumulate differently across engines (segment tree vs
    # recompute), flipping cent-rounding on boundary values
    lag1 = F.lag("o_totalprice", 1).over(by_date)
    lag2 = F.lag("o_totalprice", 2).over(by_date)
    # moving SUM, not avg: averaging 2-decimal prices creates exact
    # .xx5 values whose round() differs between Spark (BigDecimal
    # half-up) and DuckDB (scaled-double); sums of 2-decimal values
    # stay ~1e-9 from any rounding boundary
    moving_sum = (
        F.col("o_totalprice")
        + F.coalesce(lag1, F.lit(0.0))
        + F.coalesce(lag2, F.lit(0.0))
    )
    by_price = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("price"),
        F.round(
            F.col("o_totalprice") - F.lag("o_totalprice").over(by_date), 2
        ).alias("delta_prev"),
        F.round(F.sum("o_totalprice").over(running), 2).alias("running_total"),
        F.rank().over(by_price).cast("long").alias("price_rank"),
        F.round(moving_sum, 2).alias("moving_sum3"),
    )


@register(
    "supplier_balance_distribution",
    """
    SELECT s_suppkey,
           CAST(s_nationkey AS BIGINT) AS s_nationkey,
           round(s_acctbal, 2) AS acctbal,
           CAST(ntile(4) OVER w AS BIGINT) AS balance_quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           round(first_value(s_acctbal) OVER (
             PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 2) AS nation_max_bal,
           round(lead(s_acctbal) OVER w - s_acctbal, 2) AS gap_to_next
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
    """,
    doc="Distribution-analytics window surface completing §2.5: ntile "
    "quartiles, percent_rank, cume_dist, first_value (per-nation max "
    "via DESC ordering), and lead gaps — every ranking/distribution "
    "function over ONE shuffle on s_nationkey (both window specs share "
    "the partitioning; Catalyst re-sorts within partitions without "
    "re-exchanging). Deterministic tie-break on s_suppkey keeps ntile "
    "assignment hash-stable across engines.",
)
def supplier_balance_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    w_desc = (
        Window.partitionBy("s_nationkey")
        .orderBy(F.desc("s_acctbal"), F.asc("s_suppkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return sup.select(
        "s_suppkey",
        F.col("s_nationkey").cast("long").alias("s_nationkey"),
        F.round("s_acctbal", 2).alias("acctbal"),
        F.ntile(4).over(w).cast("long").alias("balance_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.round(F.first_value("s_acctbal").over(w_desc), 2).alias("nation_max_bal"),
        F.round(F.lead("s_acctbal").over(w) - F.col("s_acctbal"), 2).alias(
            "gap_to_next"
        ),
    )


_SCD2_ORACLE = """
    WITH cur AS (
      SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice AS amount,
             o_orderdate AS effective_from,
             CAST(NULL AS TIMESTAMP) AS effective_to, TRUE AS is_current
      FROM orders
    ),
    src AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
             o_totalprice + 50.0 AS amount, TIMESTAMP '1999-06-01' AS eff
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice, TIMESTAMP '1999-06-01'
      FROM orders WHERE o_orderkey % 11 = 0 AND o_orderkey % 7 <> 0
      UNION ALL
      SELECT o_orderkey + 200000000, 'N', o_totalprice, TIMESTAMP '1999-06-01'
      FROM orders WHERE o_orderkey % 13 = 0
    ),
    changed AS (
      SELECT c.k, c.status, c.amount, c.effective_from,
             s.status AS s_status, s.amount AS s_amount, s.eff
      FROM cur c JOIN src s ON c.k = s.k
      WHERE c.status IS DISTINCT FROM s.status
         OR c.amount IS DISTINCT FROM s.amount
    ),
    untouched AS (
      SELECT c.* FROM cur c
      WHERE NOT EXISTS (
        SELECT 1 FROM src s WHERE s.k = c.k
          AND (c.status IS DISTINCT FROM s.status
               OR c.amount IS DISTINCT FROM s.amount)
      )
    ),
    merged AS (
      SELECT * FROM untouched
      UNION ALL
      SELECT k, status, amount, effective_from, eff, FALSE FROM changed
      UNION ALL
      SELECT k, s_status, s_amount, eff, CAST(NULL AS TIMESTAMP), TRUE FROM changed
      UNION ALL
      SELECT s.k, s.status, s.amount, s.eff, CAST(NULL AS TIMESTAMP), TRUE
      FROM src s WHERE NOT EXISTS (SELECT 1 FROM cur c WHERE c.k = s.k)
    )
    SELECT k, status, round(amount, 2) AS amount, effective_from,
           effective_to, is_current
    FROM merged
"""


@register(
    "orders_snapshot_cdc_diff",
    """
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey % 89 <> 0
    ),
    new AS (
      SELECT o_orderkey,
             o_orderstatus,
             CASE WHEN o_orderkey % 97 = 0
                  THEN round(o_totalprice * 1.1, 2)
                  ELSE o_totalprice END AS o_totalprice
      FROM orders
      WHERE o_orderkey % 83 <> 0
    )
    SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS op,
           o.o_orderstatus AS o_orderstatus_old,
           round(o.o_totalprice, 2) AS o_totalprice_old,
           n.o_orderstatus AS o_orderstatus_new,
           round(n.o_totalprice, 2) AS o_totalprice_new
    FROM old o FULL OUTER JOIN new n USING (o_orderkey)
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
       OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
    """,
    doc="Change-data-capture snapshot diff (operators/scd.py::"
    "snapshot_diff) — the DETECTION complement of the SCD merges: two "
    "order snapshots (price bump on keys %97, keys %89 newly arrived, "
    "keys %83 gone) diffed into the insert/update/delete change stream "
    "a downstream incremental pipeline consumes when the source has no "
    "CDC log. One co-locatable full-outer key join; null-safe "
    "comparison so NULL transitions register; unchanged rows filter "
    "out before materializing. Oracle restates the diff as FULL OUTER "
    "+ IS DISTINCT FROM.",
)
def orders_snapshot_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.scd import snapshot_diff

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("o_totalprice")
    )
    old = orders.filter(F.col("o_orderkey") % 89 != 0)
    new = orders.filter(F.col("o_orderkey") % 83 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 97 == 0, F.round(F.col("o_totalprice") * 1.1, 2)
        ).otherwise(F.col("o_totalprice")),
    )
    return snapshot_diff(
        old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )


@register(
    "scd2_merge_orders",
    _SCD2_ORACLE,
    doc="SCD Type-2 history-preserving merge (the natural extension of "
    "G1): changed keys close their current version (effective_to = "
    "change time) and insert a new current one; unchanged keys pass "
    "untouched; new keys insert as current. Source mixes changed, "
    "identical (no-op), and brand-new keys so every branch is "
    "exercised. One source window + one key-join of current rows.",
)
def scd2_merge_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _scd2_merged_orders(spark, sf_dir)


def _scd2_merged_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.scd import scd2_merge

    orders = load_table(spark, sf_dir, "orders")
    eff = F.lit("1999-06-01 00:00:00").cast("timestamp")
    target = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("amount"),
        F.col("o_orderdate").alias("effective_from"),
        F.lit(None).cast("timestamp").alias("effective_to"),
        F.lit(True).alias("is_current"),
    )
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("amount"),
    )
    changed = base.filter(F.col("k") % 7 == 0).withColumn(
        "amount", F.col("amount") + 50.0
    )
    noop = base.filter((F.col("k") % 11 == 0) & (F.col("k") % 7 != 0))
    new = (
        base.filter(F.col("k") % 13 == 0)
        .withColumn("k", F.col("k") + 200000000)
        .withColumn("status", F.lit("N"))
    )
    source = (
        changed.unionByName(noop).unionByName(new).withColumn("created_at", eff)
    )
    merged = scd2_merge(
        target,
        source,
        keys=["k"],
        change_cols=["status", "amount"],
        effective_col="created_at",
    )
    return merged.withColumn("amount", F.round("amount", 2))


_SCD2_AS_OF_TS = ("1996-06-15 00:00:00", "1999-12-01 00:00:00")

_SCD2_AS_OF_ORACLE = "\nUNION ALL\n".join(
    f"""
    SELECT CAST('{ts}' AS TIMESTAMP) AS as_of, k, status, amount,
           effective_from
    FROM ({{dim}}) dim
    WHERE effective_from <= TIMESTAMP '{ts}'
      AND (effective_to IS NULL OR effective_to > TIMESTAMP '{ts}')
    """
    for ts in _SCD2_AS_OF_TS
).format(dim=_SCD2_ORACLE)


@register(
    "scd2_as_of_orders",
    _SCD2_AS_OF_ORACLE,
    doc="Point-in-time (time-travel) read over the SCD2 dimension "
    "(operators/scd.py::scd2_as_of): reconstruct the snapshot valid "
    "at T via the pure scan predicate from <= T < to — no shuffle, "
    "no window, because SCD2 validity intervals are disjoint per "
    "key. Two as-of dates straddle the merge's change time, so "
    "%7-keys appear once with their pre-change amount (1996) and "
    "once with the post-change one (1999-12) — the property time "
    "travel exists to provide. At 100 TB the dimension partitions "
    "on is_current + date-bucketed effective_from and the as-of "
    "read prunes to the candidate slice. Oracle restates both "
    "snapshots over the full merged-dimension CTE.",
)
def scd2_as_of_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = _scd2_merged_orders(spark, sf_dir)
    # both snapshots in ONE pass over the merged dimension: the as-of
    # timestamps ride in as a 2-row broadcast, the validity predicate
    # (operators/scd.py::scd2_as_of's contract, from <= t < to) filters
    # the crossed frame — a union of per-ts scd2_as_of() calls would
    # compute the merge once per timestamp
    ts_df = spark.createDataFrame(
        [(t,) for t in _SCD2_AS_OF_TS], "as_of_s STRING"
    ).select(F.col("as_of_s").cast("timestamp").alias("as_of"))
    t = F.col("as_of")
    return (
        dim.crossJoin(F.broadcast(ts_df))
        .filter(
            (F.col("effective_from") <= t)
            & (F.col("effective_to").isNull() | (F.col("effective_to") > t))
        )
        .select("as_of", "k", "status", "amount", "effective_from")
    )


@register(
    "referential_integrity_orders",
    """
    WITH child_keys AS (
      SELECT DISTINCT o_custkey AS k FROM orders WHERE o_custkey IS NOT NULL
    ),
    parent_keys AS (SELECT DISTINCT c_custkey AS k FROM customer),
    orphans AS (
      SELECT k FROM child_keys
      WHERE NOT EXISTS (SELECT 1 FROM parent_keys p WHERE p.k = child_keys.k)
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM child_keys)  AS n_child_keys,
           (SELECT CAST(count(*) AS BIGINT) FROM orphans)     AS n_orphan_keys,
           round(1.0 - (SELECT count(*) FROM orphans)::DOUBLE /
                 greatest((SELECT count(*) FROM child_keys), 1), 6) AS integrity_ratio
    """,
    doc="Cross-table consistency (the pillar the reference stubbed at "
    "1.0): orphan analysis of orders.o_custkey against "
    "customer.c_custkey via a distinct-key anti-join — the shuffle "
    "carries distinct keys, never rows.",
)
def referential_integrity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.integrity import referential_integrity

    return referential_integrity(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        "o_custkey",
        "c_custkey",
    )


@register(
    "events_rollup_type_day",
    """
    SELECT coalesce(event_type, 'ALL') AS event_type,
           coalesce(strftime(day, '%Y-%m-%d'), 'ALL') AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM (
      SELECT event_type, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             value
      FROM events
    ) GROUP BY ROLLUP (event_type, day)
    """,
    doc="Multi-dimensional profiling via ROLLUP (event_type, day): "
    "detail rows + per-type subtotals + grand total in one pass. "
    "Catalyst plans rollup as Expand(3 groupings) before a single "
    "shuffle — the multi-dim extension SURVEY.md §2.4 notes the "
    "reference never had. NULL grouping slots are labeled 'ALL' so the "
    "output is unambiguous (and hash-comparable).",
)
def events_rollup_type_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
        "value",
    )
    return (
        ev.rollup("event_type", "day")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            F.coalesce(F.date_format("day", "yyyy-MM-dd"), F.lit("ALL")).alias("day"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "customer_period_setops",
    """
    WITH early AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate < TIMESTAMP '1995-01-01 00:00:00'
    ),
    late AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    ),
    big AS (
      SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 350000
    )
    SELECT CAST(o_custkey AS BIGINT) AS o_custkey FROM (
      SELECT o_custkey FROM early
      INTERSECT
      SELECT o_custkey FROM late
      EXCEPT
      SELECT o_custkey FROM big
    )
    """,
    doc="Set operations (INTERSECT/EXCEPT — SURVEY.md §2.6 notes the "
    "reference has none; Spark supplies them): customers active in "
    "both halves of the date range minus big spenders. Catalyst "
    "rewrites both set ops to semi/anti joins over pre-aggregated "
    "(distinct) inputs — each leg shuffles only distinct keys.",
)
def customer_period_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1995-01-01 00:00:00").cast("timestamp")
    early = orders.filter(F.col("o_orderdate") < cutoff).select("o_custkey").distinct()
    late = orders.filter(F.col("o_orderdate") >= cutoff).select("o_custkey").distinct()
    big = orders.filter(F.col("o_totalprice") > 350000).select("o_custkey").distinct()
    return early.intersect(late).exceptAll(big)


_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _prio_alias(p: str) -> str:
    return "p" + p.split("-")[0] + "_" + p.split("-", 1)[1].lower().replace(" ", "_")


@register(
    "orders_priority_pivot",
    f"""
    SELECT o_orderstatus,
           {", ".join(
               f"CAST(count(*) FILTER (o_orderpriority = '{p}') AS BIGINT)"
               f" AS {_prio_alias(p)}"
               for p in _PRIORITIES
           )}
    FROM orders GROUP BY o_orderstatus
    """,
    doc="PIVOT: order counts per status, one column per priority. "
    "With the pivot values listed explicitly, Catalyst compiles this "
    "to ONE pass of conditional aggregates (count-if per value) — no "
    "second values-discovery job, no extra shuffle vs a plain groupBy; "
    "the oracle restates it as count(*) FILTER columns. Omitting the "
    "value list triggers a distinct-values job first — always "
    "enumerate pivot values in production.",
)
def orders_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    piv = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))  # count(*) star-expansion is rejected inside pivot
    )
    return piv.select(
        "o_orderstatus",
        *[F.coalesce(F.col(f"`{p}`"), F.lit(0)).cast("long").alias(_prio_alias(p))
          for p in _PRIORITIES],
    )


@register(
    "lineitem_cube_flag_status",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
           coalesce(l_linestatus, 'ALL') AS l_linestatus,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE (l_returnflag, l_linestatus): all 4 grouping sets — "
    "detail, both one-dimension margins, grand total — in one pass. "
    "Catalyst plans Expand(4 groupings) before a SINGLE shuffle; the "
    "alternative (4 separate groupBys unioned) scans the fact table 4 "
    "times. Expand multiplies pre-shuffle rows by the grouping count, "
    "so cube dimensions should stay low-cardinality at 100 TB — "
    "partial aggregation collapses them map-side.",
)
def lineitem_cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity"
    )
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("l_quantity").cast("long").alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "n_items",
            "sum_qty",
        )
    )


@register(
    "orders_grouping_sets",
    """
    SELECT coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
           coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
    doc="Explicit GROUPING SETS — the two one-dimension margins plus "
    "the grand total WITHOUT the detail rows a CUBE would add. "
    "Catalyst plans Expand(3 groupings) before one shuffle, same as "
    "rollup/cube; listing only the sets you need keeps the Expand "
    "multiplier (and the shuffle) minimal at 100 TB.",
)
def orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderstatus", "o_totalprice"
    )
    return (
        orders.groupingSets(
            [["o_orderpriority"], ["o_orderstatus"], []],
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
            "n_orders",
            "total_price",
        )
    )


@register(
    "nation_trade_flows",
    """
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2)
                AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lineitems
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey  = s.s_suppkey
    JOIN orders   o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey  = c.c_custkey
    JOIN nation  n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation  n2 ON c.c_nationkey = n2.n_nationkey
    WHERE n1.n_name <> n2.n_name
    GROUP BY 1, 2, 3
    """,
    doc="TPC-H-Q7-style cross-nation trade flow: revenue between every "
    "(supplier nation, customer nation) pair per year. Six-table join "
    "where BOTH fact-side dims (supplier via l_suppkey, customer via "
    "o_custkey) resolve to the same tiny nation table, aliased twice "
    "and broadcast twice — the only real shuffle is lineitem⋈orders "
    "on the orderkey, then one agg on three low-cardinality keys. "
    "Exercises Catalyst's join reordering + self-aliased dim reuse.",
)
def nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            # Exact decimal arithmetic: double sums are accumulation-order
            # dependent, and with 4k+ fine-grained groups some land on a
            # .005 rounding boundary; decimal sums are exact and
            # order-independent on both engines.
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,4)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)"))
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


@register(
    "customer_er_clusters",
    """
    WITH RECURSIVE c AS (
      SELECT c_custkey AS id, c_name AS name FROM customer WHERE c_custkey < 2000
    ),
    v AS (
      SELECT id, name,
             substr(name, 1, i - 1) || '_' || substr(name, i + 1) AS variant
      FROM c, unnest(range(1, len(name) + 1)) AS t(i)
    ),
    pairs AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM v a JOIN v b ON a.variant = b.variant AND a.id < b.id
      WHERE levenshtein(a.name, b.name) <= 1
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL SELECT id_b AS a, id_a AS b FROM pairs
    ),
    reach AS (
      SELECT a AS id, a AS r FROM edges
      UNION
      SELECT e.a AS id, reach.r FROM edges e JOIN reach ON reach.id = e.b
    ),
    comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
    assigned AS (
      SELECT c.id AS c_custkey,
             CAST(coalesce(p.cluster_id, c.id) AS BIGINT) AS cluster_id
      FROM c LEFT JOIN comp p ON p.id = c.id
    )
    SELECT c_custkey, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS cluster_size,
           CAST(c_custkey = cluster_id AS INT) AS is_rep
    FROM assigned
    """,
    doc="Entity resolution end-to-end: FastSS masked-variant blocking "
    "→ exact-levenshtein verification (the customer_fuzzy_match_pairs "
    "machinery) → connected components over the match pairs → one "
    "canonical representative (min id) per entity cluster. The master-"
    "data-management shape: at 100 TB the variant index is the only "
    "corpus-wide shuffle, CC runs over the match-pair edge list, and "
    "the survivor filter is id = cluster_id. Oracle restates CC as a "
    "recursive-CTE transitive closure.",
)
def customer_er_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from .operators.dedup import connected_components
    from .operators.entity import fuzzy_name_pairs

    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 2000)
        .select("c_custkey", "c_name")
    )
    pairs = fuzzy_name_pairs(cust)
    cc = connected_components(pairs, src="id_a", dst="id_b").withColumnRenamed(
        "id", "c_custkey"
    )
    assigned = (
        cust.select("c_custkey")
        .join(cc, "c_custkey", "left")
        .select(
            "c_custkey",
            F.coalesce("comp", F.col("c_custkey")).cast("long").alias("cluster_id"),
        )
    )
    w = Window.partitionBy("cluster_id")
    return assigned.select(
        "c_custkey",
        "cluster_id",
        F.count("*").over(w).cast("long").alias("cluster_size"),
        (F.col("c_custkey") == F.col("cluster_id")).cast("int").alias("is_rep"),
    )


@register(
    "customer_fuzzy_match_pairs",
    """
    WITH c AS (
      SELECT c_custkey AS id, c_name AS name FROM customer WHERE c_custkey < 2000
    ),
    v AS (
      SELECT id, name,
             substr(name, 1, i - 1) || '_' || substr(name, i + 1) AS variant
      FROM c, unnest(range(1, len(name) + 1)) AS t(i)
    )
    SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS lev
    FROM v a JOIN v b ON a.variant = b.variant AND a.id < b.id
    WHERE levenshtein(a.name, b.name) <= 1
    """,
    doc="Entity resolution via edit-distance blocking (FastSS "
    "deletion-neighborhood): names explode into position-masked "
    "variants, candidates come from ONE inverted-index equi-join on "
    "the variant (lossless for 1 substitution), exact levenshtein "
    "verifies candidates only — never an n² cross join. The pattern "
    "for fuzzy joins at 100 TB: candidate generation is linear in "
    "input x string length.",
)
def customer_fuzzy_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.entity import fuzzy_name_pairs

    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 2000)
    return fuzzy_name_pairs(cust)


@register(
    "promo_revenue_by_brand",
    """
    SELECT p.p_brand,
           CAST(round(sum(CASE WHEN p.p_type LIKE 'PROMO%'
                     THEN CAST(l.l_extendedprice AS DECIMAL(18,4))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,4)))
                     ELSE 0 END), 2) AS DOUBLE) AS promo_revenue,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2)
                AS DOUBLE) AS total_revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
    doc="TPC-H-Q14-style promo share: conditional (CASE-filtered) "
    "revenue vs total per brand over the lineitem-part join. part "
    "broadcasts (dimension); the CASE folds into the partial "
    "aggregate, so promo/total need ONE pass, not two filtered "
    "scans. Exact decimal sums keep 25-brand roundings "
    "accumulation-order independent.",
)
def promo_revenue_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,4)")
    )
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(promo), 2).cast("double").alias("promo_revenue"),
            F.round(F.sum(rev), 2).cast("double").alias("total_revenue"),
            F.count("*").alias("n_items"),
        )
    )


_HIST_BUCKETS = 20


@register(
    "orders_price_histogram",
    f"""
    WITH b AS (
      SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders
    ),
    bucketed AS (
      SELECT least({_HIST_BUCKETS - 1},
                   CAST(floor((o_totalprice - lo) / ((hi - lo) / {_HIST_BUCKETS}))
                        AS BIGINT)) AS bucket,
             o_totalprice, lo, hi
      FROM orders, b
    )
    SELECT bucket,
           round(min(lo) + bucket * ((min(hi) - min(lo)) / {_HIST_BUCKETS}), 2)
             AS bucket_lo,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_price
    FROM bucketed GROUP BY bucket
    """,
    doc="Equi-width histogram of order value: bounds from ONE 1-row "
    "min/max aggregate broadcast back (the gap-fill spine pattern), "
    "bucket assignment as a narrow expression, one aggregate on "
    f"{_HIST_BUCKETS} buckets. The distribution-profiling surface the "
    "reference's per-column stats never had; at 100 TB it is one scan "
    "+ one O(buckets) shuffle.",
)
def orders_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    b = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(_HIST_BUCKETS)
    bucket = F.least(
        F.lit(_HIST_BUCKETS - 1),
        F.floor((F.col("o_totalprice") - F.col("lo")) / width).cast("long"),
    )
    return (
        orders.crossJoin(F.broadcast(b))
        .select(bucket.alias("bucket"), "o_totalprice", "lo", "hi")
        .groupBy("bucket")
        .agg(
            F.round(
                F.min("lo")
                + F.col("bucket") * ((F.min("hi") - F.min("lo")) / F.lit(_HIST_BUCKETS)),
                2,
            ).alias("bucket_lo"),
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total_price"),
        )
    )


@register(
    "customers_above_avg_balance",
    """
    SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
    """,
    doc="Scalar-subquery filter: customers above the global mean "
    "balance. Catalyst plans the 1-row aggregate as a separate "
    "subquery stage whose result is injected into the filter — the "
    "fact side is scanned once with an ordinary comparison, no join. "
    "The uncorrelated-scalar-subquery surface of §2.2.",
)
def customers_above_avg_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    cust.createOrReplaceTempView("__cust_scalar")
    return spark.sql(
        """
        SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal
        FROM __cust_scalar
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM __cust_scalar)
        """
    )


@register(
    "lineitem_corr_profile",
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_covar,
           round(corr(l_discount, l_extendedprice), 4) AS disc_price_corr
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Bivariate profiling: Pearson correlation + sample covariance "
    "between measure columns per group — the relationship-discovery "
    "profile (quantity drives price; discount does not). Single-pass "
    "co-moment aggregates (mergeable partial state), one shuffle on "
    "the group key; completes the profiling family's univariate "
    "stats (§2.4 A4) with bivariate ones.",
)
def lineitem_corr_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias(
            "qty_price_corr"
        ),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "qty_price_covar"
        ),
        F.round(F.corr("l_discount", "l_extendedprice"), 4).alias(
            "disc_price_corr"
        ),
    )


@register(
    "orders_equidepth_histogram",
    """
    WITH b AS (
      SELECT round(quantile_cont(o_totalprice, 0.25), 6) AS q1,
             round(quantile_cont(o_totalprice, 0.50), 6) AS q2,
             round(quantile_cont(o_totalprice, 0.75), 6) AS q3
      FROM orders
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM (
      SELECT CASE WHEN o_totalprice <= q1 THEN 0
                  WHEN o_totalprice <= q2 THEN 1
                  WHEN o_totalprice <= q3 THEN 2
                  ELSE 3 END AS bucket,
             o_totalprice
      FROM orders, b
    ) t
    GROUP BY bucket
    """,
    doc="Equi-DEPTH histogram (quartile buckets) — the distribution "
    "profile equi-width misses on skewed columns: boundaries from ONE "
    "1-row exact-percentile aggregate broadcast back, then a narrow "
    "CASE bucket assignment and an O(buckets) shuffle. No global "
    "sort, no ntile window over the corpus. At 100 TB swap the exact "
    "percentile for approx_percentile (mergeable digest) — plan "
    "shape unchanged; exact interpolation here keeps both engines "
    "bit-identical.",
)
def orders_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_totalprice")
    b = orders.agg(
        *[
            F.round(
                F.expr(f"percentile(o_totalprice, {p})"), 6
            ).alias(name)
            for name, p in (("q1", 0.25), ("q2", 0.50), ("q3", 0.75))
        ]
    )
    bucket = (
        F.when(F.col("o_totalprice") <= F.col("q1"), 0)
        .when(F.col("o_totalprice") <= F.col("q2"), 1)
        .when(F.col("o_totalprice") <= F.col("q3"), 2)
        .otherwise(3)
    )
    return (
        orders.crossJoin(F.broadcast(b))
        .select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@register(
    "orders_monthly_growth",
    """
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             round(sum(o_totalprice), 2) AS revenue,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT month, revenue, n_orders,
           round(revenue - lag(revenue) OVER (ORDER BY month), 2) AS mom_change,
           round((revenue - lag(revenue) OVER (ORDER BY month))
                 / lag(revenue) OVER (ORDER BY month), 6) AS mom_pct
    FROM m
    """,
    doc="Month-over-month revenue growth: aggregate-then-window — the "
    "corpus collapses to O(months) rows in one partial-agg'd shuffle "
    "BEFORE the unpartitioned lag window touches it, so the global "
    "ordering sorts dozens of rows, not 100 TB. The ordering that "
    "makes single-partition windows scale-legal: never window the "
    "fact table, window the rollup.",
)
def orders_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return m.select(
        "month",
        "revenue",
        "n_orders",
        F.round(F.col("revenue") - prev, 2).alias("mom_change"),
        F.round((F.col("revenue") - prev) / prev, 6).alias("mom_pct"),
    )


@register(
    "customer_order_distribution",
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
        SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    ) t
    GROUP BY c_count
    """,
    doc="TPC-H-Q13-style order-count distribution: LEFT OUTER join with a "
    "join-side predicate (customers with zero qualifying orders must "
    "survive as c_count=0), per-customer count, then a histogram over the "
    "counts. The join and the first aggregate share the c_custkey "
    "partitioning, so Catalyst reuses the exchange — one real shuffle on "
    "custkey plus an O(distinct-counts) final shuffle; scale-safe.",
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    per_cust = (
        cust.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "small_quantity_order_revenue",
    """
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#23'
      AND l_quantity < (
          SELECT 0.2 * avg(l_quantity)
          FROM lineitem l2
          WHERE l2.l_partkey = lineitem.l_partkey
      )
    """,
    doc="TPC-H-Q17-style correlated-subquery filter (small-quantity "
    "orders below 20% of the part's average). The correlated subquery "
    "de-correlates to a per-partkey aggregate joined back on l_partkey — "
    "map-side partial avg, one shuffle, and the tiny filtered part dim "
    "broadcasts. No per-row re-scan, which is what the naive correlated "
    "plan would do at 100 TB.",
)
def small_quantity_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#23")
        .select("p_partkey")
    )
    part_avg = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("qty_limit")
    ).withColumnRenamed("l_partkey", "pa_partkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(part_avg, li.l_partkey == F.col("pa_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_limit"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@register(
    "large_volume_customers",
    """
    SELECT c_custkey, o_orderkey, o_orderdate,
           round(o_totalprice, 2) AS o_totalprice,
           round(sum(l_quantity), 2) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING sum(l_quantity) > 300
    )
    GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
    """,
    doc="TPC-H-Q18-style large-volume customers: IN-subquery over an "
    "aggregate becomes aggregate -> LEFT SEMI join on l_orderkey. The "
    "semi-join keeps only qualifying orders before the wide 3-table "
    "join, so the expensive customer join runs on the filtered ~1% "
    "of orders. Both lineitem passes shuffle on l_orderkey (exchange "
    "reuse), customer side broadcasts after the filter.",
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
        .select("l_orderkey")
    )
    return (
        li.join(big.withColumnRenamed("l_orderkey", "b_orderkey"),
                F.col("l_orderkey") == F.col("b_orderkey"), "left_semi")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .withColumn("o_totalprice", F.round("o_totalprice", 2))
        .select(
            "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "total_qty",
        )
    )


def pagerank_steps_sql(iters: int = 3, damping: float = 0.85) -> str:
    """Reusable CTE unroll of ``iters`` damped PageRank iterations —
    the k-means oracle pattern applied to link analysis. Expects CTEs
    ``nodes(node)``, ``nn(c)``, ``fr(src, dst, frac)`` and ``p0(node,
    pr)`` in scope; emits ``i1/p1 … iN/pN`` with the operator's
    per-iteration 9-decimal rounding, which keeps both engines
    bit-aligned above accumulation-order noise."""
    its = []
    prev = "p0"
    for t in range(1, iters + 1):
        its.append(f"""i{t} AS (
      SELECT f.dst, sum(f.frac * p.pr) AS inflow
      FROM fr f JOIN {prev} p ON p.node = f.src GROUP BY f.dst
    ),
    p{t} AS (
      SELECT n.node,
             round((1 - {damping}) / nn.c
                   + {damping} * coalesce(i.inflow, 0), 9) AS pr
      FROM nodes n CROSS JOIN nn
      LEFT JOIN i{t} i ON i.dst = n.node
    )""")
        prev = f"p{t}"
    return ",\n    ".join(its)


def _pagerank_oracle() -> str:
    steps = pagerank_steps_sql(3)
    return f"""
    WITH pairs AS (
      SELECT 'c' || o_custkey AS src, 's' || l_suppkey AS dst,
             count(*)::DOUBLE AS w
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT src, dst, w FROM pairs
      UNION ALL
      SELECT dst, src, w FROM pairs
    ),
    nodes AS (
      SELECT node FROM (
        SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges
      )
    ),
    nn AS (SELECT count(*)::DOUBLE AS c FROM nodes),
    ow AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
    fr AS (
      SELECT e.src, e.dst, e.w / o.ow AS frac
      FROM edges e JOIN ow o USING (src)
    ),
    p0 AS (SELECT node, round(1.0 / nn.c, 9) AS pr FROM nodes CROSS JOIN nn),
    {steps}
    SELECT node, round(pr, 6) AS pr FROM p3
    """


@register(
    "trade_graph_pagerank",
    _pagerank_oracle(),
    doc="Weighted PageRank (3 damped iterations) over the customer-"
    "supplier trade graph derived from lineitem JOIN orders "
    "(operators/graph.py::pagerank) - the iterative-sparse-matrix-"
    "vector family member beside k-means and connected components, "
    "and the corpus-curation centrality signal (rank documents by "
    "similarity-graph centrality) exercised here on a relational "
    "graph. The graph is a distributed EDGE LIST: one iteration = "
    "join ranks onto edges by source + groupBy destination (O(|E|) "
    "shuffled bytes/iter), ranks node-sized, no driver graph object. "
    "Deterministic via per-iteration 9-decimal rounding (the k-means "
    "contract); the oracle unrolls all three iterations in CTEs and "
    "hash-matches.",
)
def trade_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count("*").cast("double").alias("w"))
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
            "w",
        )
    )
    # persist: the mirror union references pairs twice, so the
    # lineitem-orders join+aggregate would otherwise execute twice
    # (pagerank's result is an eager checkpoint, so the release below
    # is safe)
    pairs = pairs.persist()
    edges = pairs.unionByName(
        pairs.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    )
    out = pagerank(edges, iters=3, weight_col="w")
    pairs.unpersist()
    return out



def _cosupplier_graph_sql(k: int = 10) -> str:
    """Shared oracle CTE prefix: the top-k-sparsified co-supplier
    graph. Suppliers are linked when they serve the same order;
    each node keeps its k strongest edges (weight desc, neighbor asc),
    then the kept arcs are symmetrized back to an undirected simple
    edge list e(a, b) with a < b — restating
    operators/graph.py::topk_cooccurrence_edges exactly."""
    return f"""
    bi AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem),
    co AS (
      SELECT x.s AS src, y.s AS dst, count(*)::DOUBLE AS w
      FROM bi x JOIN bi y ON x.ok = y.ok AND x.s < y.s
      GROUP BY 1, 2
    ),
    sym AS (
      SELECT src AS node, dst AS nbr, w FROM co
      UNION ALL
      SELECT dst AS node, src AS nbr, w FROM co
    ),
    kept AS (
      SELECT node, nbr FROM (
        SELECT node, nbr,
               row_number() OVER (PARTITION BY node ORDER BY w DESC, nbr ASC) AS rn
        FROM sym
      ) t WHERE rn <= {k}
    ),
    e AS (
      SELECT DISTINCT least(node, nbr) AS a, greatest(node, nbr) AS b FROM kept
    )"""


def _cosupplier_edges(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Spark side of :func:`_cosupplier_graph_sql`: same-order supplier
    co-occurrence weights, top-k sparsified. Built with the one-shuffle
    set-based pair generation (operators/graph.py::
    topk_cooccurrence_edges) — result-identical to the self-join +
    per-node top-k form the oracle CTE restates (the per-order supplier
    sets are ≤7 wide, so the in-task pair explosion is bounded)."""
    from .operators.graph import topk_cooccurrence_edges

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s")
    )
    return topk_cooccurrence_edges(li, "ok", "s", k=k)


@register(
    "supplier_graph_triangles",
    f"""
    WITH {_cosupplier_graph_sql(10)},
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tn AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y AS node FROM tri
      UNION ALL SELECT z AS node FROM tri
    )
    SELECT node, count(*) AS triangles FROM tn GROUP BY node
    """,
    doc="Exact per-node triangle counts over the top-10-sparsified "
    "co-supplier graph (operators/graph.py::triangle_count). The "
    "Spark plan uses the degree-ordered node-iterator — every edge "
    "oriented low-rank→high-rank under (degree, node), so wedge "
    "enumeration is O(|E|^1.5) worst-case instead of hub-quadratic "
    "Σdeg² — while the oracle enumerates the same triangle set with "
    "the naive a<b<c 3-way self-join (orientations differ, the "
    "triangle SET is identical — that equality is what the hash "
    "checks). Sparsification (E90's second half) bounds degree ≤ ~2k "
    "so the co-occurrence graph can't densify super-linearly at "
    "100 TB; the window and oracle QUALIFY restate the same "
    "deterministic (w desc, nbr asc) cutoff.",
)
def supplier_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import triangle_count

    return triangle_count(_cosupplier_edges(spark, sf_dir, k=10))


@register(
    "supplier_graph_adamic_adar",
    f"""
    WITH {_cosupplier_graph_sql(10)},
    half AS (
      SELECT a AS z, b AS nbr FROM e
      UNION ALL SELECT b AS z, a AS nbr FROM e
    ),
    dg AS (
      SELECT z, count(*) AS deg FROM half GROUP BY z HAVING count(*) >= 2
    ),
    adj AS (
      SELECT h.z, h.nbr,
             CAST(floor(1e9 / ln(d.deg)) AS BIGINT) AS term
      FROM half h JOIN dg d ON d.z = h.z
    ),
    pr AS (
      SELECT a1.nbr AS u, a2.nbr AS v,
             count(*) AS common_neighbors,
             sum(a1.term) AS aa_nano
      FROM adj a1 JOIN adj a2 ON a1.z = a2.z AND a1.nbr < a2.nbr
      GROUP BY 1, 2
    )
    SELECT u, v, common_neighbors,
           round(aa_nano / 1e9, 6) AS aa_score
    FROM pr
    WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = pr.u AND e.b = pr.v)
    """,
    doc="Adamic-Adar link prediction over the sparsified co-supplier "
    "graph (operators/graph.py::adamic_adar): for every non-adjacent "
    "supplier pair with ≥1 common neighbor, Σ 1/ln(deg z). One wedge "
    "self-join keyed on the common neighbor + one anti-join to drop "
    "existing edges; each 1/ln(deg) term floor-scales to integer "
    "nano-units so the sum is exact and order-independent (the "
    "integer-micro-unit contract the LM/BM25 entries use) — both "
    "engines agree hash-exactly with no float-accumulation tolerance. "
    "Hub wedges are pre-bounded here by the top-10 sparsification; on "
    "raw graphs the operator's max_hub_degree cap drops "
    "quadratic-cost hubs whose terms the score itself discounts to "
    "~0.",
)
def supplier_graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import adamic_adar

    return adamic_adar(_cosupplier_edges(spark, sf_dir, k=10)).select(
        F.col("u"),
        F.col("v"),
        "common_neighbors",
        "aa_score",
    )


def _labelprop_steps_sql(iters: int = 2) -> str:
    """CTE unroll of ``iters`` synchronous label-propagation rounds —
    the pagerank_steps_sql pattern with integer vote counts (no
    rounding contract needed). Expects ``sym(node, nbr)``, ``nodes``
    and ``l0(node, label)`` in scope; emits ``c1/w1/l1 … lN``."""
    its = []
    prev = "l0"
    for t in range(1, iters + 1):
        its.append(f"""c{t} AS (
      SELECT s.node, l.label, count(*) AS cnt
      FROM sym s JOIN {prev} l ON l.node = s.nbr
      GROUP BY s.node, l.label
    ),
    w{t} AS (
      SELECT node, label FROM c{t}
      QUALIFY row_number() OVER (
        PARTITION BY node ORDER BY cnt DESC, label ASC) = 1
    ),
    l{t} AS (
      SELECT n.node, coalesce(w.label, p.label) AS label
      FROM nodes n
      JOIN {prev} p ON p.node = n.node
      LEFT JOIN w{t} w ON w.node = n.node
    )""")
        prev = f"l{t}"
    return ",\n    ".join(its)


@register(
    "trade_graph_labelprop",
    f"""
    WITH pairs AS (
      SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    sym AS (
      SELECT src AS node, dst AS nbr FROM pairs
      UNION ALL
      SELECT dst AS node, src AS nbr FROM pairs
    ),
    nodes AS (SELECT DISTINCT node FROM sym),
    l0 AS (SELECT node, node AS label FROM nodes),
    {_labelprop_steps_sql(2)}
    SELECT node, label FROM l2
    """,
    doc="Community detection via synchronous label propagation (2 "
    "rounds, operators/graph.py::label_propagation) on the customer-"
    "supplier trade graph: every node starts as its own community and "
    "adopts its neighbors' most frequent previous-round label, ties to "
    "the smallest — the order-free deterministic LPA variant, so the "
    "oracle replays both rounds in CTEs and hash-matches with NO "
    "tolerance (votes are integers; the nondeterminism that plagues "
    "async LPA is designed out). Per round: one O(|E|) join + one "
    "(node,label)-sized count + one window — the same "
    "edge-list-iteration shape as PageRank/connected components.",
)
def trade_graph_labelprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import label_propagation

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
        .persist()  # label_propagation symmetrizes = two scans of pairs
    )
    out = label_propagation(pairs, iters=2)
    pairs.unpersist()
    return out


@register(
    "part_basket_rules",
    """
    WITH bi AS (
      SELECT DISTINCT l_orderkey AS bk, l_partkey AS item FROM lineitem
    ),
    isup AS (SELECT item, count(*) AS s FROM bi GROUP BY item),
    freq AS (SELECT item FROM isup WHERE s >= 2),
    fbi AS (SELECT bk, item FROM bi WHERE item IN (SELECT item FROM freq)),
    pr AS (
      SELECT x.item AS item_a, y.item AS item_b, count(*) AS support
      FROM fbi x JOIN fbi y ON x.bk = y.bk AND x.item < y.item
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    nb AS (SELECT count(DISTINCT bk)::DOUBLE AS n FROM bi)
    SELECT item_a, item_b, support,
           sa.s AS support_a, sb.s AS support_b,
           round(support * nb.n / (sa.s * sb.s), 6) AS lift
    FROM pr
    JOIN isup sa ON sa.item = pr.item_a
    JOIN isup sb ON sb.item = pr.item_b
    CROSS JOIN nb
    """,
    doc="Market-basket association rules over order→part baskets "
    "(operators/itemsets.py::frequent_pairs): unordered part pairs "
    "co-purchased in ≥2 orders, with per-item supports and lift. The "
    "Apriori antimonotonicity prune (a frequent pair needs both items "
    "frequent) runs as a broadcast semi-join BEFORE the quadratic "
    "per-basket expansion; the expansion is a self-equi-join on the "
    "order key, Σ|basket|² bounded by TPC-H's ≤7 lineitems per order "
    "(unbounded corpora use the operator's max_basket cutoff, which "
    "the oracle would restate). Supports are integer counts; lift is "
    "one rounded double division — hash-exact cross-engine.",
)
def part_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.itemsets import frequent_pairs

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("bk"), F.col("l_partkey").alias("item")
    )
    return frequent_pairs(
        li, basket_col="bk", item_col="item", min_support=2
    )


@register(
    "customer_rfm_segments",
    """
    WITH anchor AS (SELECT CAST(max(o_orderdate) AS DATE) AS d FROM orders),
    cust AS (
      SELECT o_custkey,
             CAST(max(o_orderdate) AS DATE) AS last_order,
             count(*) AS frequency,
             round(sum(o_totalprice), 2) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    base AS (
      SELECT c.c_custkey, c.c_nationkey,
             date_diff('day', t.last_order, a.d) AS recency_days,
             t.frequency, t.monetary
      FROM cust t
      JOIN customer c ON c.c_custkey = t.o_custkey
      CROSS JOIN anchor a
    )
    SELECT c_custkey, c_nationkey, recency_days, frequency, monetary,
           ntile(4) OVER (PARTITION BY c_nationkey
                          ORDER BY recency_days ASC, c_custkey ASC) AS r_q,
           ntile(4) OVER (PARTITION BY c_nationkey
                          ORDER BY frequency DESC, c_custkey ASC) AS f_q,
           ntile(4) OVER (PARTITION BY c_nationkey
                          ORDER BY monetary DESC, c_custkey ASC) AS m_q
    FROM base
    """,
    doc="RFM customer segmentation: per-customer recency (days from "
    "the corpus-pinned anchor = max order date), frequency, monetary, "
    "then quartile scores via ntile(4) PARTITIONED BY NATION — the "
    "within-market segmentation marketers actually use, and the thing "
    "that keeps the quartile sort distributed (a global ntile is a "
    "single-partition total sort; partitioned windows shuffle once on "
    "nation and sort each market in parallel). Ties broken by custkey "
    "so ntile's positional buckets are deterministic cross-engine; "
    "1 = best (most recent / most orders / highest spend).",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
        F.count("*").alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    anchor = orders.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("anchor_d")
    )
    base = (
        per_cust.join(cust, per_cust["o_custkey"] == cust["c_custkey"])
        .crossJoin(F.broadcast(anchor))
        .select(
            "c_custkey",
            "c_nationkey",
            F.datediff("anchor_d", "last_order").cast("long").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    by_nation = Window.partitionBy("c_nationkey")
    return base.select(
        "c_custkey",
        "c_nationkey",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(4)
        .over(by_nation.orderBy(F.col("recency_days").asc(), F.col("c_custkey").asc()))
        .alias("r_q"),
        F.ntile(4)
        .over(by_nation.orderBy(F.col("frequency").desc(), F.col("c_custkey").asc()))
        .alias("f_q"),
        F.ntile(4)
        .over(by_nation.orderBy(F.col("monetary").desc(), F.col("c_custkey").asc()))
        .alias("m_q"),
    )


@register(
    "nation_revenue_gini",
    """
    WITH rev AS (
      SELECT o_custkey,
             sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS x
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT c.c_nationkey, rev.x,
             row_number() OVER (
               PARTITION BY c.c_nationkey
               ORDER BY rev.x ASC, rev.o_custkey ASC
             ) AS rn
      FROM rev JOIN customer c ON c.c_custkey = rev.o_custkey
    )
    SELECT c_nationkey,
           count(*)::BIGINT AS n_customers,
           round(CAST(sum(x) AS DOUBLE) / 100, 2) AS total_revenue,
           round((2 * CAST(sum(rn * x) AS DOUBLE)
                  - (count(*) + 1) * CAST(sum(x) AS DOUBLE))
                 / (count(*) * CAST(sum(x) AS DOUBLE)), 6) AS gini
    FROM ranked GROUP BY c_nationkey
    """,
    doc="Revenue concentration per nation as a Gini coefficient over "
    "customer lifetime revenue: rank customers within their nation by "
    "revenue (custkey tiebreak), Gini = (2·Σ rank·x − (n+1)·Σx)/(n·Σx) "
    "— the discrete Lorenz form. The 2-decimal prices convert to EXACT "
    "centi-unit longs BEFORE any summation (per-customer revenue, "
    "Σx, Σ rank·x are all integer arithmetic; rank·x accumulates in "
    "decimal(38,0) so a mega-nation can't overflow int64), so both "
    "engines reach identical doubles in the two final divisions. The "
    "rank window partitions by nation — sorts stay distributed, no "
    "global total order (the scale trap a whole-corpus Gini would "
    "hit; that case bins revenue into a fixed histogram instead).",
)
def nation_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("x")
    )
    ranked = rev.join(cust, rev["o_custkey"] == cust["c_custkey"]).select(
        "c_nationkey",
        "x",
        F.row_number()
        .over(
            Window.partitionBy("c_nationkey").orderBy(
                F.col("x").asc(), F.col("o_custkey").asc()
            )
        )
        .alias("rn"),
    )
    n = F.count("*")
    sx = F.sum("x")
    sxi = F.sum(F.col("rn").cast("decimal(38,0)") * F.col("x"))
    return ranked.groupBy("c_nationkey").agg(
        n.alias("n_customers"),
        F.round(sx.cast("double") / 100, 2).alias("total_revenue"),
        F.round(
            (F.lit(2) * sxi.cast("double") - (n + F.lit(1)) * sx.cast("double"))
            / (n * sx.cast("double")),
            6,
        ).alias("gini"),
    )


def _bfs_steps_sql(iters: int = 3) -> str:
    """CTE unroll of ``iters`` BFS relaxation rounds (the
    pagerank/labelprop oracle pattern with integer distances). Expects
    ``symg(node, nbr)`` and ``d0(node, hops)`` in scope; emits
    ``r1/d1 … dN``."""
    its = []
    prev = "d0"
    for t in range(1, iters + 1):
        its.append(f"""r{t} AS (
      SELECT s.node, p.hops + 1 AS hops
      FROM symg s JOIN {prev} p ON p.node = s.nbr
      UNION ALL
      SELECT node, hops FROM {prev}
    ),
    d{t} AS (SELECT node, min(hops)::BIGINT AS hops FROM r{t} GROUP BY node)""")
        prev = f"d{t}"
    return ",\n    ".join(its)


@register(
    "supplier_graph_bfs_hops",
    f"""
    WITH {_cosupplier_graph_sql(10)},
    symg AS (
      SELECT a AS node, b AS nbr FROM e
      UNION ALL SELECT b AS node, a AS nbr FROM e
    ),
    d0 AS (
      SELECT DISTINCT s_suppkey AS node, 0::BIGINT AS hops
      FROM supplier WHERE s_nationkey = 0
    ),
    {_bfs_steps_sql(3)}
    SELECT node, hops FROM d3
    """,
    doc="Hop distance (≤3) from the nation-0 supplier seed set over "
    "the sparsified co-supplier graph (operators/graph.py::bfs_hops) — "
    "the k-hop-neighborhood audit primitive ('everything within N "
    "degrees of a flagged entity'). One O(|E|) frontier join + integer "
    "min-groupBy per round, localCheckpoint truncating lineage — the "
    "4th member of the edge-list iteration family (PageRank, LPA, "
    "connected components). Distances are exact integers; the oracle "
    "unrolls all 3 relaxations and hash-matches with no tolerance. "
    "Note seeds outside the graph still report hops=0 (the operator's "
    "contract: distance to the seed SET, graph membership not "
    "required).",
)
def supplier_graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import bfs_hops

    seeds = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") == 0)
        .select(F.col("s_suppkey").alias("node"))
    )
    return bfs_hops(
        _cosupplier_edges(spark, sf_dir, k=10), seeds, iters=3,
        src_col="a", dst_col="b",
    )


@register(
    "orders_benford_test",
    """
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders
    ),
    obs AS (SELECT digit, count(*)::BIGINT AS observed FROM digits GROUP BY digit),
    tot AS (SELECT sum(observed)::BIGINT AS n FROM obs)
    SELECT o.digit, o.observed,
           round(t.n * log10(1.0 + 1.0 / o.digit), 4) AS expected_n,
           round((o.observed - t.n * log10(1.0 + 1.0 / o.digit))
                 * (o.observed - t.n * log10(1.0 + 1.0 / o.digit))
                 / (t.n * log10(1.0 + 1.0 / o.digit)), 6) AS chi2_term
    FROM obs o CROSS JOIN tot t
    """,
    doc="Benford first-digit conformance test on order prices — the "
    "forensic-accounting DQ check (fabricated amounts rarely follow "
    "the log-uniform leading-digit law). The first significant digit "
    "comes from the STRING form of the exact centi-unit integer, not "
    "floor(x/10^floor(log10 x)) — the float-log route misclassifies "
    "exact powers of ten when log10 lands a hair under an integer. "
    "Observed counts are integers; each digit's (o−e)²/e is an "
    "independent double expression (no cross-term sum, so no "
    "accumulation-order hazard). One aggregate, 9 output rows.",
)
def orders_benford_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_totalprice")
    digits = orders.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit")
    )
    obs = digits.groupBy("digit").agg(F.count("*").alias("observed"))
    tot = obs.agg(F.sum("observed").alias("n"))
    e = F.col("n") * F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        "observed",
        F.round(e, 4).alias("expected_n"),
        F.round((F.col("observed") - e) * (F.col("observed") - e) / e, 6).alias(
            "chi2_term"
        ),
    )


@register(
    "part_abc_classification",
    """
    WITH rev AS (
      SELECT l.l_partkey AS partkey, p.p_brand,
             sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))::BIGINT
               AS cents
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT p_brand, partkey, cents,
             sum(cents) OVER (
               PARTITION BY p_brand
               ORDER BY cents DESC, partkey ASC
               ROWS UNBOUNDED PRECEDING
             ) AS cum,
             sum(cents) OVER (PARTITION BY p_brand) AS tot
      FROM rev
    )
    SELECT p_brand, partkey,
           round(cents / 100.0, 2) AS revenue,
           CASE WHEN cum * 10 <= tot * 7 THEN 'A'
                WHEN cum * 10 <= tot * 9 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
    """,
    doc="ABC inventory classification per brand: parts ranked by "
    "lineitem revenue within their brand, class A while the running "
    "share stays ≤70%, B to 90%, C after — the Pareto workhorse of "
    "supply-chain analytics. Revenue accumulates as EXACT centi-unit "
    "longs and the class boundaries are ALL-INTEGER comparisons "
    "(cum·10 ≤ tot·7), so no float share can straddle a boundary "
    "differently across engines. The running-share window PARTITIONS "
    "by brand (the same keep-the-sort-distributed move as RFM/Gini); "
    "tie-break on partkey makes the cumulative order total.",
)
def part_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy(F.col("l_partkey").alias("partkey"), "p_brand")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
            ).alias("cents")
        )
    )
    w_cum = (
        Window.partitionBy("p_brand")
        .orderBy(F.col("cents").desc(), F.col("partkey").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("p_brand")
    ranked = rev.select(
        "p_brand",
        "partkey",
        "cents",
        F.sum("cents").over(w_cum).alias("cum"),
        F.sum("cents").over(w_tot).alias("tot"),
    )
    return ranked.select(
        "p_brand",
        "partkey",
        F.round(F.col("cents") / 100.0, 2).alias("revenue"),
        F.when(F.col("cum") * 10 <= F.col("tot") * 7, "A")
        .when(F.col("cum") * 10 <= F.col("tot") * 9, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


@register(
    "order_fulfillment_latency",
    """
    WITH lat AS (
      SELECT o.o_orderpriority,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS d
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    hist AS (
      SELECT o_orderpriority, d, count(*)::BIGINT AS cnt
      FROM lat GROUP BY 1, 2
    ),
    cum AS (
      SELECT o_orderpriority, d, cnt,
             sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY d ASC
                            ROWS UNBOUNDED PRECEDING) AS c,
             sum(cnt) OVER (PARTITION BY o_orderpriority) AS n
      FROM hist
    )
    SELECT o_orderpriority,
           max(n)::BIGINT AS n_lineitems,
           min(CASE WHEN c * 2 >= n THEN d END) AS median_days,
           min(CASE WHEN c * 10 >= n * 9 THEN d END) AS p90_days
    FROM cum GROUP BY o_orderpriority
    """,
    doc="Order-to-ship fulfillment latency per priority class: median "
    "and p90 days between order date and lineitem ship date. "
    "Latencies are integer days, quantiles use the cumulative-"
    "histogram DISCRETE rank rule over per-priority day histograms "
    "(≤ distinct-days rows per group enter the window, never "
    "lineitem-sized data) — the operational SLA readout next to the "
    "TPC-H shipping-mode queries. Conditional-min finalization keeps "
    "the whole thing one aggregate after the histogram.",
)
def order_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lat = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).select(
        "o_orderpriority",
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).cast("long").alias("d"),
    )
    hist = lat.groupBy("o_orderpriority", "d").agg(F.count("*").alias("cnt"))
    w_cum = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.col("d").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("o_orderpriority")
    cum = hist.select(
        "o_orderpriority",
        "d",
        F.sum("cnt").over(w_cum).alias("c"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    return cum.groupBy("o_orderpriority").agg(
        F.max("n").alias("n_lineitems"),
        F.min(
            F.when(F.col("c") * 2 >= F.col("n"), F.col("d"))
        ).alias("median_days"),
        F.min(
            F.when(F.col("c") * 10 >= F.col("n") * 9, F.col("d"))
        ).alias("p90_days"),
    )


@register(
    "customer_ltv_cohorts",
    """
    WITH firsts AS (
      SELECT o_custkey,
             min(date_part('year', o_orderdate) * 12
                 + date_part('month', o_orderdate))::BIGINT AS cohort_m
      FROM orders GROUP BY o_custkey
    )
    SELECT f.cohort_m,
           (date_part('year', o.o_orderdate) * 12
            + date_part('month', o.o_orderdate))::BIGINT - f.cohort_m
             AS age_months,
           count(*)::BIGINT AS n_orders,
           count(DISTINCT o.o_custkey)::BIGINT AS n_customers,
           round(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) / 100.0, 2)
             AS revenue
    FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
    GROUP BY 1, 2
    """,
    doc="Cohort LTV matrix: revenue by (first-order month, months "
    "since first order) — the revenue-weighted companion of "
    "events_retention_cohorts. Cohort and age are INTEGER month "
    "indexes (year·12+month: no date-interval semantics to disagree "
    "on), revenue accumulates in exact centi-units, and the whole "
    "matrix is one first-order min-groupBy (customer-sized state) + "
    "one broadcastable join + one cohort×age aggregate.",
)
def customer_ltv_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    month_idx = (
        F.year("o_orderdate") * 12 + F.month("o_orderdate")
    ).cast("long")
    firsts = orders.groupBy("o_custkey").agg(
        F.min(month_idx).alias("cohort_m")
    )
    return (
        orders.join(F.broadcast(firsts), "o_custkey")
        .groupBy(
            "cohort_m", (month_idx - F.col("cohort_m")).alias("age_months")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.round(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0,
                2,
            ).alias("revenue"),
        )
    )


@register(
    "orders_backlog_curve",
    """
    WITH ship AS (
      SELECT l_orderkey AS ok, CAST(max(l_shipdate) AS DATE) AS done_d
      FROM lineitem GROUP BY l_orderkey
    ),
    deltas AS (
      SELECT CAST(o_orderdate AS DATE) AS d, 1 AS delta FROM orders
      UNION ALL
      SELECT s.done_d AS d, -1 AS delta
      FROM orders o JOIN ship s ON s.ok = o.o_orderkey
    ),
    daily AS (SELECT d, sum(delta)::BIGINT AS net FROM deltas GROUP BY d),
    curve AS (
      SELECT d, net,
             sum(net) OVER (ORDER BY d ASC ROWS UNBOUNDED PRECEDING) AS backlog
      FROM daily
    ),
    months AS (
      SELECT strftime(d, '%Y-%m') AS month, d, backlog,
             row_number() OVER (PARTITION BY strftime(d, '%Y-%m')
                                ORDER BY d DESC) AS rn
      FROM curve
    )
    SELECT month, strftime(d, '%Y-%m-%d') AS month_end,
           CAST(backlog AS BIGINT) AS open_orders
    FROM months WHERE rn = 1
    """,
    doc="Open-order backlog curve (month-end snapshots): each order "
    "contributes +1 on its order date and −1 on the day its LAST "
    "lineitem ships; the running sum of daily nets IS the number of "
    "in-flight orders — the event-delta formulation that computes a "
    "point-in-time inventory for EVERY day in one pass (the naive "
    "form re-counts 'placed ≤ t AND not shipped by t' per snapshot, "
    "O(days·orders)). The cumulative window runs over the DATE "
    "dimension (thousands of rows, never order-sized); deltas are "
    "integers — hash-exact. Orders with no lineitems stay open "
    "forever, which is exactly what an ops dashboard should show.",
)
def orders_backlog_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    ship = li.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.max(F.col("l_shipdate").cast("date")).alias("done_d")
    )
    opens = orders.select(
        F.col("o_orderdate").cast("date").alias("d"), F.lit(1).alias("delta")
    )
    closes = orders.join(ship, orders["o_orderkey"] == ship["ok"]).select(
        F.col("done_d").alias("d"), F.lit(-1).alias("delta")
    )
    daily = opens.unionByName(closes).groupBy("d").agg(
        F.sum("delta").alias("net")
    )
    w_cum = Window.orderBy(F.col("d").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    curve = daily.select(
        "d", F.sum("net").over(w_cum).alias("backlog")
    )
    month = F.date_format("d", "yyyy-MM")
    w_last = Window.partitionBy(month).orderBy(F.col("d").desc())
    return (
        curve.withColumn("month", month)
        .withColumn("rn", F.row_number().over(w_last))
        .filter(F.col("rn") == 1)
        .select(
            "month",
            F.date_format("d", "yyyy-MM-dd").alias("month_end"),
            F.col("backlog").cast("long").alias("open_orders"),
        )
    )


@register(
    "supplier_scorecard",
    """
    WITH perf AS (
      SELECT l.l_suppkey,
             count(*)::BIGINT AS n_lineitems,
             sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))::BIGINT
               AS cents,
             sum(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                     CAST(l.l_shipdate AS DATE)) <= 30
                      THEN 1 ELSE 0 END)::BIGINT AS on_time,
             sum(date_diff('day', CAST(o.o_orderdate AS DATE),
                           CAST(l.l_shipdate AS DATE)))::BIGINT AS lat_days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY l.l_suppkey
    )
    SELECT s.s_suppkey, s.s_nationkey,
           p.n_lineitems,
           round(p.cents / 100.0, 2) AS revenue,
           round(p.on_time / CAST(p.n_lineitems AS DOUBLE), 4) AS on_time_rate,
           round(p.lat_days / CAST(p.n_lineitems AS DOUBLE), 2)
             AS avg_latency_days,
           CAST(row_number() OVER (
             PARTITION BY s.s_nationkey
             ORDER BY p.cents DESC, s.s_suppkey ASC
           ) AS BIGINT) AS nation_rank
    FROM perf p JOIN supplier s ON s.s_suppkey = p.l_suppkey
    """,
    doc="Supplier scorecard: revenue, 30-day on-time ship rate, and "
    "mean order-to-ship latency per supplier, ranked by revenue "
    "WITHIN NATION (partitioned window — the RFM/Gini "
    "keep-the-sort-distributed move, suppkey tiebreak for a total "
    "order). Rates and means derive from integer counts / centi-unit "
    "/ day sums with one final division each — hash-exact. One "
    "fact-side aggregate (supplier-sized state), supplier dim joins "
    "after the heavy reduction, so the plan aggregates 6M lineitems "
    "down to 10k suppliers BEFORE touching the dimension.",
)
def supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    lat = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    perf = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_suppkey")
        .agg(
            F.count("*").alias("n_lineitems"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "cents"
            ),
            F.sum(F.when(lat <= 30, 1).otherwise(0)).alias("on_time"),
            F.sum(lat.cast("long")).alias("lat_days"),
        )
    )
    j = perf.join(F.broadcast(sup), perf["l_suppkey"] == sup["s_suppkey"])
    w = Window.partitionBy("s_nationkey").orderBy(
        F.col("cents").desc(), F.col("s_suppkey").asc()
    )
    return j.select(
        "s_suppkey",
        "s_nationkey",
        "n_lineitems",
        F.round(F.col("cents") / 100.0, 2).alias("revenue"),
        F.round(F.col("on_time") / F.col("n_lineitems").cast("double"), 4).alias(
            "on_time_rate"
        ),
        F.round(F.col("lat_days") / F.col("n_lineitems").cast("double"), 2).alias(
            "avg_latency_days"
        ),
        F.row_number().over(w).cast("long").alias("nation_rank"),
    )


# Extension entries (LLM text/dedup/similarity; event windows;
# multimodal; TPC-H-shape relational widening) register themselves on
# import; placed last so REGISTRY and helpers exist.
from . import queries_events, queries_layout, queries_llm, queries_tpch  # noqa: E402,F401  (registration side effect)


_FD_COLS = (
    "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
)


def _fd_key_sql(*cols: str) -> str:
    """NULL-safe composite key both engines derive identically —
    identical strings → identical distinct counts, collisions and all."""
    parts = [f"coalesce(CAST({c} AS VARCHAR), chr(1))" for c in cols]
    return " || '|' || ".join(parts)


def _fd_discovery_oracle() -> str:
    singles = ",\n             ".join(
        f"count(DISTINCT {_fd_key_sql(c)}) AS nd_{i}"
        for i, c in enumerate(_FD_COLS)
    )
    pairs = ",\n             ".join(
        f"count(DISTINCT {_fd_key_sql(a, b)}) AS np_{i}_{j}"
        for i, a in enumerate(_FD_COLS)
        for j, b in enumerate(_FD_COLS)
        if i != j
    )
    rows = ",\n      ".join(
        f"('{a}', '{b}', nd_{i}, np_{i}_{j})"
        for i, a in enumerate(_FD_COLS)
        for j, b in enumerate(_FD_COLS)
        if i != j
    )
    return f"""
    WITH s AS (
      SELECT {singles},
             {pairs}
      FROM customer
    )
    SELECT det_col, dep_col,
           CAST(n_det AS BIGINT) AS n_det,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(n_pairs - n_det AS BIGINT) AS violations,
           CAST(n_pairs = n_det AS INT) AS fd_holds
    FROM s, (VALUES
      {rows}
    ) AS v(det_col, dep_col, n_det, n_pairs)
    """


@register(
    "customer_fd_discovery",
    _fd_discovery_oracle(),
    doc="Functional-dependency DISCOVERY across every ordered column "
    "pair of customer (5×4 candidates): A→B holds iff "
    "|distinct(A,B)| = |distinct A|, violations = the difference — "
    "the profiling pass that FINDS the FDs dq_fd_consistency_part "
    "then monitors. All 25 distinct-counts run in ONE aggregate scan "
    "(Catalyst Expand — fine at audit scale; at 100 TB swap "
    "approx_count_distinct per pair, same algebra, documented "
    "tolerance). Composite keys are NULL-safe string derivations "
    "computed IDENTICALLY in both engines, so distinct counts match "
    "exactly, collisions included. c_custkey→* all hold (it's the "
    "key) — the expected discovery a correct implementation must "
    "make.",
)
def customer_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")

    def key(*cols: str):
        return F.concat_ws(
            "|", *[F.coalesce(F.col(c).cast("string"), F.lit("\x01")) for c in cols]
        )

    aggs = []
    for i, c in enumerate(_FD_COLS):
        aggs.append(F.countDistinct(key(c)).alias(f"nd_{i}"))
    for i, a in enumerate(_FD_COLS):
        for j, b in enumerate(_FD_COLS):
            if i != j:
                aggs.append(F.countDistinct(key(a, b)).alias(f"np_{i}_{j}"))
    wide = cust.agg(*aggs)
    structs = [
        F.struct(
            F.lit(a).alias("det_col"),
            F.lit(b).alias("dep_col"),
            F.col(f"nd_{i}").alias("n_det"),
            F.col(f"np_{i}_{j}").alias("n_pairs"),
        )
        for i, a in enumerate(_FD_COLS)
        for j, b in enumerate(_FD_COLS)
        if i != j
    ]
    return wide.select(F.explode(F.array(*structs)).alias("r")).select(
        F.col("r.det_col").alias("det_col"),
        F.col("r.dep_col").alias("dep_col"),
        F.col("r.n_det").alias("n_det"),
        F.col("r.n_pairs").alias("n_pairs"),
        (F.col("r.n_pairs") - F.col("r.n_det")).alias("violations"),
        (F.col("r.n_pairs") == F.col("r.n_det")).cast("int").alias("fd_holds"),
    )


@register(
    "brand_return_rate_outliers",
    """
    WITH br AS (
      SELECT p.p_brand,
             count(*)::BIGINT AS n,
             sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT
               AS r
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY p.p_brand
    ),
    g AS (SELECT sum(n)::BIGINT AS gn, sum(r)::BIGINT AS gr FROM br)
    SELECT b.p_brand, b.n AS n_lineitems,
           round(b.r / CAST(b.n AS DOUBLE), 6) AS return_rate,
           round(g.gr / CAST(g.gn AS DOUBLE), 6) AS corpus_rate,
           round((b.r / CAST(b.n AS DOUBLE) - g.gr / CAST(g.gn AS DOUBLE))
                 / sqrt((g.gr / CAST(g.gn AS DOUBLE))
                        * (1 - g.gr / CAST(g.gn AS DOUBLE)) / b.n), 4) AS z,
           CAST(abs((b.r / CAST(b.n AS DOUBLE) - g.gr / CAST(g.gn AS DOUBLE))
                    / sqrt((g.gr / CAST(g.gn AS DOUBLE))
                           * (1 - g.gr / CAST(g.gn AS DOUBLE)) / b.n)) >= 2
                AS INT) AS outlier_flag
    FROM br b CROSS JOIN g
    """,
    doc="Brand return-rate outliers: each brand's share of 'R' "
    "lineitems one-proportion z-tested against the corpus rate "
    "(binomial null: p̂ vs p₀ with σ = √(p₀(1−p₀)/n)), |z| ≥ 2 flags "
    "— the quality-escalation readout (which brands come back "
    "significantly more often than the business as a whole). All "
    "inputs are integer counts; every emitted value is a single "
    "arithmetic expression over them — hash-exact. One fact aggregate "
    "to brand-sized state + one broadcast 1-row corpus total.",
)
def brand_return_rate_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    br = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("r"),
        )
    )
    g = br.agg(F.sum("n").alias("gn"), F.sum("r").alias("gr"))
    p_hat = F.col("r") / F.col("n").cast("double")
    p0 = F.col("gr") / F.col("gn").cast("double")
    z = (p_hat - p0) / F.sqrt(p0 * (1 - p0) / F.col("n"))
    return br.crossJoin(F.broadcast(g)).select(
        "p_brand",
        F.col("n").alias("n_lineitems"),
        F.round(p_hat, 6).alias("return_rate"),
        F.round(p0, 6).alias("corpus_rate"),
        F.round(z, 4).alias("z"),
        (F.abs(z) >= 2).cast("int").alias("outlier_flag"),
    )


@register(
    "part_pareto_frontier",
    """
    SELECT p.p_partkey, round(p.p_retailprice, 2) AS price,
           p.p_size AS size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice
        AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    """,
    doc="2-D Pareto frontier (skyline) over parts: every part not "
    "dominated on (cheaper price, larger size) by any other part "
    "(operators/skyline.py::pareto_frontier_2d). The oracle states "
    "the DEFINITION — an O(n²) NOT EXISTS anti-join — while the "
    "Spark plan is the sorted-scan equivalence run as a segmented "
    "scan: groupBy(x).max(y) collapses to one candidate per distinct "
    "price, a bucket-partitioned window takes the within-bucket "
    "strict-prefix max, and the B per-bucket maxima fold driver-side "
    "into an exclusive-prefix-max CASE carry — no single-partition "
    "global window, no all-pairs join, comparisons only (bit-exact "
    "across engines). Survivor heights broadcast back as a semi-join. "
    "No reference counterpart (north-star preference-query "
    "extension).",
)
def part_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.skyline import pareto_frontier_2d

    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    return pareto_frontier_2d(part, "p_retailprice", "p_size").select(
        "p_partkey",
        F.round("p_retailprice", 2).alias("price"),
        F.col("p_size").alias("size"),
    )


def _kcore_steps_sql(k: int, rounds: int) -> str:
    """Unrolled k-core peeling rounds (oracle mirror of
    operators/graph.py::kcore): s0/d0 = symmetrized edges + degrees,
    each round filters to >= k survivors and recomputes degrees."""
    parts = [
        """s0 AS (
      SELECT a AS node, b AS nbr FROM e
      UNION ALL SELECT b AS node, a AS nbr FROM e
    ),
    d0 AS (SELECT node, count(*) AS deg FROM s0 GROUP BY node)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""a{r - 1} AS (SELECT node FROM d{r - 1} WHERE deg >= {k}),
    s{r} AS (
      SELECT s.node, s.nbr FROM s{r - 1} s
      WHERE s.node IN (SELECT node FROM a{r - 1})
        AND s.nbr IN (SELECT node FROM a{r - 1})
    ),
    d{r} AS (SELECT node, count(*) AS deg FROM s{r} GROUP BY node)"""
        )
    return ",\n    ".join(parts)


@register(
    "part_copurchase_kcore",
    f"""
    WITH bi AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS s FROM lineitem
    ),
    e AS (
      SELECT x.s AS a, y.s AS b
      FROM bi x JOIN bi y ON x.ok = y.ok AND x.s < y.s
      GROUP BY 1, 2
    ),
    {_kcore_steps_sql(70, 3)}
    SELECT node, deg FROM d3 WHERE deg >= 70
    """,
    doc="70-core of the part co-purchase graph (parts sharing >= 1 "
    "order; operators/graph.py::kcore): 3 fixed synchronous peeling "
    "rounds of 'drop nodes with degree < 70 in the surviving "
    "subgraph', emitting survivors with their final-subgraph degree "
    "— the cohesion filter that isolates the densely co-bought "
    "assortment core (and, on similarity graphs, spam farms). Fixed "
    "round count keeps the computation oracle-unrollable "
    "(run-to-convergence is data-dependent); each round is one "
    "O(|E|) degree groupBy + two semi-joins on the shrinking alive "
    "set, lineage cut per round with eager localCheckpoints — the "
    "same iterative edge-list contract as PageRank/LPA/BFS. Integer "
    "degrees, comparisons only — hash-exact.",
)
def part_copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import cooccurrence_pairs, kcore

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("s")
    )
    # set-based pair generation == the deduplicated self-join on ok
    # (guide §2.4: one groupBy shuffle instead of distinct + join)
    edges = cooccurrence_pairs(li, "ok", "s").distinct()
    return kcore(edges, k=70, rounds=3)


@register(
    "orders_replica_reconcile",
    """
    WITH src AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CAST(o_orderdate AS VARCHAR) AS od,
             substr(md5('rec|' || CAST(o_orderkey AS VARCHAR)), 1, 3) AS pd
      FROM orders
    ),
    lft AS (SELECT * FROM src),
    rgt AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
             cents + CASE WHEN pd = '000' THEN 1 ELSE 0 END AS cents, od
      FROM src WHERE pd <> 'fff'
    ),
    lc AS (
      SELECT CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
                  % 64 AS INT) AS bucket,
             count(*)::BIGINT AS n_rows,
             bit_xor(('0x' || substr(md5(
                    CAST(o_orderkey AS VARCHAR) || '|' ||
                    CAST(o_custkey AS VARCHAR) || '|' ||
                    o_orderstatus || '|' || o_orderpriority || '|' ||
                    CAST(cents AS VARCHAR) || '|' || od
                  ), 1, 15))::BIGINT)::BIGINT AS checksum
      FROM lft GROUP BY 1
    ),
    rc AS (
      SELECT CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
                  % 64 AS INT) AS bucket,
             count(*)::BIGINT AS n_rows,
             bit_xor(('0x' || substr(md5(
                    CAST(o_orderkey AS VARCHAR) || '|' ||
                    CAST(o_custkey AS VARCHAR) || '|' ||
                    o_orderstatus || '|' || o_orderpriority || '|' ||
                    CAST(cents AS VARCHAR) || '|' || od
                  ), 1, 15))::BIGINT)::BIGINT AS checksum
      FROM rgt GROUP BY 1
    )
    SELECT coalesce(l.bucket, r.bucket) AS bucket,
           coalesce(l.n_rows, 0)::BIGINT AS left_rows,
           coalesce(r.n_rows, 0)::BIGINT AS right_rows,
           coalesce(l.checksum, 0)::BIGINT AS left_sum,
           coalesce(r.checksum, 0)::BIGINT AS right_sum,
           CAST(coalesce(l.n_rows, 0) <> coalesce(r.n_rows, 0)
                OR coalesce(l.checksum, 0) <> coalesce(r.checksum, 0)
                AS INT) AS is_diff
    FROM lc l FULL OUTER JOIN rc r ON l.bucket = r.bucket
    """,
    doc="Merkle-style replica reconciliation "
    "(operators/integrity.py::bucket_checksums/reconcile_tables): "
    "both copies of orders collapse to 64 (bucket, count, "
    "Σ 60-bit-md5-row-fingerprint) digests — bucket by md5(key), "
    "fingerprint over a canonical '|'-joined string with the price "
    "pre-scaled to integer cents (the engine-identical-cast "
    "contract), BIT_XOR fold (order-independent, overflow-free "
    "where a 60-bit SUM overflows at 8 rows) — and a full-outer "
    "digest join flags differing "
    "buckets. The 'replica' is this same table deterministically "
    "perturbed (md5-selected ~1/4096 of keys price-shifted one "
    "cent, ~1/4096 deleted — a realistic silent-corruption rate), "
    "so the report shows the real shape: a handful of diff buckets "
    "against a mostly-green board, exercising both count and "
    "checksum flag paths. At "
    "100 TB this is how you verify a copy without moving it: B rows "
    "per side cross the wire, and only diff buckets ever need the "
    "row-level CDC diff (orders_snapshot_cdc_diff). No sort "
    "anywhere — hash-exact.",
)
def orders_replica_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.integrity import reconcile_tables

    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_orderdate").cast("string").alias("od"),
        F.substring(
            F.md5(F.concat(F.lit("rec|"), F.col("o_orderkey").cast("string"))),
            1,
            3,
        ).alias("pd"),
    )
    left = src.drop("pd")
    right = (
        src.filter(F.col("pd") != "fff")
        .withColumn(
            "cents",
            F.col("cents")
            + F.when(F.col("pd") == "000", F.lit(1)).otherwise(F.lit(0)),
        )
        .drop("pd")
    )
    return reconcile_tables(
        left,
        right,
        "o_orderkey",
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "cents", "od"],
        n_buckets=64,
    )


def _boot_consts_values(b: int) -> str:
    """The per-replicate affine constants as a SQL VALUES table —
    read from the SAME Python source as the Spark operator
    (operators/bootstrap.py::boot_perm_consts), so the engines
    cannot drift."""
    from .operators.bootstrap import boot_perm_consts

    return ", ".join(
        f"({r}, {a}::BIGINT, {c}::BIGINT, {d}::BIGINT)"
        for r, (a, c, d) in enumerate(boot_perm_consts(b))
    )


_BOOT_U15_SQL = "(((a * h0a + c * h0b + d) % 1073741789) & 32767)"


def _bootstrap_oracle(b: int = 200) -> str:
    from .operators.bootstrap import poisson_case_sql

    lo_rn = -(-b * 25 // 1000)  # ceil(0.025 b)
    hi_rn = -(-b * 975 // 1000)
    return f"""
    WITH src AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    dg AS (
      SELECT k, cents,
             ('0x' || substr(md5(CAST(k AS VARCHAR) || '|boot'),
                             1, 15))::BIGINT % 1073741824 AS h0a,
             ('0x' || substr(md5(CAST(k AS VARCHAR) || '|boot'),
                             16, 15))::BIGINT % 1073741824 AS h0b
      FROM src
    ),
    w AS (
      SELECT r, cents, {poisson_case_sql(_BOOT_U15_SQL)} AS w
      FROM dg, (VALUES {_boot_consts_values(b)}) consts(r, a, c, d)
    ),
    m AS (
      SELECT r, sum(w * cents)::BIGINT AS swx, sum(w)::BIGINT AS sw
      FROM w GROUP BY r
    ),
    means AS (
      SELECT r, swx / CAST(sw AS DOUBLE) AS mean FROM m WHERE sw > 0
    ),
    ranked AS (
      SELECT mean, row_number() OVER (ORDER BY mean, r) AS rn FROM means
    )
    SELECT (SELECT count(*) FROM src)::BIGINT AS n_rows,
           CAST({b} AS BIGINT) AS b,
           (SELECT round(sum(cents) / CAST(count(*) AS DOUBLE) / 100, 4)
            FROM src) AS mean_price,
           (SELECT round(mean / 100, 4) FROM ranked WHERE rn = {lo_rn})
             AS ci_lo,
           (SELECT round(mean / 100, 4) FROM ranked WHERE rn = {hi_rn})
             AS ci_hi
    """


# Shared bootstrap sufficient statistics: the global and per-priority
# CI entries consume the SAME (group, replicate) integer partials (the
# Poisson draws are a pure function of the row key, and the global
# aggregate is the exact integer sum of the per-group ones), so compute
# the grouped pass once per (process, sf_dir) — the ANN fit-memo
# pattern; entries stay standalone-correct on a cold process. Collected
# state is priorities × B rows of longs (driver metadata).
_BOOT_PARTIALS: dict = {}


def _orders_boot_partials(spark: SparkSession, sf_dir: str):
    if sf_dir not in _BOOT_PARTIALS:
        from .operators.bootstrap import grouped_replicate_partials

        src = load_table(spark, sf_dir, "orders").select(
            "o_orderpriority",
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        _BOOT_PARTIALS[sf_dir] = grouped_replicate_partials(
            src, "o_orderpriority", "o_orderkey", "cents", b=200
        )
    return _BOOT_PARTIALS[sf_dir]


@register(
    "orders_bootstrap_mean_ci",
    _bootstrap_oracle(200),
    doc="Percentile-bootstrap 95% CI for the mean order price via the "
    "POISSON bootstrap (operators/bootstrap.py) — the resampling "
    "method that works at 100 TB: instead of B index-resampled "
    "passes, every row carries B=200 deterministic Poisson(1) "
    "weights (ONE md5 per row -> 30-bit base pair -> per-replicate "
    "affine-universal 15-bit uniforms through an integer-threshold "
    "inverse CDF; the MinHash one-digest construction) and all "
    "replicates accumulate in ONE Arrow pass that reduces each batch "
    "to its (group, replicate) integer partials, so the B× fanout "
    "never materializes as rows — the shuffle carries B x partitions "
    "rows and the percentile rule runs over B driver-side rows "
    "(integer rank rule, replicate-id tiebreak). "
    "Prices pre-scaled to integer cents so weighted partial sums are "
    "exact — hash-exact against an oracle that restates the full "
    "draw-weight-fold chain.",
)
def orders_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.bootstrap import global_ci_from_partials

    per, totals = _orders_boot_partials(spark, sf_dir)
    n, mean, lo, hi = global_ci_from_partials(per, totals, b=200, alpha=0.05)
    # final rounding via F.round (HALF_UP, matches SQL round) — Python's
    # round() is banker's and diverges on exact .5 ties
    return spark.createDataFrame(
        [(n, 200, mean / 100, lo / 100, hi / 100)],
        "n_rows BIGINT, b BIGINT, mean_price DOUBLE, ci_lo DOUBLE, ci_hi DOUBLE",
    ).select(
        "n_rows", "b",
        F.round("mean_price", 4).alias("mean_price"),
        F.round("ci_lo", 4).alias("ci_lo"),
        F.round("ci_hi", 4).alias("ci_hi"),
    )


def _group_bootstrap_oracle(b: int = 200) -> str:
    from .operators.bootstrap import poisson_case_sql

    lo_rn = -(-b * 25 // 1000)
    hi_rn = -(-b * 975 // 1000)
    return f"""
    WITH src AS (
      SELECT o_orderpriority AS g, o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    dg AS (
      SELECT g, cents,
             ('0x' || substr(md5(CAST(k AS VARCHAR) || '|boot'),
                             1, 15))::BIGINT % 1073741824 AS h0a,
             ('0x' || substr(md5(CAST(k AS VARCHAR) || '|boot'),
                             16, 15))::BIGINT % 1073741824 AS h0b
      FROM src
    ),
    w AS (
      SELECT g, r, cents, {poisson_case_sql(_BOOT_U15_SQL)} AS w
      FROM dg, (VALUES {_boot_consts_values(b)}) consts(r, a, c, d)
    ),
    m AS (
      SELECT g, r, sum(w * cents)::BIGINT AS swx, sum(w)::BIGINT AS sw
      FROM w GROUP BY g, r
    ),
    means AS (
      SELECT g, r, swx / CAST(sw AS DOUBLE) AS mean FROM m WHERE sw > 0
    ),
    ranked AS (
      SELECT g, mean,
             row_number() OVER (PARTITION BY g ORDER BY mean, r) AS rn,
             count(*) OVER (PARTITION BY g) AS nb
      FROM means
    ),
    tot AS (
      SELECT g, count(*)::BIGINT AS n_rows,
             round(sum(cents) / CAST(count(*) AS DOUBLE) / 100, 4)
               AS mean_price
      FROM src GROUP BY g
    )
    SELECT t.g AS o_orderpriority, t.n_rows, t.mean_price,
           lo.m AS ci_lo, hi.m AS ci_hi
    FROM tot t
    JOIN (SELECT g, round(mean / 100, 4) AS m FROM ranked
          WHERE rn = {lo_rn}) lo ON lo.g = t.g
    JOIN (SELECT g, round(mean / 100, 4) AS m FROM ranked
          WHERE rn = least({hi_rn}, nb)) hi ON hi.g = t.g
    """


@register(
    "orders_bootstrap_ci_by_priority",
    _group_bootstrap_oracle(200),
    doc="Per-priority bootstrap mean-price CIs — the groupwise form "
    "of orders_bootstrap_mean_ci (operators/bootstrap.py::"
    "group_cis_from_partials): identical one-pass Poisson-weight "
    "algebra with the group key carried through the replicate "
    "aggregation, so distributed state is groups x B (map-side "
    "combined) and the per-group percentile rule runs over B "
    "driver-side means per group. The readout a naive per-group "
    "t-interval can't give without normality assumptions: which "
    "priority tiers' mean prices are distinguishable. Same "
    "integer-cents exactness and integer rank rule — hash-exact.",
)
def orders_bootstrap_ci_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.bootstrap import group_cis_from_partials

    per, totals = _orders_boot_partials(spark, sf_dir)
    rows = [
        (g, n, mean / 100, lo / 100, hi / 100)
        for g, n, mean, lo, hi in group_cis_from_partials(
            per, totals, b=200, alpha=0.05
        )
    ]
    # F.round (HALF_UP) for emission — Python round() is banker's and
    # diverged from the oracle on a .5 tie at sf0.001
    return spark.createDataFrame(
        rows,
        "o_orderpriority STRING, n_rows BIGINT, mean_price DOUBLE, "
        "ci_lo DOUBLE, ci_hi DOUBLE",
    ).select(
        "o_orderpriority", "n_rows",
        F.round("mean_price", 4).alias("mean_price"),
        F.round("ci_lo", 4).alias("ci_lo"),
        F.round("ci_hi", 4).alias("ci_hi"),
    )


def _bh_thresholds(m: int = 25, q: float = 0.10) -> list[float]:
    """|z| cutoffs for Benjamini-Hochberg at rank k: the two-sided
    p-value p = 2(1-Φ(|z|)) satisfies p <= k·q/m exactly when
    |z| >= Φ⁻¹(1 - k·q/(2m)). Computing the inverse CDF ONCE on the
    driver (stdlib NormalDist) and shipping full-precision literals to
    BOTH engines removes every transcendental from the distributed
    plan — the comparison is plain double arithmetic, hash-exact."""
    from statistics import NormalDist

    nd = NormalDist()
    return [nd.inv_cdf(1 - (k * q / m) / 2) for k in range(1, m + 1)]


def _brand_fdr_oracle() -> str:
    th_case = " ".join(
        f"WHEN {k + 1} THEN {t!r}" for k, t in enumerate(_bh_thresholds())
    )
    return f"""
    WITH br AS (
      SELECT p.p_brand, count(*)::BIGINT AS n,
             sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS r
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY p.p_brand
    ),
    g AS (SELECT sum(n)::BIGINT AS gn, sum(r)::BIGINT AS gr FROM br),
    z AS (
      SELECT p_brand, n,
             round((b.r / CAST(b.n AS DOUBLE) - g.gr / CAST(g.gn AS DOUBLE))
                   / sqrt((g.gr / CAST(g.gn AS DOUBLE))
                          * (1 - g.gr / CAST(g.gn AS DOUBLE)) / b.n), 4) AS z
      FROM br b CROSS JOIN g
    ),
    rk AS (
      SELECT p_brand, n, z,
             row_number() OVER (ORDER BY abs(z) DESC, p_brand ASC)
               AS bh_rank
      FROM z
    ),
    cond AS (
      SELECT *, CAST(abs(z) >= (CASE bh_rank {th_case} END) AS INT) AS pass_k
      FROM rk
    ),
    kmax AS (SELECT coalesce(max(CASE WHEN pass_k = 1 THEN bh_rank END), 0)
               AS k FROM cond)
    SELECT p_brand, n, z, bh_rank,
           CAST(bh_rank <= kmax.k AS INT) AS bh_significant
    FROM cond CROSS JOIN kmax
    """


@register(
    "brand_return_fdr",
    _brand_fdr_oracle(),
    doc="Benjamini-Hochberg FDR control (q=0.10) over the 25 brand "
    "return-rate z-tests — the multiple-testing correction "
    "brand_return_rate_outliers needs before anyone acts on it: "
    "screening 25 brands at |z|>=2 expects ~1 false alarm by chance; "
    "BH bounds the expected FALSE-DISCOVERY share of the flagged set "
    "instead. The rank-k p-value comparison p_(k) <= k*q/m is "
    "restated in |z| space against inverse-normal cutoffs computed "
    "ONCE driver-side (stdlib NormalDist) and embedded as full-"
    "precision literals in both engines — no erf/exp anywhere in the "
    "distributed plan, so the comparison is exact double arithmetic "
    "on a z that both engines derive from identical integer-count "
    "expressions. Ranks order by the ROUNDED z (the rank-window "
    "contract) over the brand-sized rollup; the step-up cutoff is "
    "max(rank passing) via one tiny window. Hash-exact.",
)
def brand_return_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    br = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("r"),
        )
    )
    g = br.agg(F.sum("n").alias("gn"), F.sum("r").alias("gr"))
    p_hat = F.col("r") / F.col("n").cast("double")
    p0 = F.col("gr") / F.col("gn").cast("double")
    z = F.round((p_hat - p0) / F.sqrt(p0 * (1 - p0) / F.col("n")), 4)
    zs = br.crossJoin(F.broadcast(g)).select(
        "p_brand", "n", z.alias("z")
    )
    w_rank = Window.orderBy(F.desc(F.abs(F.col("z"))), F.asc("p_brand"))
    th = F.lit(None).cast("double")
    for k, t in enumerate(_bh_thresholds()):
        th = F.when(F.col("bh_rank") == k + 1, F.lit(t)).otherwise(th)
    ranked = zs.withColumn("bh_rank", F.row_number().over(w_rank)).withColumn(
        "__pass", (F.abs(F.col("z")) >= th).cast("int")
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return ranked.withColumn(
        "__k",
        F.coalesce(
            F.max(F.when(F.col("__pass") == 1, F.col("bh_rank"))).over(w_all),
            F.lit(0),
        ),
    ).select(
        "p_brand",
        "n",
        "z",
        "bh_rank",
        (F.col("bh_rank") <= F.col("__k")).cast("int").alias("bh_significant"),
    )


@register(
    "orders_rollup_rewrite",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price,
           round(sum(o_totalprice) / count(*), 2) AS avg_price,
           round(min(o_totalprice), 2) AS min_price,
           round(max(o_totalprice), 2) AS max_price
    FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
    """,
    doc="Materialized-rollup query rewriting (plans/mv.py — the "
    "aggregate-subsumption MV match every warehouse optimizer ships): "
    "a (priority, status) rollup of orders is materialized once in "
    "partial_agg state shape, then a priority-level aggregate with a "
    "status equality filter is answered by RE-AGGREGATING THE ROLLUP "
    "— the fact table is never scanned (the entry raises if the "
    "rewriter declines). The oracle is the from-scratch GROUP BY over "
    "orders, so the hash match proves the subsumption rewrite returns "
    "bit-identical answers to recomputation: count via sum(n), sum "
    "via sum(sum), avg derived at finalize time from merged sum/n, "
    "min/max via re-min/re-max. At 100 TB the rewrite reads "
    "|priority x status| state rows instead of the fact table; "
    "filters are restricted to materialized key columns (the classic "
    "containment condition), and non-derivable measures fall back to "
    "the fact scan (tests pin both refusal paths).",
)
def orders_rollup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.incremental import partial_agg
    from .plans.mv import AggQuery, RollupView, answer

    orders = load_table(spark, sf_dir, "orders")
    view = RollupView(
        name="orders_by_priority_status",
        table="orders",
        keys=("o_orderpriority", "o_orderstatus"),
        value_col="o_totalprice",
        state=partial_agg(
            orders, ["o_orderpriority", "o_orderstatus"], "o_totalprice"
        ),
    )
    q = AggQuery(
        table="orders",
        group_by=("o_orderpriority",),
        value_col="o_totalprice",
        measures=(
            ("count", "n_orders"),
            ("sum", "sum_price"),
            ("avg", "avg_price"),
            ("min", "min_price"),
            ("max", "max_price"),
        ),
        eq_filters=(("o_orderstatus", "F"),),
    )
    out, used_view = answer(q, [view], orders)
    if not used_view:  # the rewrite IS the operator under test
        raise AssertionError("rollup rewrite unexpectedly declined")
    return out


@register(
    "orders_distinct_rewrite",
    """
    WITH du AS (
      SELECT DISTINCT o_orderpriority AS p, o_orderstatus AS s,
             o_custkey AS v
      FROM orders
    ),
    hx AS (
      SELECT DISTINCT p, s,
             ('0x' || substr(md5('kmv|' || CAST(v AS VARCHAR)),
                             1, 15))::BIGINT AS h
      FROM du
    ),
    sk AS (
      SELECT p, s, h FROM (
        SELECT p, s, h,
               row_number() OVER (PARTITION BY p, s ORDER BY h) AS rk
        FROM hx
      ) WHERE rk <= 128
    ),
    mrg AS (SELECT DISTINCT p, h FROM sk),
    kept AS (
      SELECT p, h FROM (
        SELECT p, h, row_number() OVER (PARTITION BY p ORDER BY h) AS rk
        FROM mrg
      ) WHERE rk <= 128
    ),
    ag AS (SELECT p, count(*) AS n, max(h) AS hk FROM kept GROUP BY p),
    ex AS (
      SELECT o_orderpriority AS p,
             count(DISTINCT o_custkey) AS xd
      FROM orders GROUP BY 1
    )
    SELECT ag.p AS o_orderpriority,
           CAST(CASE WHEN ag.n < 128 THEN CAST(ag.n AS DOUBLE)
                ELSE floor(CAST(127 AS DOUBLE)
                           * CAST(1152921504606846976 AS DOUBLE)
                           / CAST(ag.hk AS DOUBLE)) END AS BIGINT)
             AS approx_distinct_customers,
           CAST(ex.xd AS BIGINT) AS exact_distinct_customers
    FROM ag JOIN ex ON ex.p = ag.p
    """,
    doc="Sketch-backed MV rewrite for COUNT DISTINCT "
    "(plans/mv.py::KmvDistinctView/try_rewrite_distinct — the "
    "Druid/warehouse pattern of materializing a mergeable distinct "
    "sketch inside a rollup, because exact distincts do NOT roll up): "
    "a (priority, status)-keyed KMV bottom-128 view of o_custkey is "
    "materialized once; a priority-level approximate-distinct query "
    "re-merges the per-status sketches by re-taking the bottom k and "
    "applies the (k-1)*2^60/h_k estimator — the orders table is never "
    "rescanned for the approximate column (the entry raises if the "
    "rewriter declines). The deterministic md5 hash space makes the "
    "merge AND estimator DuckDB-restatable hash-exactly; the exact "
    "countDistinct rides along as the calibration column. Sub-k "
    "groups take the exact-count path (sf0.001 exercises it; sf0.01 "
    "exercises the estimator path).",
)
def orders_distinct_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sketch import kmv_sketch
    from .plans.mv import AggQuery, KmvDistinctView, try_rewrite_distinct

    orders = load_table(spark, sf_dir, "orders")
    view = KmvDistinctView(
        name="orders_custkey_kmv",
        table="orders",
        keys=("o_orderpriority", "o_orderstatus"),
        value_col="o_custkey",
        k=128,
        state=kmv_sketch(
            orders, ["o_orderpriority", "o_orderstatus"], "o_custkey", k=128
        ),
    )
    q = AggQuery(
        table="orders",
        group_by=("o_orderpriority",),
        value_col="o_custkey",
        measures=(("distinct_approx", "approx_distinct_customers"),),
    )
    est = try_rewrite_distinct(q, [view])
    if est is None:
        raise AssertionError("distinct rewrite unexpectedly declined")
    exact = orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").cast("long")
        .alias("exact_distinct_customers")
    )
    return est.join(exact, "o_orderpriority")


@register(
    "customer_k_anonymity",
    """
    WITH cents AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    ),
    lvls AS (
      SELECT 'L0_nation_segment_bal100' AS level, c_nationkey AS q1,
             c_mktsegment AS q2, floor(cents / 10000.0) AS q3
      FROM cents
      UNION ALL
      SELECT 'L1_nation_segment_bal1000', c_nationkey, c_mktsegment,
             floor(cents / 100000.0)
      FROM cents
      UNION ALL
      SELECT 'L2_segment_bal1000', NULL, c_mktsegment,
             floor(cents / 100000.0)
      FROM cents
    ),
    cls AS (
      SELECT level, q1, q2, q3, count(*) AS n
      FROM lvls GROUP BY 1, 2, 3, 4
    ),
    ag AS (
      SELECT level,
             count(*) AS n_classes,
             min(n) AS min_class_size,
             sum(CASE WHEN n < 5 THEN 1 ELSE 0 END)
               AS n_violating_classes,
             sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS rows_at_risk,
             sum(n) AS rows_total
      FROM cls GROUP BY level
    )
    SELECT level,
           CAST(n_classes AS BIGINT) AS n_classes,
           CAST(min_class_size AS BIGINT) AS min_class_size,
           CAST(n_violating_classes AS BIGINT) AS n_violating_classes,
           CAST(rows_at_risk AS BIGINT) AS rows_at_risk,
           CAST((rows_at_risk * 10000) // rows_total AS BIGINT)
             AS at_risk_bp
    FROM ag ORDER BY level
    """,
    doc="k-anonymity re-identification audit (Sweeney 2002) over the "
    "customer table (operators/security.py::k_anonymity_report) — "
    "the governance counterpart of the reference's PII masking "
    "(Data_Security.sql:13-18 masks VALUES; this measures whether "
    "the remaining quasi-identifiers — nation, market segment, "
    "binned balance — still single customers out). Three "
    "generalization levels are audited at once (balance binned to "
    "$100 vs $1000, then nation dropped), each reporting class "
    "count, smallest class, k<5 violators, and the at-risk row "
    "share in integer basis points. Balance binning goes through "
    "exact integer cents then floor(cents/bin) — floor-toward "
    "-infinity in both engines, so negative balances bin "
    "identically. Each level is one partial-aggregable groupBy; "
    "the union is 3 rows.",
)
def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.security import k_anonymity_report

    c = load_table(spark, sf_dir, "customer").withColumn(
        "cents", F.round(F.col("c_acctbal") * 100).cast("long")
    )
    return k_anonymity_report(
        c,
        {
            "L0_nation_segment_bal100": [
                F.col("c_nationkey"),
                F.col("c_mktsegment"),
                F.floor(F.col("cents") / 10000.0).alias("q3"),
            ],
            "L1_nation_segment_bal1000": [
                F.col("c_nationkey"),
                F.col("c_mktsegment"),
                F.floor(F.col("cents") / 100000.0).alias("q3"),
            ],
            "L2_segment_bal1000": [
                F.col("c_mktsegment"),
                F.floor(F.col("cents") / 100000.0).alias("q3"),
            ],
        },
        k=5,
    )


@register(
    "customer_l_diversity",
    """
    WITH base AS (
      SELECT c_nationkey, c_mktsegment,
             CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS in_debt
      FROM customer
    ),
    lvls AS (
      SELECT 'L0_nation_segment' AS level, c_nationkey AS q1,
             c_mktsegment AS q2, in_debt
      FROM base
      UNION ALL
      SELECT 'L1_segment', NULL, c_mktsegment, in_debt
      FROM base
    ),
    cells AS (
      SELECT level, q1, q2, in_debt, count(*) AS n
      FROM lvls GROUP BY 1, 2, 3, 4
    ),
    cls AS (
      SELECT level, q1, q2,
             sum(n) AS size,
             count(*) AS n_distinct_sensitive,
             max(n) AS top_value_n
      FROM cells GROUP BY 1, 2, 3
    ),
    ag AS (
      SELECT level,
             count(*) AS n_classes,
             sum(CASE WHEN n_distinct_sensitive < 2 THEN 1 ELSE 0 END)
               AS n_low_diversity_classes,
             sum(CASE WHEN n_distinct_sensitive < 2 THEN size ELSE 0 END)
               AS rows_exposed,
             sum(size) AS rows_total,
             max((top_value_n * 10000) // size) AS max_value_share_bp
      FROM cls GROUP BY level
    )
    SELECT level,
           CAST(n_classes AS BIGINT) AS n_classes,
           CAST(n_low_diversity_classes AS BIGINT) AS n_low_diversity_classes,
           CAST(rows_exposed AS BIGINT) AS rows_exposed,
           CAST((rows_exposed * 10000) // rows_total AS BIGINT) AS exposed_bp,
           CAST(max_value_share_bp AS BIGINT) AS max_value_share_bp
    FROM ag ORDER BY level
    """,
    doc="Distinct l-diversity audit (Machanavajjhala et al. 2007) — "
    "the attribute-disclosure complement of customer_k_anonymity "
    "(coarser levels: the balance-binned classes are near-singleton, "
    "where l-diversity is vacuously violated and says nothing): a "
    "class can satisfy k>=5 yet "
    "leak its members' sensitive value (here the in-debt flag, "
    "acctbal < 0) when every member shares it — the homogeneity "
    "attack k-anonymity cannot see. Reports classes with fewer than "
    "l=2 distinct sensitive values, the rows they expose (integer "
    "basis points), and the worst single-value dominance across "
    "classes. Two partial-aggregable groupBys per level ((QI, "
    "sensitive) cells, then O(classes)); every output is exact "
    "integer arithmetic. operators/security.py::l_diversity_report.",
)
def customer_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.security import l_diversity_report

    c = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.when(F.col("c_acctbal") < 0, 1).otherwise(0).alias("in_debt"),
    )
    return l_diversity_report(
        c,
        {
            "L0_nation_segment": [
                F.col("c_nationkey"),
                F.col("c_mktsegment"),
            ],
            "L1_segment": [F.col("c_mktsegment")],
        },
        sensitive_col="in_debt",
        ell=2,
    )


@register(
    "customer_t_closeness",
    """
    WITH base AS (
      SELECT c_nationkey, c_mktsegment,
             CASE WHEN c_acctbal < 0 THEN 0
                  WHEN c_acctbal < 2500 THEN 1
                  WHEN c_acctbal < 5000 THEN 2
                  ELSE 3 END AS band
      FROM customer
    ),
    lvls AS (
      SELECT 'L0_nation_segment' AS level, c_nationkey AS q1,
             c_mktsegment AS q2, band
      FROM base
      UNION ALL
      SELECT 'L1_segment', NULL, c_mktsegment, band
      FROM base
    ),
    cells AS (
      SELECT level, q1, q2, band, count(*) AS n
      FROM lvls GROUP BY 1, 2, 3, 4
    ),
    cls AS (
      SELECT level, q1, q2, sum(n) AS size,
             sum(CASE WHEN band <= 0 THEN n ELSE 0 END) AS c0,
             sum(CASE WHEN band <= 1 THEN n ELSE 0 END) AS c1,
             sum(CASE WHEN band <= 2 THEN n ELSE 0 END) AS c2
      FROM cells GROUP BY 1, 2, 3
    ),
    gtot AS (
      SELECT level, sum(n) AS n_total,
             sum(CASE WHEN band <= 0 THEN n ELSE 0 END) AS g0,
             sum(CASE WHEN band <= 1 THEN n ELSE 0 END) AS g1,
             sum(CASE WHEN band <= 2 THEN n ELSE 0 END) AS g2
      FROM cells GROUP BY 1
    ),
    scored AS (
      SELECT c.level, c.size,
             ((abs(c.c0::HUGEINT * g.n_total - g.g0::HUGEINT * c.size)
             + abs(c.c1::HUGEINT * g.n_total - g.g1::HUGEINT * c.size)
             + abs(c.c2::HUGEINT * g.n_total - g.g2::HUGEINT * c.size))
               * 10000)
             // (c.size::HUGEINT * g.n_total * 3) AS emd_bp
      FROM cls c JOIN gtot g ON g.level = c.level
    )
    SELECT level,
           count(*)::BIGINT AS n_classes,
           max(emd_bp)::BIGINT AS max_emd_bp,
           sum(CASE WHEN emd_bp > 2000 THEN 1 ELSE 0 END)::BIGINT
             AS n_violations,
           sum(CASE WHEN emd_bp > 2000 THEN size ELSE 0 END)::BIGINT
             AS rows_exposed,
           ((sum(CASE WHEN emd_bp > 2000 THEN size ELSE 0 END) * 10000)
             // sum(size))::BIGINT AS exposed_bp
    FROM scored GROUP BY level ORDER BY level
    """,
    doc="t-closeness audit over ordered balance bands (E187, Li/Li/"
    "Venkatasubramanian 2007) — the distribution-disclosure member "
    "that completes the k-anonymity (E166) / l-diversity (E183) "
    "privacy triad: a class can pass both yet leak through SKEW "
    "(97% of a nation-segment class in debt vs 25% globally). Per "
    "generalization level reports the worst per-class Earth Mover's "
    "Distance to the global band distribution in integer basis "
    "points (ordered-attribute EMD = mean |cumulative difference|, "
    "computed as exact |c_i*N - g_i*size| cross-products in "
    "DECIMAL(38,0)/HUGEINT with `div` on both engines — hash-exact "
    "even though it is a distributional statistic). Two partial-"
    "aggregable groupBys per level + a broadcast 1-row global; "
    "nothing beyond class dimension is held. operators/security.py::"
    "t_closeness_report.",
)
def customer_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.security import t_closeness_report

    c = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.when(F.col("c_acctbal") < 0, 0)
        .when(F.col("c_acctbal") < 2500, 1)
        .when(F.col("c_acctbal") < 5000, 2)
        .otherwise(3)
        .alias("band"),
    )
    return t_closeness_report(
        c,
        {
            "L0_nation_segment": [
                F.col("c_nationkey"),
                F.col("c_mktsegment"),
            ],
            "L1_segment": [F.col("c_mktsegment")],
        },
        sensitive_col="band",
        m=4,
        t_bp=2000,
    )


@register(
    "orders_distinct_rewrite_bitmap",
    """
    SELECT o_orderpriority,
           CAST(count(DISTINCT o_custkey) AS BIGINT)
             AS exact_distinct_customers
    FROM orders GROUP BY 1 ORDER BY 1
    """,
    doc="EXACT COUNT(DISTINCT) answered from materialized bitmap "
    "state (plans/mv.py::BitmapDistinctView/try_rewrite_distinct_"
    "exact — the exact counterpart of the KMV sketch rewrite E153): "
    "a (priority, status)-keyed chunked-bitmap view of o_custkey is "
    "built once; the priority-level query OR-folds the per-status "
    "bitmap rows under the coarser grouping and sums popcounts — "
    "the fact table is never rescanned AND the answer carries no "
    "estimation error, which is why a warehouse keeps bitmap state "
    "where member-level exactness (or RTBF erasure, E164) is "
    "required. The entry raises if the rewriter declines; the "
    "oracle is the naive count(DISTINCT) over the raw table.",
)
def orders_distinct_rewrite_bitmap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators.bitmap import bitmap_build
    from .plans.mv import (
        AggQuery,
        BitmapDistinctView,
        try_rewrite_distinct_exact,
    )

    orders = load_table(spark, sf_dir, "orders")
    view = BitmapDistinctView(
        name="orders_custkey_bitmap",
        table="orders",
        keys=("o_orderpriority", "o_orderstatus"),
        value_col="o_custkey",
        chunk_bits=13,
        state=bitmap_build(
            orders,
            ["o_orderpriority", "o_orderstatus"],
            "o_custkey",
            chunk_bits=13,
        ),
    )
    q = AggQuery(
        table="orders",
        group_by=("o_orderpriority",),
        value_col="o_custkey",
        measures=(("distinct_exact", "exact_distinct_customers"),),
    )
    out = try_rewrite_distinct_exact(q, [view])
    if out is None:
        raise AssertionError("bitmap distinct rewrite unexpectedly declined")
    return out.orderBy("o_orderpriority")


@register(
    "orders_systematic_sample",
    """
    WITH src AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) AS w
      FROM orders
    ),
    c AS (
      SELECT k, w,
             sum(w) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS cum
      FROM src
    ),
    t AS (SELECT greatest(sum(w) // 1000, 1) AS step FROM src)
    SELECT k AS o_orderkey, w AS weight_cents,
           (cum // step - (cum - w) // step)::BIGINT AS n_copies
    FROM c, t
    WHERE cum // step > (cum - w) // step
    ORDER BY o_orderkey
    """,
    doc="Deterministic weighted systematic sample of ~1000 orders, "
    "probability proportional to price (E191): lay every order's "
    "integer-cent weight on a line in o_orderkey order, take every "
    "step-th position (step = total div 1000) — the classic PPS "
    "systematic design, with zero randomness (the md5-uniform "
    "alternatives live in documents_weighted_sample) and exact "
    "integer arithmetic end to end, so selection and multiplicity "
    "(an order heavier than step wins several positions) are "
    "hash-exact. The scale story is the prefix sum: the oracle's "
    "single ordered window is restated in Spark as the TWO-LEVEL "
    "form (per-bucket running sums + one bucket-dimension offset "
    "window, the events_peak_concurrency pattern) — data-sized rows "
    "are never globally ordered, value-identical by associativity of "
    "+. Used as the corpus-curation 'inspect a value-weighted slice' "
    "primitive.",
)
def orders_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    src = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("w"),
    )
    bucketed = src.withColumn("b", F.expr("k div 8192"))
    w_in = (
        Window.partitionBy("b")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_in = bucketed.withColumn("cum_in", F.sum("w").over(w_in))
    tb = bucketed.groupBy("b").agg(F.sum("w").alias("tot"))
    w_off = (
        Window.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = tb.select(
        "b", F.coalesce(F.sum("tot").over(w_off), F.lit(0)).alias("off")
    )
    tot = src.agg(
        F.expr("greatest(sum(w) div 1000, 1)").alias("step")
    )
    c = (
        cum_in.join(offs, "b")
        .withColumn("cum", F.col("off") + F.col("cum_in"))
        .crossJoin(F.broadcast(tot))
    )
    return (
        c.filter(
            F.expr("cum div step") > F.expr("(cum - w) div step")
        )
        .select(
            F.col("k").alias("o_orderkey"),
            F.col("w").alias("weight_cents"),
            F.expr(
                "CAST(cum div step - (cum - w) div step AS BIGINT)"
            ).alias("n_copies"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "customer_snm_pairs",
    """
    WITH src AS (
      SELECT c_mktsegment AS seg,
             CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
             c_custkey AS ck
      FROM customer
    ),
    r AS (
      SELECT seg, cents, ck,
             row_number() OVER (PARTITION BY seg ORDER BY cents, ck) AS rk
      FROM src
    )
    SELECT a.seg AS seg, a.ck AS cust_a, b.ck AS cust_b,
           (b.cents - a.cents)::BIGINT AS delta_cents,
           d.d::BIGINT AS neighbor_dist
    FROM r a
    CROSS JOIN (SELECT * FROM range(1, 4) t(d)) d
    JOIN r b ON b.seg = a.seg AND b.rk = a.rk + d.d
    WHERE b.cents - a.cents <= 100
    ORDER BY a.seg, cust_a, cust_b
    """,
    doc="Sorted-neighborhood blocking (E198, Hernandez & Stolfo 1995 "
    "SNM — the OTHER classic entity-resolution candidate generator "
    "beside customer_fuzzy_match_pairs' deletion-neighborhood "
    "index): sort each segment by balance cents, pair every record "
    "with its next w=3 neighbors, keep pairs within $1 — near-"
    "duplicate financial profiles as dedup candidates without an n² "
    "cross join (candidates are n*w by construction). The scale "
    "story is the RANK, not the window: Spark computes the global "
    "per-segment rank with the TWO-LEVEL form (row_number inside "
    "(segment, $100-bucket) partitions + one bucket-dimension "
    "offset window), so no segment is ever sorted on a single task "
    "— value-identical to the oracle's flat row_number because "
    "bucket boundaries follow the sort key. Neighbor joins are "
    "rank+d equi-joins (d exploded 1..3), never an inequality join.",
)
def customer_snm_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    src = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        F.col("c_custkey").alias("ck"),
    ).withColumn("b", F.expr("cents div 10000"))
    w_in = Window.partitionBy("seg", "b").orderBy("cents", "ck")
    rn = src.withColumn("rn_in", F.row_number().over(w_in))
    cnts = src.groupBy("seg", "b").agg(F.count("*").alias("cnt"))
    w_off = (
        Window.partitionBy("seg")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = cnts.select(
        "seg", "b", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("off")
    )
    ranked = rn.join(offs, ["seg", "b"]).select(
        "seg", "cents", "ck", (F.col("off") + F.col("rn_in")).alias("rk")
    )
    ranked = ranked.persist()
    a = ranked.select(
        "seg",
        F.col("cents").alias("ca"),
        F.col("ck").alias("cust_a"),
        F.col("rk").alias("ra"),
    ).select(
        "*", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("d")
    )
    bb = ranked.select(
        "seg",
        F.col("cents").alias("cb"),
        F.col("ck").alias("cust_b"),
        F.col("rk").alias("rb"),
    )
    # rank+d equality is part of the JOIN CONDITION (Catalyst treats
    # rb == ra + d as an equi-join key), never a post-join filter on a
    # segment-only join — that would be an n²-per-segment expansion
    out = (
        a.join(
            bb.withColumnRenamed("seg", "seg_b"),
            (F.col("seg") == F.col("seg_b"))
            & (F.col("rb") == F.col("ra") + F.col("d")),
        )
        .filter(F.col("cb") - F.col("ca") <= 100)
        .select(
            "seg",
            "cust_a",
            "cust_b",
            (F.col("cb") - F.col("ca")).cast("long").alias("delta_cents"),
            F.col("d").cast("long").alias("neighbor_dist"),
        )
        .orderBy("seg", "cust_a", "cust_b")
    )
    out = out.localCheckpoint(eager=True)
    ranked.unpersist()
    return out


@register(
    "supplier_graph_clustering",
    f"""
    WITH {_cosupplier_graph_sql(10)},
    dg AS (
      SELECT node, count(*)::BIGINT AS deg FROM (
        SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e) t
      GROUP BY node
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tn AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y AS node FROM tri
      UNION ALL SELECT z AS node FROM tri
    ),
    tc AS (SELECT node, count(*)::BIGINT AS triangles FROM tn GROUP BY node)
    SELECT d.node, d.deg,
           coalesce(t.triangles, 0)::BIGINT AS triangles,
           round(2.0 * coalesce(t.triangles, 0) / (d.deg * (d.deg - 1.0)), 6)
             AS clustering_coeff
    FROM dg d LEFT JOIN tc t ON t.node = d.node
    WHERE d.deg >= 2
    """,
    doc="Local clustering coefficient per supplier over the "
    "top-10-sparsified co-supplier graph (E210): cc(v) = 2*tri(v) / "
    "(deg(v)*(deg(v)-1)) for every node with deg >= 2 — how close "
    "each supplier's neighborhood is to a clique, the standard "
    "small-world diagnostic that complements the raw triangle entry. "
    "Reuses operators/graph.py::triangle_count's degree-ordered "
    "node-iterator (O(|E|^1.5) wedges, hubs never fan out) and joins "
    "it back to the degree table LEFT so triangle-free nodes emit "
    "cc = 0 rather than vanishing. The sparsified edge list is "
    "localCheckpointed by topk_cooccurrence_edges, so the deg scan and the "
    "triangle pass share one materialization; the only float is the "
    "final rounded division.",
)
def supplier_graph_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import triangle_count

    e = _cosupplier_edges(spark, sf_dir, k=10)
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    tc = triangle_count(e)
    return (
        deg.filter(F.col("deg") >= 2)
        .join(tc, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            F.round(
                2.0
                * F.coalesce("triangles", F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1.0)),
                6,
            ).alias("clustering_coeff"),
        )
    )


@register(
    "orders_pps_ht_estimate",
    """
    WITH src AS (
      SELECT o_orderkey AS k, o_orderpriority AS pri,
             CAST(round(o_totalprice * 100) AS BIGINT) AS w
      FROM orders
    ),
    tot AS (
      SELECT sum(w) AS tw, greatest(sum(w) // 1000, 1) AS step
      FROM src
    ),
    cum AS (
      SELECT k, pri, w,
             sum(w) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS c
      FROM src
    ),
    sampled AS (
      SELECT cu.k, cu.pri, cu.w, t.tw, t.step
      FROM cum cu, tot t
      WHERE cu.c // t.step > (cu.c - cu.w) // t.step
    ),
    ht AS (
      SELECT pri,
             count(*)::BIGINT AS sampled_orders,
             sum(CASE WHEN w * 1000 >= tw THEN 1000000::BIGINT
                      ELSE CAST(floor(tw * 1e6 / (1000.0 * w)) AS BIGINT)
                 END) AS est_u
      FROM sampled GROUP BY pri
    ),
    truth AS (
      SELECT pri, count(*)::BIGINT AS true_orders FROM src GROUP BY pri
    )
    SELECT t.pri AS o_orderpriority, t.true_orders,
           coalesce(h.sampled_orders, 0)::BIGINT AS sampled_orders,
           round(coalesce(h.est_u, 0) / 1e6, 2) AS ht_estimate,
           CAST(abs(coalesce(h.est_u, 0) // 1000000 - t.true_orders)
                * 10000 // t.true_orders AS BIGINT) AS abs_err_bp
    FROM truth t LEFT JOIN ht h ON h.pri = t.pri
    ORDER BY t.pri
    """,
    doc="Horvitz-Thompson calibration report for the PPS systematic "
    "sampler (E221): estimate per-priority ORDER COUNTS from the "
    "price-weighted sample (the systematic-sample entry's exact "
    "machinery: deterministic key order, step = W div 1000, an "
    "order is sampled iff its weight interval straddles a step "
    "boundary) by summing 1/pi with pi = min(1, n*w/W) — certainty "
    "units (w >= W/n) contribute exactly 1. Each 1/pi term "
    "floor-scales to integer MICRO-units before the stratum sum "
    "(no float crosses the shuffle), and the report publishes the "
    "estimate against the true count in basis points — the "
    "unbiasedness check a sampling pipeline runs before trusting "
    "sampled aggregates at 100 TB. The oracle states the cumsum as "
    "one flat window; Spark's plan shares the systematic-sample "
    "two-level prefix-sum shape.",
)
def orders_pps_ht_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    src = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("w"),
    )
    src = src.persist()
    bucketed = src.withColumn("b", F.expr("k div 8192"))
    w_in = (
        Window.partitionBy("b")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_in = bucketed.withColumn("ci", F.sum("w").over(w_in))
    tb = bucketed.groupBy("b").agg(F.sum("w").alias("tot"))
    w_off = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offs = tb.select(
        "b", F.coalesce(F.sum("tot").over(w_off), F.lit(0)).alias("off")
    )
    tot = src.agg(
        F.sum("w").alias("tw"),
        F.expr("greatest(sum(w) div 1000, 1)").alias("step"),
    )
    cum = (
        cum_in.join(F.broadcast(offs), "b")
        .withColumn("c", F.col("off") + F.col("ci"))
        .crossJoin(F.broadcast(tot))
    )
    sampled = cum.filter(
        F.expr("c div step") > F.expr("(c - w) div step")
    )
    ht = sampled.groupBy("pri").agg(
        F.count("*").alias("sampled_orders"),
        F.sum(
            F.expr(
                "CASE WHEN w * 1000 >= tw THEN CAST(1000000 AS BIGINT)"
                " ELSE CAST(floor(tw * 1e6 / (1000.0D * w)) AS BIGINT) END"
            )
        ).alias("est_u"),
    )
    truth = src.groupBy("pri").agg(F.count("*").alias("true_orders"))
    out = (
        truth.join(ht, "pri", "left")
        .select(
            F.col("pri").alias("o_orderpriority"),
            "true_orders",
            F.coalesce("sampled_orders", F.lit(0)).cast("long").alias(
                "sampled_orders"
            ),
            F.round(F.coalesce("est_u", F.lit(0)) / 1e6, 2).alias("ht_estimate"),
            F.expr(
                "CAST(abs(coalesce(est_u, 0) div 1000000 - true_orders)"
                " * 10000 div true_orders AS BIGINT)"
            ).alias("abs_err_bp"),
        )
        .orderBy("o_orderpriority")
    )
    out = out.localCheckpoint(eager=True)
    src.unpersist()
    return out


@register(
    "orders_neyman_allocation",
    """
    WITH s AS (
      SELECT o_orderpriority,
             count(*)::BIGINT AS nh,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS sw,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)
                 * CAST(round(o_totalprice * 100) AS BIGINT)) AS sw2
      FROM orders GROUP BY 1
    ),
    m AS (
      SELECT o_orderpriority, nh, sw,
             sqrt(greatest(
               CAST(sw2 AS DOUBLE) / nh
               - (CAST(sw AS DOUBLE) / nh) * (CAST(sw AS DOUBLE) / nh),
               0)) AS sd
      FROM s
    ),
    t AS (
      SELECT sum(nh) AS n, sum(nh * sd) AS d FROM m
    )
    SELECT m.o_orderpriority, m.nh,
           round(CAST(m.sw AS DOUBLE) / m.nh / 100.0, 2) AS mean_price,
           round(m.sd / 100.0, 2) AS sd_price,
           CAST(floor(m.nh * m.sd * 10000 / t.d) AS BIGINT) AS neyman_share_bp,
           CAST(m.nh * 10000 // t.n AS BIGINT) AS proportional_share_bp,
           CAST(floor(m.nh * m.sd * 1000 / t.d) AS BIGINT) AS neyman_n_of_1000
    FROM m, t
    ORDER BY m.o_orderpriority
    """,
    doc="Neyman optimal allocation for a stratified sample of 1000 "
    "orders by priority (E222): n_h proportional to N_h*S_h — the "
    "survey-sampling design rule that beats proportional allocation "
    "whenever strata variances differ, published side-by-side with "
    "the proportional shares so the design choice is auditable. "
    "Per-stratum std comes from one exact integer (n, sum w, sum w^2) "
    "pass in cents (population variance clamped at 0 before sqrt); "
    "N_h*S_h products are identical doubles in both engines and the "
    "shares floor to basis points. One dimension-sized groupBy plus "
    "a 5-row rollup — the design table costs one scan at any SF.",
)
def orders_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("w"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("nh"),
            F.sum("w").alias("sw"),
            F.sum(F.col("w") * F.col("w")).alias("sw2"),
        )
    )
    m = s.select(
        "o_orderpriority",
        "nh",
        "sw",
        F.sqrt(
            F.greatest(
                F.expr(
                    "CAST(sw2 AS DOUBLE) / nh"
                    " - (CAST(sw AS DOUBLE) / nh) * (CAST(sw AS DOUBLE) / nh)"
                ),
                F.lit(0.0),
            )
        ).alias("sd"),
    )
    t = m.agg(
        F.sum("nh").alias("n"), F.sum(F.col("nh") * F.col("sd")).alias("d")
    )
    return (
        m.crossJoin(F.broadcast(t))
        .select(
            "o_orderpriority",
            "nh",
            F.round(F.expr("CAST(sw AS DOUBLE) / nh / 100.0D"), 2).alias(
                "mean_price"
            ),
            F.round(F.col("sd") / 100.0, 2).alias("sd_price"),
            F.expr("CAST(floor(nh * sd * 10000 / d) AS BIGINT)").alias(
                "neyman_share_bp"
            ),
            F.expr("CAST(nh * 10000 div n AS BIGINT)").alias(
                "proportional_share_bp"
            ),
            F.expr("CAST(floor(nh * sd * 1000 / d) AS BIGINT)").alias(
                "neyman_n_of_1000"
            ),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "lineitem_simpson_audit",
    """
    WITH src AS (
      SELECT p.p_brand AS brand,
             CASE WHEN l.l_discount > 0.05 THEN 1 ELSE 0 END AS x,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    cells AS (
      SELECT brand,
             sum(x * y)::BIGINT AS r1, sum(x)::BIGINT AS n1,
             sum((1 - x) * y)::BIGINT AS r0, sum(1 - x)::BIGINT AS n0
      FROM src GROUP BY brand
    ),
    strata AS (
      SELECT brand,
             CASE WHEN n1 = 0 OR n0 = 0 THEN 0
                  WHEN r1 * n0 > r0 * n1 THEN 1
                  WHEN r1 * n0 < r0 * n1 THEN -1
                  ELSE 0 END AS sgn
      FROM cells
    ),
    ov AS (
      SELECT CASE WHEN sum(r1) * sum(n0) > sum(r0) * sum(n1) THEN 1
                  WHEN sum(r1) * sum(n0) < sum(r0) * sum(n1) THEN -1
                  ELSE 0 END AS osgn,
             sum(r1)::BIGINT AS r1, sum(n1)::BIGINT AS n1,
             sum(r0)::BIGINT AS r0, sum(n0)::BIGINT AS n0
      FROM cells
    )
    SELECT ov.osgn AS overall_sign,
           round(ov.r1 * 1.0 / ov.n1, 6) AS rate_discounted,
           round(ov.r0 * 1.0 / ov.n0, 6) AS rate_full_price,
           count(*)::BIGINT AS strata,
           sum(CASE WHEN s.sgn = ov.osgn AND s.sgn <> 0
                    THEN 1 ELSE 0 END)::BIGINT AS strata_agree,
           sum(CASE WHEN s.sgn = -ov.osgn AND s.sgn <> 0
                    THEN 1 ELSE 0 END)::BIGINT AS strata_reverse,
           sum(CASE WHEN s.sgn = 0 THEN 1 ELSE 0 END)::BIGINT AS strata_tied,
           CASE WHEN ov.osgn <> 0
                 AND sum(CASE WHEN s.sgn = -ov.osgn AND s.sgn <> 0
                              THEN 1 ELSE 0 END)
                     > sum(CASE WHEN s.sgn = ov.osgn AND s.sgn <> 0
                                THEN 1 ELSE 0 END)
                THEN 1 ELSE 0 END::BIGINT AS simpson_flag
    FROM strata s, ov
    GROUP BY ov.osgn, ov.r1, ov.n1, ov.r0, ov.n0
    """,
    doc="Simpson's paradox audit (E223): does the marginal "
    "association between discounting and returns reverse inside "
    "brand strata? The overall and per-stratum association signs "
    "use CROSS-MULTIPLIED integer rate comparisons (r1*n0 vs "
    "r0*n1) — no division, no float, no tolerance — and the flag "
    "fires when reversing strata outnumber agreeing ones, the "
    "aggregation-bias tripwire every metrics platform should run "
    "before publishing a marginal rate. One fact groupBy to brand "
    "cells, then a brands-sized rollup joined to the 1-row "
    "marginal.",
)
def lineitem_simpson_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.col("l_discount") > 0.05).cast("int").alias("x"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cells = (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(F.col("x") * F.col("y")).alias("r1"),
            F.sum("x").alias("n1"),
            F.sum((1 - F.col("x")) * F.col("y")).alias("r0"),
            F.sum(1 - F.col("x")).alias("n0"),
        )
        .persist()
    )
    strata = cells.select(
        F.expr(
            "CASE WHEN n1 = 0 OR n0 = 0 THEN 0"
            " WHEN r1 * n0 > r0 * n1 THEN 1"
            " WHEN r1 * n0 < r0 * n1 THEN -1 ELSE 0 END"
        ).alias("sgn")
    )
    ov = cells.agg(
        F.expr(
            "CASE WHEN sum(r1) * sum(n0) > sum(r0) * sum(n1) THEN 1"
            " WHEN sum(r1) * sum(n0) < sum(r0) * sum(n1) THEN -1"
            " ELSE 0 END"
        ).alias("osgn"),
        F.sum("r1").alias("r1"),
        F.sum("n1").alias("n1"),
        F.sum("r0").alias("r0"),
        F.sum("n0").alias("n0"),
    )
    out = (
        strata.crossJoin(F.broadcast(ov))
        .groupBy("osgn", "r1", "n1", "r0", "n0")
        .agg(
            F.count("*").alias("strata"),
            F.sum(
                F.expr("CASE WHEN sgn = osgn AND sgn <> 0 THEN 1 ELSE 0 END")
            ).alias("strata_agree"),
            F.sum(
                F.expr("CASE WHEN sgn = -osgn AND sgn <> 0 THEN 1 ELSE 0 END")
            ).alias("strata_reverse"),
            F.sum(F.expr("CASE WHEN sgn = 0 THEN 1 ELSE 0 END")).alias(
                "strata_tied"
            ),
        )
        .select(
            F.col("osgn").alias("overall_sign"),
            F.round(F.expr("r1 * 1.0D / n1"), 6).alias("rate_discounted"),
            F.round(F.expr("r0 * 1.0D / n0"), 6).alias("rate_full_price"),
            F.col("strata").cast("long"),
            F.col("strata_agree").cast("long"),
            F.col("strata_reverse").cast("long"),
            F.col("strata_tied").cast("long"),
            F.expr(
                "CAST(CASE WHEN osgn <> 0 AND strata_reverse > strata_agree"
                " THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("simpson_flag"),
        )
    )
    out = out.localCheckpoint(eager=True)
    cells.unpersist()
    return out


@register(
    "nation_theil_decomposition",
    """
    WITH cust AS (
      SELECT n.n_name AS nation,
             sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS x
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY o.o_custkey, n.n_name
    ),
    g AS (
      SELECT nation,
             count(*)::BIGINT AS ng,
             sum(x) AS xg,
             sum(CAST(floor(x * ln(x) * 1e6) AS HUGEINT)) AS sxlx
      FROM cust GROUP BY nation
    ),
    t AS (
      SELECT sum(ng)::BIGINT AS n, sum(xg) AS xt,
             sum(sxlx) AS sx,
             sum(CAST(floor(CAST(xg AS DOUBLE)
                 * (ln(CAST(xg AS DOUBLE)) - ln(ng)) * 1e6) AS HUGEINT)) AS bsum
      FROM g
    )
    SELECT g.nation, g.ng AS customers,
           round(g.xg / 100.0, 2) AS revenue,
           CAST(g.xg * 10000 // t.xt AS BIGINT) AS revenue_share_bp,
           round(CAST(g.sxlx AS DOUBLE) / 1e6 / g.xg
                 - ln(CAST(g.xg AS DOUBLE)) + ln(g.ng), 6) AS theil_within,
           round(CAST(t.bsum AS DOUBLE) / 1e6 / t.xt
                 - ln(CAST(t.xt AS DOUBLE)) + ln(t.n), 6) AS theil_between,
           round(CAST(t.sx AS DOUBLE) / 1e6 / t.xt
                 - ln(CAST(t.xt AS DOUBLE)) + ln(t.n), 6) AS theil_total
    FROM g, t
    ORDER BY g.nation
    """,
    doc="Theil-T inequality decomposition of customer revenue by "
    "nation (E224): T = Σ(x/μ)ln(x/μ)/n rewritten through the count "
    "identity T = (Σx·ln x)/X − ln X + ln n so every data-sized ln "
    "takes an INTEGER cent argument and floor-scales to 1e-6 units "
    "before an exact decimal/hugeint sum — the within-nation terms, "
    "the between-nation term, and the total all emerge from one "
    "customer-grain pass + one nations-sized rollup. Unlike Gini "
    "(E-entry nation_revenue_gini ranks within nations), Theil is "
    "ADDITIVELY DECOMPOSABLE: total = between + Σ share·within, the "
    "property that lets a platform attribute inequality to mix vs "
    "within-group spread. Identity is pinned by a unit test.",
)
def nation_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cust = (
        o.join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("o_custkey", F.col("n_name").alias("nation"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("x"))
    )
    g = cust.groupBy("nation").agg(
        F.count("*").alias("ng"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0))")).alias("xg"),
        # per-customer 1e-6-unit terms reach ~5e15; a nation's sum
        # overflows int64 beyond ~2k customers, so accumulate decimal
        F.sum(
            F.expr("CAST(floor(x * ln(x) * 1e6) AS DECIMAL(38,0))")
        ).alias("sxlx"),
    )
    g = g.persist()
    t = g.agg(
        F.sum("ng").alias("n"),
        F.sum("xg").alias("xt"),
        F.sum("sxlx").alias("sx"),
        # between-group terms floor to 1e-6 units too: the 25-group sum
        # must not depend on partial-aggregation order
        F.sum(
            F.expr(
                "CAST(floor(CAST(xg AS DOUBLE)"
                " * (ln(CAST(xg AS DOUBLE)) - ln(ng)) * 1e6)"
                " AS DECIMAL(38,0))"
            )
        ).alias("bsum"),
    )
    out = (
        g.crossJoin(F.broadcast(t))
        .select(
            "nation",
            F.col("ng").cast("long").alias("customers"),
            F.round(F.expr("xg / 100.0D"), 2).alias("revenue"),
            F.expr("CAST(xg * 10000 div xt AS BIGINT)").alias(
                "revenue_share_bp"
            ),
            F.round(
                F.expr(
                    "CAST(sxlx AS DOUBLE) / 1e6 / xg"
                    " - ln(CAST(xg AS DOUBLE)) + ln(ng)"
                ),
                6,
            ).alias("theil_within"),
            F.round(
                F.expr(
                    "CAST(bsum AS DOUBLE) / 1e6 / xt"
                    " - ln(CAST(xt AS DOUBLE)) + ln(n)"
                ),
                6,
            ).alias("theil_between"),
            F.round(
                F.expr(
                    "CAST(sx AS DOUBLE) / 1e6 / xt"
                    " - ln(CAST(xt AS DOUBLE)) + ln(n)"
                ),
                6,
            ).alias("theil_total"),
        )
        .orderBy("nation")
    )
    out = out.localCheckpoint(eager=True)
    g.unpersist()
    return out


@register(
    "orders_dow_seasonality",
    """
    WITH src AS (
      SELECT o_orderpriority AS pri,
             (date_part('dow', o_orderdate) + 1)::BIGINT AS dow,
             CAST(round(o_totalprice * 100) AS BIGINT) AS w
      FROM orders
    ),
    cell AS (
      SELECT pri, dow, count(*)::BIGINT AS n, sum(w) AS s
      FROM src GROUP BY 1, 2
    ),
    tot AS (
      SELECT pri, sum(n)::BIGINT AS np, sum(s) AS sp FROM cell GROUP BY pri
    )
    SELECT c.pri AS o_orderpriority, c.dow, c.n AS orders,
           CAST(c.n * 7 * 10000 // t.np AS BIGINT) AS volume_idx_bp,
           CAST((CAST(c.s AS HUGEINT) * t.np * 10000)
                // (CAST(c.n AS HUGEINT) * t.sp) AS BIGINT) AS value_idx_bp
    FROM cell c JOIN tot t ON t.pri = c.pri
    ORDER BY c.pri, c.dow
    """,
    doc="Day-of-week seasonality indices per order priority (E225): "
    "volume index (dow order share vs the uniform 1/7) and value "
    "index (dow average order value vs the priority average), both "
    "in basis points via PURE INTEGER cross-multiplied ratios — "
    "volume = n·7·10⁴ div N, value = (s·N·10⁴) div (n·S) with "
    "hugeint/decimal intermediates since s·N exceeds int64 at sf1. "
    "The staffing/capacity-planning readout: one fact groupBy to a "
    "35-cell grid, margins cells-dimension, no float anywhere.",
)
def orders_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        (F.dayofweek("o_orderdate")).cast("long").alias("dow"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("w"),
    )
    cell = src.groupBy("pri", "dow").agg(
        F.count("*").alias("n"), F.sum("w").alias("s")
    )
    tot = cell.groupBy("pri").agg(
        F.sum("n").alias("np"), F.sum("s").alias("sp")
    )
    return (
        cell.join(F.broadcast(tot), "pri")
        .select(
            F.col("pri").alias("o_orderpriority"),
            "dow",
            F.col("n").alias("orders"),
            F.expr("CAST(n * 7 * 10000 div np AS BIGINT)").alias(
                "volume_idx_bp"
            ),
            F.expr(
                "CAST((CAST(s AS DECIMAL(38,0)) * np * 10000)"
                " div (CAST(n AS DECIMAL(38,0)) * sp) AS BIGINT)"
            ).alias("value_idx_bp"),
        )
        .orderBy("o_orderpriority", "dow")
    )


@register(
    "nation_brand_rca",
    """
    WITH cell AS (
      SELECT n.n_name AS nation, p.p_brand AS brand,
             sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS x
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    ),
    xn AS (SELECT nation, sum(x) AS xn FROM cell GROUP BY nation),
    xb AS (SELECT brand, sum(x) AS xb FROM cell GROUP BY brand),
    xt AS (SELECT sum(x) AS xt FROM cell)
    SELECT c.nation, c.brand,
           round(c.x / 100.0, 2) AS revenue,
           CAST((CAST(c.x AS HUGEINT) * t.xt * 10000)
                // (CAST(n.xn AS HUGEINT) * b.xb) AS BIGINT) AS rca_bp,
           CASE WHEN (CAST(c.x AS HUGEINT) * t.xt * 10000)
                     // (CAST(n.xn AS HUGEINT) * b.xb) > 10000
                THEN 1 ELSE 0 END::BIGINT AS specialized
    FROM cell c
    JOIN xn n ON n.nation = c.nation
    JOIN xb b ON b.brand = c.brand
    CROSS JOIN xt t
    ORDER BY c.nation, c.brand
    """,
    doc="Balassa revealed comparative advantage matrix (E226): "
    "RCA(nation, brand) = (x_nb/x_n)/(x_b/x_total) in basis points "
    "— which nations over-index on which brands relative to the "
    "global mix, the trade-economics standard repurposed as a "
    "merchandising skew matrix. PURE INTEGER: the four exact cent "
    "totals cross-multiply under hugeint/decimal (x_nb·x_total "
    "overflows int64 at sf1) and one floor-div emits bp; "
    "specialized = RCA > 1. One fact groupBy to the nations×brands "
    "grid; margins are grid-dimension rollups, dims broadcast.",
)
def nation_brand_rca(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cell = (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.col("p_brand").alias("brand"))
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("x"))
        .persist()
    )
    xn = cell.groupBy("nation").agg(F.sum("x").alias("xn"))
    xb = cell.groupBy("brand").agg(F.sum("x").alias("xb"))
    xt = cell.agg(F.sum("x").alias("xt"))
    rca = F.expr(
        "(CAST(x AS DECIMAL(38,0)) * xt * 10000)"
        " div (CAST(xn AS DECIMAL(38,0)) * xb)"
    )
    out = (
        cell.join(F.broadcast(xn), "nation")
        .join(F.broadcast(xb), "brand")
        .crossJoin(F.broadcast(xt))
        .select(
            "nation",
            "brand",
            F.round(F.col("x") / 100.0, 2).alias("revenue"),
            rca.cast("long").alias("rca_bp"),
            F.when(rca > 10000, 1).otherwise(0).cast("long").alias("specialized"),
        )
        .orderBy("nation", "brand")
    )
    out = out.localCheckpoint(eager=True)
    cell.unpersist()
    return out


@register(
    "part_slow_mover_report",
    """
    WITH anchor AS (
      SELECT max(l_shipdate) AS maxd FROM lineitem
    ),
    last_ship AS (
      SELECT l_partkey AS partkey, max(l_shipdate) AS last_d,
             sum(CAST(round(l_quantity) AS BIGINT)) AS units
      FROM lineitem GROUP BY 1
    ),
    aged AS (
      SELECT p.p_brand,
             CAST(round(p.p_retailprice * 100) AS BIGINT) AS price_cents,
             ls.units,
             date_diff('day', CAST(ls.last_d AS DATE),
                       CAST(a.maxd AS DATE)) // 90 AS age_q
      FROM part p
      JOIN last_ship ls ON ls.partkey = p.p_partkey
      CROSS JOIN anchor a
    )
    SELECT p_brand,
           least(age_q, 4)::BIGINT AS age_quarters,
           count(*)::BIGINT AS parts,
           sum(units)::BIGINT AS lifetime_units,
           round(sum(price_cents) / 100.0, 2) AS locked_retail_value
    FROM aged
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="Slow-mover / obsolescence aging report (E227): parts bucketed "
    "by quarters since their LAST shipment (capped at 4+ — the "
    "dead-stock tail), per brand, with the retail value locked in "
    "each bucket — the inventory write-down planner's companion to "
    "the ABC/XYZ matrix (E209 grades movers; this one names the "
    "non-movers). Anchor = corpus max ship date so the report is "
    "deterministic and replayable. One part-grain max/sum groupBy + "
    "a broadcast scalar; ages are integer days div 90 — no float "
    "anywhere except the final cents emission.",
)
def part_slow_mover_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_shipdate"
    )
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_retailprice"
    )
    li = li.persist()
    anchor = li.agg(F.max("l_shipdate").alias("maxd"))
    last_ship = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.max("l_shipdate").alias("last_d"),
        F.sum(F.round("l_quantity").cast("long")).alias("units"),
    )
    aged = (
        p.join(last_ship, F.col("partkey") == F.col("p_partkey"))
        .crossJoin(F.broadcast(anchor))
        .select(
            "p_brand",
            F.round(F.col("p_retailprice") * 100).cast("long").alias(
                "price_cents"
            ),
            "units",
            F.expr(
                "datediff(CAST(maxd AS DATE), CAST(last_d AS DATE)) div 90"
            ).alias("age_q"),
        )
    )
    out = (
        aged.groupBy(
            "p_brand", F.least(F.col("age_q"), F.lit(4)).cast("long").alias(
                "age_quarters"
            )
        )
        .agg(
            F.count("*").cast("long").alias("parts"),
            F.sum("units").cast("long").alias("lifetime_units"),
            F.round(F.sum("price_cents") / 100.0, 2).alias(
                "locked_retail_value"
            ),
        )
        .orderBy("p_brand", "age_quarters")
    )
    out = out.localCheckpoint(eager=True)
    li.unpersist()
    return out


@register(
    "events_error_pchart",
    """
    WITH daily AS (
      SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
             count(*)::BIGINT AS n,
             sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT
               AS errs
      FROM events GROUP BY 1
    ),
    center AS (
      SELECT sum(errs) AS te, sum(n) AS tn FROM daily
    )
    SELECT strftime(d.d, '%Y-%m-%d') AS day, d.n AS events, d.errs AS errors,
           round(d.errs * 1.0 / d.n, 6) AS p_day,
           round(c.te * 1.0 / c.tn, 6) AS p_bar,
           round(c.te * 1.0 / c.tn
                 + 3 * sqrt((c.te * 1.0 / c.tn) * (1 - c.te * 1.0 / c.tn)
                            / d.n), 6) AS ucl,
           round(greatest(c.te * 1.0 / c.tn
                 - 3 * sqrt((c.te * 1.0 / c.tn) * (1 - c.te * 1.0 / c.tn)
                            / d.n), 0), 6) AS lcl,
           CASE WHEN d.errs * 1.0 / d.n
                     > c.te * 1.0 / c.tn
                       + 3 * sqrt((c.te * 1.0 / c.tn)
                                  * (1 - c.te * 1.0 / c.tn) / d.n)
                THEN 1
                WHEN d.errs * 1.0 / d.n
                     < greatest(c.te * 1.0 / c.tn
                       - 3 * sqrt((c.te * 1.0 / c.tn)
                                  * (1 - c.te * 1.0 / c.tn) / d.n), 0)
                THEN -1 ELSE 0 END::BIGINT AS out_of_control
    FROM daily d, center c
    ORDER BY d.d
    """,
    doc="Shewhart p-chart on the daily error proportion (E228), the "
    "SPC control chart that separates common-cause noise from "
    "assignable-cause days: centerline p-bar from exact integer "
    "totals, per-day 3-sigma limits scale with that day's sample "
    "size (the variable-n p-chart form), out_of_control = ±1 above/"
    "below. Complements the MAD/seasonal anomaly entries with the "
    "proportion-domain test ops teams actually chart for error "
    "budgets. All counts integer; limits are per-row deterministic "
    "doubles from the same exact totals in both engines. One fact "
    "groupBy to days-dimension + a broadcast 1-row centerline.",
)
def events_error_pchart(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day"))
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("event_type") == "error").cast("long")).alias("errs"),
        )
    )
    center = daily.agg(F.sum("errs").alias("te"), F.sum("n").alias("tn"))
    pbar = F.expr("te * 1.0D / tn")
    sig = F.sqrt(pbar * (1 - pbar) / F.col("n"))
    return (
        daily.crossJoin(F.broadcast(center))
        .select(
            "day",
            F.col("n").alias("events"),
            F.col("errs").alias("errors"),
            F.round(F.expr("errs * 1.0D / n"), 6).alias("p_day"),
            F.round(pbar, 6).alias("p_bar"),
            F.round(pbar + 3 * sig, 6).alias("ucl"),
            F.round(F.greatest(pbar - 3 * sig, F.lit(0.0)), 6).alias("lcl"),
            F.when(F.expr("errs * 1.0D / n") > pbar + 3 * sig, 1)
            .when(
                F.expr("errs * 1.0D / n")
                < F.greatest(pbar - 3 * sig, F.lit(0.0)),
                -1,
            )
            .otherwise(0)
            .cast("long")
            .alias("out_of_control"),
        )
        .orderBy("day")
    )


@register(
    "supplier_graph_assortativity",
    f"""
    WITH {_cosupplier_graph_sql(10)},
    dg AS (
      SELECT node, count(*)::BIGINT AS deg FROM (
        SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e) t
      GROUP BY node
    ),
    ends AS (
      SELECT da.deg AS x, db.deg AS y
      FROM e JOIN dg da ON da.node = e.a JOIN dg db ON db.node = e.b
      UNION ALL
      SELECT db.deg AS x, da.deg AS y
      FROM e JOIN dg da ON da.node = e.a JOIN dg db ON db.node = e.b
    ),
    mom AS (
      SELECT count(*)::BIGINT AS m2,
             sum(x)::BIGINT AS sx, sum(x * x)::BIGINT AS sxx,
             sum(x * y)::BIGINT AS sxy
      FROM ends
    )
    SELECT (m2 / 2)::BIGINT AS edges,
           (SELECT count(*) FROM dg)::BIGINT AS nodes,
           round((CAST(m2 AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sx)
                 / (CAST(m2 AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
             AS assortativity
    FROM mom
    """,
    doc="Degree assortativity of the co-supplier graph (E232, Newman "
    "2002): the Pearson correlation of endpoint degrees over both "
    "orientations of every edge — positive means hubs attach to hubs "
    "(social-network mixing), negative means hub-and-spoke "
    "(technological/dependency mixing); with both orientations the "
    "x and y marginals coincide, so the formula collapses to three "
    "integer moments (Σx, Σx², Σxy over 2|E| rows, degrees bounded "
    "by the top-k sparsification) and ONE rounded division. "
    "Completes the graph-structure readout set: triangles (local "
    "closure), clustering coefficient (normalized closure), k-core "
    "(density layers), assortativity (degree mixing).",
)
def supplier_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _cosupplier_edges(spark, sf_dir, k=10)
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
        .persist()
    )
    j = (
        e.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
    )
    ends = j.select(F.col("da").alias("x"), F.col("db").alias("y")).unionByName(
        j.select(F.col("db").alias("x"), F.col("da").alias("y"))
    )
    mom = ends.agg(
        F.count("*").alias("m2"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nodes = deg.agg(F.count("*").alias("nodes"))
    out = mom.crossJoin(F.broadcast(nodes)).select(
        F.expr("m2 div 2").cast("long").alias("edges"),
        F.col("nodes").cast("long"),
        F.round(
            F.expr(
                "(CAST(m2 AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sx)"
                " / (CAST(m2 AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
            ),
            6,
        ).alias("assortativity"),
    )
    out = out.localCheckpoint(eager=True)
    deg.unpersist()
    return out


@register(
    "part_basket_rules_gtest",
    """
    WITH bi AS (
      SELECT DISTINCT l_orderkey AS bk, l_partkey AS item FROM lineitem
    ),
    isup AS (SELECT item, count(*)::BIGINT AS s FROM bi GROUP BY item),
    pr AS (
      SELECT x.item AS item_a, y.item AS item_b, count(*)::BIGINT AS s11
      FROM bi x JOIN bi y ON x.bk = y.bk AND x.item < y.item
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    nb AS (SELECT count(DISTINCT bk)::BIGINT AS n FROM bi),
    cells AS (
      SELECT pr.item_a, pr.item_b, pr.s11,
             sa.s AS sa, sb.s AS sb, nb.n,
             sa.s - pr.s11 AS s10,
             sb.s - pr.s11 AS s01,
             nb.n - sa.s - sb.s + pr.s11 AS s00
      FROM pr JOIN isup sa ON sa.item = pr.item_a
      JOIN isup sb ON sb.item = pr.item_b CROSS JOIN nb
    ),
    g AS (
      SELECT item_a, item_b, s11, sa, sb, n,
             2.0 * (
               (CASE WHEN s11 > 0 THEN CAST(floor(s11 * (ln(s11 * 1.0 * n)
                  - ln(sa * 1.0 * sb)) * 1e9) AS BIGINT) ELSE 0 END)
             + (CASE WHEN s10 > 0 THEN CAST(floor(s10 * (ln(s10 * 1.0 * n)
                  - ln(sa * 1.0 * (n - sb))) * 1e9) AS BIGINT) ELSE 0 END)
             + (CASE WHEN s01 > 0 THEN CAST(floor(s01 * (ln(s01 * 1.0 * n)
                  - ln((n - sa) * 1.0 * sb)) * 1e9) AS BIGINT) ELSE 0 END)
             + (CASE WHEN s00 > 0 THEN CAST(floor(s00 * (ln(s00 * 1.0 * n)
                  - ln((n - sa) * 1.0 * (n - sb))) * 1e9) AS BIGINT) ELSE 0 END)
             ) / 1e9 AS g_stat
      FROM cells
    ),
    ranked AS (
      SELECT item_a, item_b, s11 AS support, sa AS support_a, sb AS support_b,
             round(s11 * 1.0 * n / (sa * 1.0 * sb), 6) AS lift,
             round(g_stat, 4) AS g_stat,
             CASE WHEN g_stat > 3.841 THEN 1 ELSE 0 END::BIGINT
               AS significant_at_05,
             row_number() OVER (ORDER BY g_stat DESC, item_a, item_b) AS rk
      FROM g
    )
    SELECT item_a, item_b, support, support_a, support_b, lift, g_stat,
           significant_at_05
    FROM ranked WHERE rk <= 20
    ORDER BY g_stat DESC, item_a, item_b
    """,
    doc="G-test significance for co-purchase rules (E233), the "
    "statistical upgrade the lift-ranked basket entry needs: lift "
    "rewards rare coincidences (2 co-baskets of 2 can out-lift a "
    "real pattern), while the likelihood-ratio G over the full 2x2 "
    "contingency (both / a-only / b-only / neither) weighs evidence "
    "mass — top-20 pairs by G with the df=1 alpha=0.05 call. Every "
    "ln argument is an INTEGER product (o*N and row*col margins), "
    "each cell term nano-floors before the exact 4-term sum, so G "
    "is engine-identical. Same bounded pair self-join as the rules "
    "entry; ranking window runs over the pairs dimension.",
)
def part_basket_rules_gtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    bi = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("bk"), F.col("l_partkey").alias("item"))
        .distinct()
        .persist()
    )
    isup = bi.groupBy("item").agg(F.count("*").alias("s"))
    x = bi.select("bk", F.col("item").alias("item_a"))
    y = bi.select("bk", F.col("item").alias("item_b"))
    pr = (
        x.join(y, "bk")
        .filter(F.col("item_b") > F.col("item_a"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("s11"))
        .filter(F.col("s11") >= 2)
    )
    nb = bi.agg(F.countDistinct("bk").alias("n"))
    cells = (
        pr.join(
            F.broadcast(isup.select(F.col("item").alias("item_a"),
                                    F.col("s").alias("sa"))), "item_a")
        .join(
            F.broadcast(isup.select(F.col("item").alias("item_b"),
                                    F.col("s").alias("sb"))), "item_b")
        .crossJoin(F.broadcast(nb))
        .withColumn("s10", F.col("sa") - F.col("s11"))
        .withColumn("s01", F.col("sb") - F.col("s11"))
        .withColumn("s00", F.col("n") - F.col("sa") - F.col("sb") + F.col("s11"))
    )
    term = (
        "(CASE WHEN {o} > 0 THEN CAST(floor({o} * (ln({o} * 1.0D * n)"
        " - ln({r} * 1.0D * {c})) * 1e9) AS BIGINT) ELSE 0 END)"
    )
    g_expr = (
        "2.0D * ("
        + term.format(o="s11", r="sa", c="sb") + " + "
        + term.format(o="s10", r="sa", c="(n - sb)") + " + "
        + term.format(o="s01", r="(n - sa)", c="sb") + " + "
        + term.format(o="s00", r="(n - sa)", c="(n - sb)")
        + ") / 1e9"
    )
    g = cells.withColumn("g_stat", F.expr(g_expr))
    w = Window.orderBy(F.desc("g_stat"), "item_a", "item_b")
    out = (
        g.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select(
            "item_a",
            "item_b",
            F.col("s11").alias("support"),
            F.col("sa").alias("support_a"),
            F.col("sb").alias("support_b"),
            F.round(
                F.expr("s11 * 1.0D * n / (sa * 1.0D * sb)"), 6
            ).alias("lift"),
            F.round("g_stat", 4).alias("g_stat"),
            F.expr(
                "CAST(CASE WHEN g_stat > 3.841D THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("significant_at_05"),
        )
        .orderBy(F.desc("g_stat"), "item_a", "item_b")
    )
    out = out.localCheckpoint(eager=True)
    bi.unpersist()
    return out


@register(
    "part_basket_rules_conviction",
    """
    WITH bi AS (
      SELECT DISTINCT l_orderkey AS bk, l_partkey AS item FROM lineitem
    ),
    isup AS (SELECT item, count(*) AS s FROM bi GROUP BY item),
    freq AS (SELECT item FROM isup WHERE s >= 2),
    fbi AS (SELECT bk, item FROM bi WHERE item IN (SELECT item FROM freq)),
    pr AS (
      SELECT x.item AS item_a, y.item AS item_b, count(*) AS support
      FROM fbi x JOIN fbi y ON x.bk = y.bk AND x.item < y.item
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    dir AS (
      SELECT item_a AS antecedent, item_b AS consequent, support FROM pr
      UNION ALL
      SELECT item_b AS antecedent, item_a AS consequent, support FROM pr
    ),
    nb AS (SELECT CAST(count(DISTINCT bk) AS DOUBLE) AS n FROM bi)
    SELECT antecedent, consequent,
           CAST(support AS BIGINT) AS support,
           CAST(sa.s AS BIGINT) AS support_ante,
           CAST(sc.s AS BIGINT) AS support_cons,
           round(CAST(support AS DOUBLE) / sa.s, 6) AS confidence,
           round(support * nb.n / (sa.s * sc.s), 6) AS lift,
           round(support / nb.n - (sa.s / nb.n) * (sc.s / nb.n), 6)
             AS leverage,
           CASE WHEN support = sa.s THEN NULL
                ELSE round((1.0 - sc.s / nb.n)
                           / (1.0 - CAST(support AS DOUBLE) / sa.s), 6)
           END AS conviction
    FROM dir
    JOIN isup sa ON sa.item = dir.antecedent
    JOIN isup sc ON sc.item = dir.consequent
    CROSS JOIN nb
    """,
    doc="Directed association-rule strength metrics (E247, "
    "operators/itemsets.py::association_rules): every frequent part "
    "pair in both antecedent->consequent directions with confidence, "
    "lift, leverage, and conviction — conviction being the "
    "directional measure retailers act on (how much MORE often the "
    "rule would have to fail under independence), NULL at the "
    "standard infinite-conviction case confidence=1. Integer counts "
    "+ single rounded double expressions: hash-exact. Adds only a "
    "2x-union and two broadcast marginal joins over the "
    "part_basket_rules plan.",
)
def part_basket_rules_conviction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.itemsets import association_rules

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("bk"), F.col("l_partkey").alias("item")
    )
    return association_rules(li, basket_col="bk", item_col="item", min_support=2)


def _hits_steps_sql(iters: int = 2) -> str:
    """CTE unroll of HITS half-iterations with the operator's rounding
    contract (sums rounded to 9 before each L2 norm, scores after)."""
    its = []
    prev_h = "h0"
    a = "a0"
    for t in range(1, iters + 1):
        a = f"a{t}"
        its.append(f"""a{t}r AS (
      SELECT dst AS node, round(sum(w * s.score), 9) AS s
      FROM pairs p JOIN {prev_h} s ON s.node = p.src GROUP BY dst
    ),
    a{t}n AS (SELECT sqrt(sum(s * s)) AS nrm FROM a{t}r),
    a{t} AS (SELECT node, round(s / nrm, 9) AS score FROM a{t}r, a{t}n),
    h{t}r AS (
      SELECT src AS node, round(sum(w * s.score), 9) AS s
      FROM pairs p JOIN a{t} s ON s.node = p.dst GROUP BY src
    ),
    h{t}n AS (SELECT sqrt(sum(s * s)) AS nrm FROM h{t}r),
    h{t} AS (SELECT node, round(s / nrm, 9) AS score FROM h{t}r, h{t}n)""")
        prev_h = f"h{t}"
    return ",\n    ".join(its)


@register(
    "trade_graph_hits",
    f"""
    WITH pairs AS (
      SELECT 'c' || o_custkey AS src, 's' || l_suppkey AS dst,
             CAST(count(*) AS DOUBLE) AS w
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2
    ),
    h0 AS (SELECT DISTINCT src AS node, 1.0 AS score FROM pairs),
    {_hits_steps_sql(2)},
    nodes AS (
      SELECT node FROM (
        SELECT src AS node FROM pairs UNION SELECT dst AS node FROM pairs
      )
    )
    SELECT n.node,
           coalesce(h.score, 0.0) AS hub,
           coalesce(a.score, 0.0) AS authority
    FROM nodes n
    LEFT JOIN h2 h ON h.node = n.node
    LEFT JOIN a2 a ON a.node = n.node
    """,
    doc="HITS hubs-and-authorities (E249, operators/graph.py::hits, 2 "
    "power iterations) on the directed customer->supplier trade "
    "graph: hub score ranks customers by how much they buy from "
    "authoritative suppliers, authority ranks suppliers by how much "
    "authoritative buyers purchase — the mutually-recursive "
    "centrality pair PageRank cannot express on a bipartite graph. "
    "Each half-iteration is one O(|E|) equi-join + node-sized groupBy "
    "+ 1-row L2-norm broadcast; per-node sums round to 9 decimals "
    "before the norm and scores after (the PageRank determinism "
    "contract), so the oracle unrolls both iterations in CTEs and "
    "hash-matches.",
)
def trade_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import hits

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count("*").cast("double").alias("w"))
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
            "w",
        )
    )
    # decimals=9 == iter_decimals: a second 6-decimal rounding of a
    # 9-rounded score lands exactly on .5 boundaries (found at sf0.01:
    # 0.0315255 flipped between engines) — emit at iteration precision
    return hits(pairs, iters=2, weight_col="w", decimals=9)


@register(
    "customer_mahalanobis_outliers",
    """
    WITH feat AS (
      SELECT o_custkey AS c_custkey,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS spend_cents,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_custkey
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(spend_cents) AS DOUBLE) AS sx,
             CAST(sum(n_orders) AS DOUBLE) AS sy,
             CAST(sum(CAST(spend_cents AS HUGEINT) * spend_cents)
                  AS DOUBLE) AS sxx,
             CAST(sum(CAST(n_orders AS HUGEINT) * n_orders) AS DOUBLE) AS syy,
             CAST(sum(CAST(spend_cents AS HUGEINT) * n_orders) AS DOUBLE) AS sxy
      FROM feat
    ),
    cov AS (
      SELECT n, sx / n AS mx, sy / n AS my,
             sxx / n - (sx / n) * (sx / n) AS vx,
             syy / n - (sy / n) * (sy / n) AS vy,
             sxy / n - (sx / n) * (sy / n) AS cxy
      FROM mom
    ),
    d AS (
      SELECT f.c_custkey,
             round(f.spend_cents / 100.0, 2) AS total_spend,
             f.n_orders,
             round(
               ((f.spend_cents - c.mx) * (f.spend_cents - c.mx) * c.vy
                - 2 * (f.spend_cents - c.mx) * (f.n_orders - c.my) * c.cxy
                + (f.n_orders - c.my) * (f.n_orders - c.my) * c.vx)
               / (c.vx * c.vy - c.cxy * c.cxy),
               4) AS d2
      FROM feat f CROSS JOIN cov c
    )
    SELECT c_custkey, total_spend, n_orders, d2,
           CAST(CASE WHEN d2 > 13.8155 THEN 1 ELSE 0 END AS BIGINT)
             AS is_extreme
    FROM d WHERE d2 >= 9.2103
    """,
    doc="Multivariate outlier detection via 2-D Mahalanobis distance "
    "(E251) on per-customer (total spend, order count): the "
    "correlation-aware generalization of the univariate z-score DQ "
    "rule — a customer can be unremarkable on each margin yet far "
    "from the joint distribution (few orders, huge spend). The 2x2 "
    "covariance inverts in closed form, so d^2 is a single "
    "expression over one moments aggregate: moments accumulate "
    "128-bit-exact from integer cents (Sxx ~ 1e21 overflows int64; "
    "decimal accumulation is the Theil-fix audit rule), and every "
    "engine-facing double derives from the same exact integers. "
    "Emits customers past the chi2(2) 99% cut (9.21), flagging the "
    "99.9% extremes (13.82). Plan: one groupBy + one 1-row moment "
    "aggregate broadcast back — two scans of the orders rollup, "
    "nothing order-sized joined.",
)
def customer_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    feat = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("spend_cents"),
        F.count("*").cast("long").alias("n_orders"),
    ).persist()
    mom = feat.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("spend_cents").cast("double").alias("sx"),
        F.sum("n_orders").cast("double").alias("sy"),
        F.sum(F.expr("CAST(spend_cents AS DECIMAL(38,0)) * spend_cents"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.expr("CAST(n_orders AS DECIMAL(38,0)) * n_orders"))
        .cast("double")
        .alias("syy"),
        F.sum(F.expr("CAST(spend_cents AS DECIMAL(38,0)) * n_orders"))
        .cast("double")
        .alias("sxy"),
    )
    cov = mom.select(
        (F.col("sx") / F.col("n")).alias("mx"),
        (F.col("sy") / F.col("n")).alias("my"),
        (F.col("sxx") / F.col("n") - (F.col("sx") / F.col("n")) * (F.col("sx") / F.col("n"))).alias("vx"),
        (F.col("syy") / F.col("n") - (F.col("sy") / F.col("n")) * (F.col("sy") / F.col("n"))).alias("vy"),
        (F.col("sxy") / F.col("n") - (F.col("sx") / F.col("n")) * (F.col("sy") / F.col("n"))).alias("cxy"),
    )
    dx = F.col("spend_cents") - F.col("mx")
    dy = F.col("n_orders") - F.col("my")
    d2 = F.round(
        (dx * dx * F.col("vy") - 2 * dx * dy * F.col("cxy") + dy * dy * F.col("vx"))
        / (F.col("vx") * F.col("vy") - F.col("cxy") * F.col("cxy")),
        4,
    )
    out = (
        feat.crossJoin(F.broadcast(cov))
        .select(
            "c_custkey",
            F.round(F.col("spend_cents") / 100.0, 2).alias("total_spend"),
            "n_orders",
            d2.alias("d2"),
        )
        .filter(F.col("d2") >= 9.2103)
        .withColumn(
            "is_extreme", (F.col("d2") > 13.8155).cast("long")
        )
    )
    out = out.localCheckpoint(eager=True)
    feat.unpersist()
    return out


@register(
    "customer_blocking_quality",
    """
    WITH src AS (
      SELECT c_mktsegment AS seg,
             CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
             c_custkey AS ck
      FROM customer
    ),
    segsz AS (SELECT seg, count(*)::BIGINT AS n FROM src GROUP BY seg),
    total_pairs AS (
      SELECT sum(n * (n - 1) / 2)::BIGINT AS n_total FROM segsz
    ),
    b AS (SELECT seg, cents, ck, CAST(floor(cents / 100.0) AS BIGINT) AS bucket FROM src),
    truth AS (
      SELECT count(*)::BIGINT AS n_truth
      FROM b a
      JOIN (SELECT * FROM range(0, 2) t(d)) d ON TRUE
      JOIN b c ON c.seg = a.seg AND c.bucket = a.bucket + d.d
      WHERE (c.cents > a.cents OR (c.cents = a.cents AND c.ck > a.ck))
        AND c.cents - a.cents <= 100
    ),
    r AS (
      SELECT seg, cents, ck,
             row_number() OVER (PARTITION BY seg ORDER BY cents, ck) AS rk
      FROM src
    ),
    cand AS (
      SELECT count(*)::BIGINT AS n_cand
      FROM r a
      CROSS JOIN (SELECT * FROM range(1, 4) t(d)) d
      JOIN r c ON c.seg = a.seg AND c.rk = a.rk + d.d
      WHERE c.cents - a.cents <= 100
    )
    SELECT (SELECT sum(n) FROM segsz)::BIGINT AS n_records,
           total_pairs.n_total AS n_total_pairs,
           truth.n_truth AS n_truth_pairs,
           cand.n_cand AS n_candidates,
           round(CAST(cand.n_cand AS DOUBLE) / truth.n_truth, 6)
             AS pairs_completeness,
           round(1.0 - CAST(cand.n_cand AS DOUBLE) / total_pairs.n_total, 6)
             AS reduction_ratio
    FROM total_pairs CROSS JOIN truth CROSS JOIN cand
    """,
    doc="Blocking-quality evaluation for the entity-resolution "
    "pipeline (the standard pairs-completeness / reduction-ratio "
    "report, Christen 2012 — public): ground truth = ALL same-"
    "segment customer pairs within $1 of account balance, counted "
    "EXACTLY without an n^2 join by the $1-bucket trick (a "
    "within-100-cents pair can only span adjacent 100-cent buckets, "
    "so an equi-join on bucket and bucket+1 covers every truth "
    "pair once under (cents, custkey) ordering); candidates = the "
    "w=3 sorted-neighborhood pairs of customer_snm_pairs. "
    "Pairs-completeness is the blocking recall (SNM candidates are "
    "truth pairs by construction, so the ratio isolates what the "
    "window MISSES); reduction ratio is 1 - candidates/all-pairs. "
    "Scale shape: both counts are bounded-fanout equi-joins "
    "(bucket adjacency, rank+d) — no inequality join, no n^2 "
    "anywhere; bucket/window density bounds the per-key fanout "
    "exactly as in the SNM entry.",
)
def customer_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    src = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        F.col("c_custkey").alias("ck"),
    ).persist()
    segsz = src.groupBy("seg").agg(F.count("*").alias("n"))
    total_pairs = segsz.agg(
        (F.sum(F.col("n") * (F.col("n") - 1) / 2))
        .cast("long")
        .alias("n_total")
    )
    n_records = segsz.agg(F.sum("n").cast("long").alias("n_records"))
    b = src.withColumn("bucket", F.floor(F.col("cents") / 100.0).cast("long"))
    offs = spark.range(0, 2).select(F.col("id").alias("d"))
    left = b.select(
        "seg",
        F.col("cents").alias("ca"),
        F.col("ck").alias("ka"),
        F.col("bucket").alias("ba"),
    )
    right = b.select(
        F.col("seg").alias("seg2"),
        F.col("cents").alias("cb"),
        F.col("ck").alias("kb"),
        F.col("bucket").alias("bb"),
    )
    truth = (
        left.crossJoin(F.broadcast(offs))
        .join(
            right,
            (F.col("seg2") == F.col("seg"))
            & (F.col("bb") == F.col("ba") + F.col("d")),
        )
        .filter(
            (
                (F.col("cb") > F.col("ca"))
                | ((F.col("cb") == F.col("ca")) & (F.col("kb") > F.col("ka")))
            )
            & (F.col("cb") - F.col("ca") <= 100)
        )
        .agg(F.count("*").alias("n_truth"))
    )
    rk = src.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("seg").orderBy(
                F.col("cents").asc(), F.col("ck").asc()
            )
        ),
    )
    rl = rk.select("seg", F.col("cents").alias("ca"), F.col("rk").alias("ra"))
    rr = rk.select(
        F.col("seg").alias("seg2"),
        F.col("cents").alias("cb"),
        F.col("rk").alias("rb"),
    )
    w_offs = spark.range(1, 4).select(F.col("id").alias("d"))
    cand = (
        rl.crossJoin(F.broadcast(w_offs))
        .join(
            rr,
            (F.col("seg2") == F.col("seg"))
            & (F.col("rb") == F.col("ra") + F.col("d")),
        )
        .filter(F.col("cb") - F.col("ca") <= 100)
        .agg(F.count("*").alias("n_cand"))
    )
    out = (
        n_records.crossJoin(F.broadcast(total_pairs))
        .crossJoin(F.broadcast(truth))
        .crossJoin(F.broadcast(cand))
        .select(
            "n_records",
            F.col("n_total").alias("n_total_pairs"),
            F.col("n_truth").alias("n_truth_pairs"),
            F.col("n_cand").alias("n_candidates"),
            F.round(
                F.col("n_cand").cast("double") / F.col("n_truth"), 6
            ).alias("pairs_completeness"),
            F.round(
                F.lit(1.0)
                - F.col("n_cand").cast("double") / F.col("n_total"),
                6,
            ).alias("reduction_ratio"),
        )
    )
    rows = out.collect()
    src.unpersist()
    return spark.createDataFrame(rows, out.schema)


@register(
    "supplier_graph_jaccard_linkpred",
    f"""
    WITH {_cosupplier_graph_sql(10)},
    half AS (
      SELECT a AS z, b AS nbr FROM e
      UNION ALL SELECT b AS z, a AS nbr FROM e
    ),
    dg AS (SELECT z, count(*)::BIGINT AS deg FROM half GROUP BY z),
    pr AS (
      SELECT a1.nbr AS u, a2.nbr AS v, count(*)::BIGINT AS cn
      FROM half a1 JOIN half a2 ON a1.z = a2.z AND a1.nbr < a2.nbr
      GROUP BY 1, 2
    )
    SELECT pr.u, pr.v, pr.cn AS common_neighbors,
           du.deg AS deg_u, dv.deg AS deg_v,
           round(CAST(pr.cn AS DOUBLE) / (du.deg + dv.deg - pr.cn), 6)
             AS jaccard
    FROM pr
    JOIN dg du ON du.z = pr.u
    JOIN dg dv ON dv.z = pr.v
    WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = pr.u AND e.b = pr.v)
    """,
    doc="Jaccard-coefficient link prediction over the sparsified "
    "co-supplier graph (operators/graph.py::jaccard_coefficient) — "
    "the set-overlap companion to supplier_graph_adamic_adar: for "
    "every non-adjacent pair with a common neighbor, "
    "|N(u) ∩ N(v)| / |N(u) ∪ N(v)| via cn / (deg u + deg v - cn). "
    "Numerator and denominator are exact BIGINT counts (one wedge "
    "self-join keyed on the common neighbor + one anti-join), so "
    "the score is a single division — no unit scaling needed. "
    "Scale shape identical to AA: wedge cost Σ deg(z)², hub-bounded "
    "here by the top-10 sparsification and in the operator by "
    "max_hub_degree-style caps upstream.",
)
def supplier_graph_jaccard_linkpred(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators.graph import jaccard_coefficient

    return jaccard_coefficient(_cosupplier_edges(spark, sf_dir, k=10))
