import re

import pytest

from data_pipelines_snowflake_procedures_spark.operators.dq import (
    run_table_dq,
    score_table_pillars,
)
from data_pipelines_snowflake_procedures_spark.operators.profile import profile_table
from data_pipelines_snowflake_procedures_spark.session import load_table


def test_profile_table_shape(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    prof = profile_table(cust)
    assert set(prof) == set(cust.columns)
    p = prof["c_custkey"]
    assert p["count_all"] == 1500
    assert p["count_distinct"] == 1500
    assert p["count_nulls"] == 0
    assert p["null_ratio"] == 0.0
    assert p["distinct_ratio"] == 1.0
    assert p["numeric_stats"] is not None
    assert prof["c_mktsegment"]["numeric_stats"] is None


def test_profile_approx_close(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    prof = profile_table(cust, approx=True)
    exact = 1500
    approx = prof["c_custkey"]["count_distinct"]
    assert abs(approx - exact) / exact < 0.06


def test_score_table_pillars_arithmetic():
    prof = {
        "null_ratio": 0.1,
        "distinct_ratio": 0.5,
        "count_all": 100,
        "count_future": 10,
        "numeric_stats": {"AVG_VAL": "-5.0"},
    }
    s = score_table_pillars(prof, dtype_numeric=True, dtype_datelike=True)
    assert abs(s["completeness"] - 0.9) < 1e-12
    assert abs(s["uniqueness"] - 0.5) < 1e-12
    assert s["validity"] == 0.5  # negative average
    assert abs(s["accuracy"] - 0.9) < 1e-12
    assert s["consistency"] == 1.0
    assert abs(s["column_score"] - (0.9 + 0.5 + 0.5 + 0.9 + 1.0) / 5) < 1e-12


def test_run_table_dq_report_shape(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    rep = run_table_dq(orders, "orders", now="1995-06-01 00:00:00")
    assert rep["target_table"] == "orders"
    assert set(rep["dq_results"]) == set(orders.columns)
    okey = rep["dq_results"]["o_orderkey"]
    assert okey["completeness"]["score"] == 1.0
    assert okey["uniqueness"]["score"] == 1.0
    # o_orderdate: some orders are after 1995-06-01 → accuracy < 1
    assert rep["dq_results"]["o_orderdate"]["accuracy"]["score"] < 1.0
    assert 0 < rep["table_score"] <= 1.0


def _file_dq(spark, rows, schema):
    from data_pipelines_snowflake_procedures_spark.sources.discovery import (
        run_file_dq_distributed,
    )

    return run_file_dq_distributed(spark.createDataFrame(rows, schema))[0]


def test_run_file_dq_reference_semantics(spark):
    ks = list(range(1, 11))
    cats = ["a"] * 9 + [None]
    dups = ["x"] * 8 + ["y", "x"]
    results = _file_dq(spark, list(zip(ks, cats, dups)), "k BIGINT, cat STRING, dup STRING")
    by = {(r["pillar"], r["column"]): r for r in results}
    # completeness: cat has 1 null of 10 → 0.9 → failed at 0.95
    assert abs(by[("completeness", "cat")]["result"] - 0.9) < 1e-12
    assert by[("completeness", "cat")]["status"] == "failed"
    # uniqueness: k is fully unique → passed
    assert by[("uniqueness", "k")]["result"] == 1.0
    assert by[("uniqueness", "k")]["status"] == "passed"
    # validity is a real bool (reference emitted str(valid))
    assert by[("validity", "k")]["result"] is True
    # consistency: cat→dup: 'a' maps to both x and y → failed
    assert by[("consistency", "cat->dup")]["result"] == 0.0
    assert by[("consistency", "dup->cat")]["result"] == 1.0
    # accuracy on k: no 3σ outliers in a uniform ramp
    assert by[("accuracy", "k")]["result"] == 1.0


def test_run_file_dq_rare_values(spark):
    # 200 rows: one dominant value + 2 singleton (0.5% < 1%) values
    vals = ["common"] * 198 + ["rare1", "rare2"]
    results = _file_dq(spark, [(v,) for v in vals], "s STRING")
    acc = [r for r in results if r["pillar"] == "accuracy" and r["column"] == "s"][0]
    assert abs(acc["result"] - (1.0 - 2 / 200)) < 1e-12


def test_approx_profile_within_tolerance(spark, sf_dir):
    """HLL approx_count_distinct profiling (the 100 TB path) tracks the
    exact distinct counts within the configured 2% rsd (3 sigma)."""
    from data_pipelines_snowflake_procedures_spark.operators.profile import (
        profile_long,
    )
    from data_pipelines_snowflake_procedures_spark.session import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_returnflag"
    )
    exact = {
        r["column_name"]: r["count_distinct"]
        for r in profile_long(li).collect()
    }
    approx = {
        r["column_name"]: r["count_distinct"]
        for r in profile_long(li, approx=True).collect()
    }
    for col, ex in exact.items():
        ap = approx[col]
        assert abs(ap - ex) <= max(0.06 * ex, 2), (col, ex, ap)


def _duckdb_file_dq(con, table, cols):
    """The file-engine rule records recomputed in DuckDB from the
    reference semantics (Data_Discovery_File.sql:97-313):
    ``{(pillar, column): (result, status)}``."""
    types = dict(
        con.execute(f"SELECT column_name, column_type FROM (DESCRIBE {table})").fetchall()
    )
    n = con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
    total = max(n, 1)
    out = {}

    def status(ok):
        return "passed" if ok else "failed"

    for c in cols:
        nonnull, distinct = con.execute(
            f'SELECT count("{c}"), count(DISTINCT "{c}") FROM {table}'
        ).fetchone()
        for pillar, count in (("completeness", nonnull), ("uniqueness", distinct)):
            out[(pillar, c)] = (round(count / total, 6), status(count / total >= 0.95))
        out[("validity", c)] = (True, "passed")
        if types[c] in ("BIGINT", "INTEGER", "DOUBLE"):
            # a NaN makes the mean and stddev NaN, and no value compares
            # greater than NaN (DuckDB's stddev raises on NaN instead)
            nan = f'isnan("{c}"::DOUBLE)'
            outliers = con.execute(
                f"""WITH st AS (
                      SELECT bool_or({nan}) AS has_nan,
                             avg("{c}") FILTER (WHERE NOT {nan}) AS m,
                             stddev_samp("{c}") FILTER (WHERE NOT {nan}) AS sd
                      FROM {table})
                    SELECT count(*) FILTER (WHERE NOT coalesce(has_nan, false)
                                            AND abs("{c}" - m) > 3 * sd)
                    FROM {table}, st"""
            ).fetchone()[0]
            value = 1.0 - outliers / nonnull if nonnull else 1.0
            out[("accuracy", c)] = (round(value, 6), status(value >= 0.95))
        elif types[c] == "VARCHAR" and nonnull:
            rare = con.execute(
                f"""SELECT coalesce(sum(cnt) FILTER (WHERE cnt / {nonnull} < 0.01), 0)
                    FROM (SELECT count(*) AS cnt FROM {table}
                          WHERE "{c}" IS NOT NULL GROUP BY "{c}")"""
            ).fetchone()[0]
            value = round(1.0 - rare / nonnull, 6)
            out[("accuracy", c)] = (value, status(value >= 0.95))
    for c1 in cols:
        for c2 in cols:
            if c1 == c2:
                continue
            bad = con.execute(
                f"""SELECT count(*) FROM (SELECT "{c1}" FROM {table}
                    WHERE "{c1}" IS NOT NULL AND "{c2}" IS NOT NULL
                    GROUP BY "{c1}" HAVING count(DISTINCT "{c2}") > 1)"""
            ).fetchone()[0]
            out[("consistency", f"{c1}->{c2}")] = (float(bad == 0), status(bad == 0))
    return out


def test_file_dq_matches_duckdb(spark, duck):
    """The file-DQ sweep's records equal a DuckDB recomputation of the
    reference rules on frames with nulls, an all-null string column
    (no rare-value record: no frequencies), NaN and -0.0 doubles (one
    value each, as in Spark's and DuckDB's grouping), a unique string
    column of 150 rows (every value rare), a single column, no rows,
    and column names that need quoting."""
    import pyarrow as pa
    from pyspark.sql import types as T

    from data_pipelines_snowflake_procedures_spark.sources.discovery import (
        run_file_dq_distributed,
    )

    nan = float("nan")
    n = 150
    mixed = [
        ("k", "BIGINT", list(range(n))),
        ("uniq", "STRING", [f"u{i}" for i in range(n)]),
        ("blank", "STRING", [None] * n),
        ("x", "DOUBLE", [[nan, -0.0, 0.0, None, 1.5][i % 5] for i in range(n)]),
        ("cat", "STRING", [["a", "b", None][i % 3] for i in range(n)]),
        ("grp", "INT", [i % 4 for i in range(n)]),
        ("y", "DOUBLE", [1e9 if i in (7, 8) else float(i % 10) for i in range(n)]),
        ("h", "BIGINT", [i // 75 for i in range(n)]),
        ("z", "DOUBLE", [-0.0 if i % 2 else 0.0 for i in range(n)]),
        ("w", "STRING", [["n", "neg", "pos", "n", "n"][i % 5] for i in range(n)]),
    ]
    frames = {
        "mixed": mixed,
        "single": [("a", "INT", [i % 3 for i in range(10)])],
        "empty": [("a", "BIGINT", []), ("s", "STRING", []), ("d", "DOUBLE", [])],
        # names that need quoting in SQL text
        "names": [
            ("it's a\\b", "STRING", ["p", "q"] * 3),
            ("two words", "BIGINT", [1, 1, 2, 2, 3, 3]),
        ],
    }
    types = {
        "BIGINT": (pa.int64(), T.LongType()),
        "INT": (pa.int32(), T.IntegerType()),
        "STRING": (pa.string(), T.StringType()),
        "DOUBLE": (pa.float64(), T.DoubleType()),
    }
    swept = {}
    for name, fields in frames.items():
        table = pa.table({c: pa.array(v, types[t][0]) for c, t, v in fields})
        duck.register(f"file_dq_{name}", table)
        want = _duckdb_file_dq(duck, f"file_dq_{name}", [c for c, _, _ in fields])
        schema = T.StructType([T.StructField(c, types[t][1]) for c, t, _ in fields])
        rows = list(zip(*(v for _, _, v in fields)))
        records, row_count = run_file_dq_distributed(spark.createDataFrame(rows, schema))
        assert row_count == len(rows)
        got = {(r["pillar"], r["column"]): (r["result"], r["status"]) for r in records}
        assert got.keys() == want.keys(), (name, got.keys() ^ want.keys())
        diffs = {
            k: (got[k], want[k])
            for k in want
            if got[k][1] != want[k][1] or abs(got[k][0] - want[k][0]) > 1e-9
        }
        assert not diffs, (name, diffs)
        swept[name] = got
    assert ("accuracy", "blank") not in swept["mixed"]
    # every value of the unique 150-row column is under 1%
    assert swept["mixed"][("accuracy", "uniq")] == (0.0, "failed")
    # -0.0 and 0.0 are one value: h -> z holds, x -> w does not
    assert swept["mixed"][("consistency", "h->z")] == (1.0, "passed")
    assert swept["mixed"][("consistency", "x->w")] == (0.0, "failed")
    assert not any(p == "consistency" for p, _ in swept["single"])


@pytest.mark.slowtier
def test_fd_keylike_prefilter_skips_exactly_and_identically(spark):
    """VERDICT r3 #7: pairs whose determinant is unique are emitted as
    literal passed rows — answers bit-identical to the full sweep, with
    the unique column's (N-1) grouped-agg subplans gone from the plan."""
    from data_pipelines_snowflake_procedures_spark.operators.dq import (
        fd_consistency_long,
    )

    df = spark.createDataFrame(
        [
            (1, "a", "x", 10),
            (2, "a", "x", 10),
            (3, "b", "y", 20),
            (4, "b", "z", 20),  # b -> {y, z}: cat->sub fails
        ],
        "id BIGINT, cat STRING, sub STRING, price BIGINT",
    )

    def as_map(frame):
        return {
            r["pair"]: (r["inconsistent_keys"], r["result"], r["status"])
            for r in frame.collect()
        }

    full = as_map(fd_consistency_long(df))
    fast = fd_consistency_long(df, profile_keylike=True)
    assert as_map(fast) == full
    # id is unique -> id->* trivially passes; cat->sub genuinely fails
    assert full["id->cat"] == (0, 1.0, "passed")
    assert full["cat->sub"][2] == "failed"
    # the skipped determinant is not stacked: the level-1 aggregate
    # groups one value slot per scanned determinant, 4 in the full sweep
    # and 3 once id is known unique
    def value_slots(frame):
        plan = frame._jdf.queryExecution().optimizedPlan().toString()
        return len(set(re.findall(r"__v\d+", plan)))

    assert value_slots(fd_consistency_long(df)) == 4
    assert value_slots(fast) == 3
    # passing a pre-proven set (the run_file_dq_distributed path) gives
    # the same answers with zero extra profiling action
    pre = as_map(fd_consistency_long(df, known_unique_cols={"id"}))
    assert pre == full


def test_robust_outlier_approx_close_to_exact(spark, sf_dir):
    """The histogram-binned (quantile_disc over integer cents) robust
    profile must track the exact interpolating form: identical groups
    and counts, medians/MADs within the discrete-vs-interpolated gap
    (one central-value step — bounded here by 0.05), outlier counts
    within 2% of the group. Same exact/binned pairing as
    documents_quality_auc / _binned."""
    from data_pipelines_snowflake_procedures_spark.queries import REGISTRY

    exact = {
        r["event_type"]: r
        for r in REGISTRY["events_robust_outlier_profile"]
        .spark_fn(spark, sf_dir)
        .collect()
    }
    approx = {
        r["event_type"]: r
        for r in REGISTRY["events_robust_outlier_profile_approx"]
        .spark_fn(spark, sf_dir)
        .collect()
    }
    assert set(exact) == set(approx) and exact
    for t, e in exact.items():
        a = approx[t]
        assert a["n_events"] == e["n_events"]
        assert abs(a["median_value"] - e["median_value"]) <= 0.05, t
        assert abs(a["mad"] - e["mad"]) <= 0.05, t
        assert (
            abs(a["n_robust_outliers"] - e["n_robust_outliers"])
            <= max(2, 0.02 * e["n_events"])
        ), t
