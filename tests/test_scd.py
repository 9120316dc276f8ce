"""Unit tests for SCD1 merge (SURVEY.md §2.12 G1) with duplicate-key,
out-of-order-CREATED_AT sources — the hard cases called out in §7."""

from __future__ import annotations

from data_pipelines_snowflake_procedures_spark.operators.scd import (
    dedup_latest,
    scd1_merge,
)


def _target(spark):
    return spark.createDataFrame(
        [(1, "a", 100.0), (2, "b", 200.0), (3, "c", 300.0)],
        ["k", "name", "amount"],
    )


def _source(spark):
    # key 2: three versions arriving out of order — ts=3 must win.
    # key 9: new key with two versions — ts=2 must win.
    return spark.createDataFrame(
        [
            (2, "b2", 201.0, 2),
            (2, "b3", 202.0, 3),
            (2, "b1", 199.0, 1),
            (9, "new-old", 900.0, 1),
            (9, "new", 901.0, 2),
        ],
        ["k", "name", "amount", "created_at"],
    )


def test_dedup_latest(spark):
    out = dedup_latest(_source(spark), ["k"], "created_at").collect()
    by_key = {r["k"]: r for r in out}
    assert len(out) == 2
    assert by_key[2]["name"] == "b3"
    assert by_key[9]["name"] == "new"


def test_dedup_latest_tiebreaker(spark):
    df = spark.createDataFrame(
        [(1, "x", 1, 10), (1, "y", 1, 20)], ["k", "v", "created_at", "seq"]
    )
    out = dedup_latest(df, ["k"], "created_at", tiebreakers=["seq"]).collect()
    assert len(out) == 1 and out[0]["v"] == "y"


def test_scd1_merge_updates_and_inserts(spark):
    merged = scd1_merge(_target(spark), _source(spark), ["k"], "created_at")
    rows = {r["k"]: r for r in merged.collect()}
    assert set(rows) == {1, 2, 3, 9}
    assert rows[1]["name"] == "a"  # untouched target row
    assert rows[2]["name"] == "b3" and rows[2]["amount"] == 202.0  # latest wins
    assert rows[9]["name"] == "new"  # insert, deduped
    assert merged.columns == ["k", "name", "amount"]  # target schema preserved


def _scd2_target(spark):
    import datetime as dt

    t = dt.datetime
    return spark.createDataFrame(
        [
            # key 1: one closed version + one current
            (1, "a-v1", 100.0, t(2020, 1, 1), t(2021, 1, 1), False),
            (1, "a-v2", 110.0, t(2021, 1, 1), None, True),
            # key 2: single current version
            (2, "b", 200.0, t(2020, 6, 1), None, True),
            # key 3: single current version
            (3, "c", 300.0, t(2020, 6, 1), None, True),
        ],
        "k INT, name STRING, amount DOUBLE, effective_from TIMESTAMP, "
        "effective_to TIMESTAMP, is_current BOOLEAN",
    )


def test_scd2_merge(spark):
    import datetime as dt

    from data_pipelines_snowflake_procedures_spark.operators.scd import scd2_merge

    t = dt.datetime
    source = spark.createDataFrame(
        [
            # key 2 changes (two versions in batch: latest wins)
            (2, "b-new-old", 201.0, t(2022, 1, 1)),
            (2, "b-new", 202.0, t(2022, 2, 1)),
            # key 3 unchanged
            (3, "c", 300.0, t(2022, 2, 1)),
            # key 9 brand new
            (9, "new", 900.0, t(2022, 3, 1)),
        ],
        "k INT, name STRING, amount DOUBLE, created_at TIMESTAMP",
    )
    merged = scd2_merge(
        _scd2_target(spark),
        source,
        keys=["k"],
        change_cols=["name", "amount"],
        effective_col="created_at",
    )
    rows = sorted(
        merged.collect(), key=lambda r: (r["k"], r["effective_from"])
    )
    by_key = {}
    for r in rows:
        by_key.setdefault(r["k"], []).append(r)

    # key 1 untouched (not in source): history + current preserved
    assert [r["name"] for r in by_key[1]] == ["a-v1", "a-v2"]
    assert by_key[1][1]["is_current"] is True
    # key 2: old current closed at latest source effective time,
    # new current row from the LATEST source version (dedup)
    assert len(by_key[2]) == 2
    closed, current = by_key[2]
    assert closed["is_current"] is False
    assert closed["effective_to"] == t(2022, 2, 1)
    assert current["name"] == "b-new" and current["is_current"] is True
    assert current["effective_from"] == t(2022, 2, 1)
    assert current["effective_to"] is None
    # key 3 unchanged: single current row, untouched effective_from
    assert len(by_key[3]) == 1
    assert by_key[3][0]["effective_from"] == t(2020, 6, 1)
    assert by_key[3][0]["is_current"] is True
    # key 9 inserted as current
    assert len(by_key[9]) == 1 and by_key[9][0]["is_current"] is True


def test_snapshot_diff_classifies_and_null_transitions(spark):
    """insert/update/delete classification, null-safe change detection
    (NULL->value and value->NULL are updates), unchanged rows absent."""
    from data_pipelines_snowflake_procedures_spark.operators.scd import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, "d", 40.0)],
        "k BIGINT, s STRING, v DOUBLE",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0),        # unchanged -> absent from diff
         (2, "b", 20.0),        # NULL -> value: update
         (3, None, 30.0),       # value -> NULL: update
         (5, "e", 50.0)],       # new key: insert; key 4 gone: delete
        "k BIGINT, s STRING, v DOUBLE",
    )
    out = {
        r["k"]: r
        for r in snapshot_diff(old, new, ["k"], ["s", "v"]).collect()
    }
    assert set(out) == {2, 3, 4, 5}
    assert out[2]["op"] == "update" and out[2]["v_old"] is None and out[2]["v_new"] == 20.0
    assert out[3]["op"] == "update" and out[3]["s_new"] is None
    assert out[4]["op"] == "delete" and out[4]["s_new"] is None and out[4]["s_old"] == "d"
    assert out[5]["op"] == "insert" and out[5]["s_old"] is None


def test_rollup_maintain_stream_state_sized_and_exactly_once(
    spark, sf_dir, tmp_path
):
    """Streaming incremental maintenance invariants: the persisted
    state is KEYS-sized (one row per grouping key, never
    history-sized), and re-running a replay against its own checkpoint
    folds nothing twice — the exactly-once property foreachBatch's
    checkpoint + the atomic stage-and-swap commit provide together."""
    from data_pipelines_snowflake_procedures_spark.session import load_table
    from data_pipelines_snowflake_procedures_spark.streaming.stream import (
        drain_bounded_replays,
        make_rollup_fold,
        read_events_stream,
    )

    state = str(tmp_path / "state")
    src = read_events_stream(spark, sf_dir)

    def replay():
        fold = make_rollup_fold(spark, state, ["event_type"], "value", "0")
        drain_bounded_replays(state, [(src, fold, "0")])
        return sorted(map(tuple, spark.read.parquet(state).collect()))

    st1 = replay()
    n_keys = (
        load_table(spark, sf_dir, "events")
        .select("event_type").distinct().count()
    )
    assert len(st1) == n_keys
    # same source + same checkpoint: availableNow finds nothing new,
    # the state must be byte-for-byte unchanged
    assert replay() == st1


def test_rollup_fold_redelivery_and_schema_drift(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: redelivering the SAME batch_id
    must fold nothing twice (the _applied marker travels through the
    atomic swap). And a state whose schema no longer matches must
    RAISE, not silently reset the accumulated aggregates to one
    batch's partials (the bootstrap branch is for a missing state
    only)."""
    import pytest

    from data_pipelines_snowflake_procedures_spark.streaming.stream import (
        make_rollup_fold,
    )

    state = str(tmp_path / "state")
    batch = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 2.0)], "k STRING, v DOUBLE"
    )
    fold = make_rollup_fold(spark, state, ["k"], "v", "0")
    fold(batch, 0)
    st1 = sorted(map(tuple, spark.read.parquet(state).collect()))
    fold(batch, 0)  # redelivery of the same batch
    st2 = sorted(map(tuple, spark.read.parquet(state).collect()))
    assert st1 == st2, "redelivered batch was folded twice"
    fold(batch, 1)  # a genuinely new batch DOES fold
    st3 = {r["k"]: r["sum"] for r in spark.read.parquet(state).collect()}
    assert st3["a"] == 8.0 and st3["b"] == 4.0

    # schema drift: folding different keys into this state must raise
    drifted = spark.createDataFrame(
        [("a", "x", 1.0)], "k STRING, k2 STRING, v DOUBLE"
    )
    bad = make_rollup_fold(spark, state, ["k", "k2"], "v", "1")
    with pytest.raises(Exception):
        bad(drifted, 0)
    # and the state is untouched by the failed fold
    st4 = {r["k"]: r["sum"] for r in spark.read.parquet(state).collect()}
    assert st4 == st3


def test_state_fold_recovers_a_swap_cut_between_its_renames(
    spark, tmp_path, monkeypatch
):
    """A crash between commit_swap's two renames leaves ``state.old``
    and a complete ``state.staging`` and no state. The redelivered
    batch must fold into the last committed version (here the
    promoted staging, which already carries its marker), not bootstrap
    from the batch alone and lose every committed row."""
    import os

    import pytest

    from data_pipelines_snowflake_procedures_spark.streaming.stream import (
        make_rollup_fold,
    )

    state = str(tmp_path / "state")
    fold = make_rollup_fold(spark, state, ["k"], "v", "0")
    fold(spark.createDataFrame([("a", 1), ("b", 2)], "k STRING, v LONG"), 0)
    b1 = spark.createDataFrame([("a", 10)], "k STRING, v LONG")

    rename, calls = os.rename, []

    def crash_on_second(src, dst):
        calls.append(src)
        if len(calls) == 2:
            raise OSError("crash between the swap's renames")
        rename(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "rename", crash_on_second)
        with pytest.raises(OSError):
            fold(b1, 1)
    assert not os.path.exists(state)
    assert os.path.exists(state + ".old")
    assert os.path.exists(os.path.join(state + ".staging", "_SUCCESS"))

    fold(b1, 1)  # redelivery after the crash
    got = sorted(map(tuple, spark.read.parquet(state).collect()))
    assert got == [("a", 2, 11, 1, 10), ("b", 1, 2, 2, 2)]
    assert not os.path.exists(state + ".old")


def test_snapshot_diff_apply_reconstructs_new(spark):
    """CDC closure property: applying snapshot_diff's change stream to
    the OLD snapshot reproduces the NEW snapshot exactly, on randomized
    snapshots with inserts, deletes, value updates, and NULL
    transitions in both directions."""
    import random

    from data_pipelines_snowflake_procedures_spark.operators.scd import (
        snapshot_diff,
    )

    rng = random.Random(7)

    def snap(keys):
        return [
            (
                k,
                rng.choice([None, "a", "b", "c"]),
                rng.choice([None, 1.0, 2.5, 9.0]),
            )
            for k in keys
        ]

    old_keys = set(range(40))
    new_keys = (old_keys - set(rng.sample(sorted(old_keys), 8))) | set(
        range(40, 50)
    )
    old_rows = snap(sorted(old_keys))
    new_rows = snap(sorted(new_keys))
    old = spark.createDataFrame(old_rows, "k BIGINT, s STRING, v DOUBLE")
    new = spark.createDataFrame(new_rows, "k BIGINT, s STRING, v DOUBLE")

    diff = {
        r["k"]: r for r in snapshot_diff(old, new, ["k"], ["s", "v"]).collect()
    }
    # apply: start from old, drop deletes, overwrite updates, add inserts
    state = {k: (s, v) for k, s, v in old_rows}
    for k, r in diff.items():
        if r["op"] == "delete":
            del state[k]
        else:
            state[k] = (r["s_new"], r["v_new"])
    want = {k: (s, v) for k, s, v in new_rows}
    assert state == want
    # and the diff is minimal: unchanged keys never appear
    unchanged = {
        k for k, s, v in old_rows if k in want and want[k] == (s, v)
    }
    assert not (unchanged & set(diff)), unchanged & set(diff)


def test_scd2_as_of_returns_one_valid_version_per_key(spark, sf_dir):
    """Time-travel invariants of the registry's as-of read over the
    merged SCD2 orders dimension: at most one version per key at each
    as-of; a %7 key changed in 1999-06 shows its pre-change amount in
    1996 and the post-change one (+50) in 1999-12; keys born after T
    (the new %13 keys, and orders dated after 1996-06-15) are absent."""
    import datetime as dt

    from data_pipelines_snowflake_procedures_spark.queries import (
        scd2_as_of_orders,
    )

    rows = scd2_as_of_orders(spark, sf_dir).collect()
    snap = {}
    for r in rows:
        by_key = snap.setdefault(str(r["as_of"])[:10], {})
        assert r["k"] not in by_key, (r["as_of"], r["k"])
        by_key[r["k"]] = r
    early, late = snap["1996-06-15"], snap["1999-12-01"]
    assert all(
        r["effective_from"] <= dt.datetime(1996, 6, 15) for r in early.values()
    )
    assert all(k < 200000000 for k in early)
    assert any(k >= 200000000 for k in late)
    changed = [k for k in early if k % 7 == 0]
    assert changed
    for k in changed:
        assert abs(late[k]["amount"] - early[k]["amount"] - 50.0) < 1e-6, k


def test_scd1_merge_parity_duckdb_mutation(spark):
    """MERGE-semantics cross-check through a second independent engine
    FORMULATION (VERDICT r8 next-round #6): delta-spark cannot install
    offline, so the atomic `MERGE INTO` contract was only exercised by
    its own anti-join+union fallback. Here DuckDB executes the same
    scenario as real TABLE MUTATIONS — UPDATE of matched keys + INSERT
    of not-matched keys, the canonical SQL MERGE decomposition — so
    agreement is between two different computational paths (plan-level
    anti-join vs imperative upsert), not the fallback against itself.

    Covers the duplicate-key out-of-order fixture AND a seeded random
    scenario with created_at ties broken by an explicit tiebreaker.
    """
    import random

    import duckdb

    def duck_merge(tgt_rows, src_rows, tiebreak=False):
        con = duckdb.connect()
        con.execute("CREATE TABLE tgt(k INT, name VARCHAR, amount DOUBLE)")
        con.executemany("INSERT INTO tgt VALUES (?,?,?)", tgt_rows)
        con.execute(
            "CREATE TABLE src(k INT, name VARCHAR, amount DOUBLE,"
            " created_at INT, seq INT)"
        )
        con.executemany("INSERT INTO src VALUES (?,?,?,?,?)", src_rows)
        order = "created_at DESC" + (", seq DESC" if tiebreak else "")
        con.execute(
            "CREATE TABLE latest AS SELECT k, name, amount FROM ("
            "  SELECT *, row_number() OVER ("
            f"    PARTITION BY k ORDER BY {order}) AS rn FROM src"
            ") WHERE rn = 1"
        )
        # WHEN MATCHED THEN UPDATE SET *
        con.execute(
            "UPDATE tgt SET name = l.name, amount = l.amount"
            " FROM latest l WHERE tgt.k = l.k"
        )
        # WHEN NOT MATCHED THEN INSERT *
        con.execute(
            "INSERT INTO tgt SELECT * FROM latest"
            " WHERE k NOT IN (SELECT k FROM tgt)"
        )
        return set(map(tuple, con.execute("SELECT * FROM tgt").fetchall()))

    # 1) the duplicate-key, out-of-order fixture
    merged = scd1_merge(_target(spark), _source(spark), ["k"], "created_at")
    got = {(r["k"], r["name"], r["amount"]) for r in merged.collect()}
    src5 = [
        (2, "b2", 201.0, 2, 0), (2, "b3", 202.0, 3, 0), (2, "b1", 199.0, 1, 0),
        (9, "new-old", 900.0, 1, 0), (9, "new", 901.0, 2, 0),
    ]
    want = duck_merge([(1, "a", 100.0), (2, "b", 200.0), (3, "c", 300.0)], src5)
    assert got == want

    # 2) seeded random scenario: 200 target keys, 400 source rows over
    #    150 keys (half overlapping), created_at ties broken by seq
    rng = random.Random(42)
    tgt_rows = [(k, f"t{k}", float(k * 10)) for k in range(200)]
    src_rows = [
        (rng.randrange(100, 250), f"s{i}", float(i), rng.randrange(5), i)
        for i in range(400)
    ]
    tgt_df = spark.createDataFrame(tgt_rows, ["k", "name", "amount"])
    src_df = spark.createDataFrame(
        src_rows, ["k", "name", "amount", "created_at", "seq"]
    )
    merged2 = scd1_merge(
        tgt_df, src_df, ["k"], "created_at", tiebreakers=["seq"]
    )
    got2 = {(r["k"], r["name"], r["amount"]) for r in merged2.collect()}
    want2 = duck_merge(tgt_rows, src_rows, tiebreak=True)
    assert got2 == want2
