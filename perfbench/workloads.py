"""The workloads. Each is a closed loop with one client: the next
request starts when the previous one returned. Every call is timed
alone; its output is checked right after, outside the timed region.
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np
from pyspark.sql import functions as F

from data_pipelines_snowflake_procedures_spark.operators import dedup, dq, scd, security
from data_pipelines_snowflake_procedures_spark.pipelines import (
    codegen,
    corpus_prep,
    glossary,
    ingestion,
    interpreter,
)
from data_pipelines_snowflake_procedures_spark.plans import engine
from data_pipelines_snowflake_procedures_spark.sources import discovery

import checks
from inputs import PRIORITIES, SEGMENTS
from trace import tree_cpu_s


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


class Run:
    """State of one workload run: the session, the recorder, DuckDB,
    the inputs, and what the timed calls produced."""

    #: Whether one call is one client request (agent_session) or a
    #: workload groups its calls into requests itself (corpus_dedup).
    call_is_request = True

    def __init__(self, spark, rec, mem, manifest: dict, work: str, seed: int):
        self.spark = spark
        self.rec = rec
        self.mem = mem
        self.m = manifest
        self.out = os.path.join(work, "out")
        os.makedirs(self.out, exist_ok=True)
        self.rng = np.random.default_rng([seed, 7])
        self.con = duckdb.connect()
        self.calls: list[dict] = []  # one per timed call
        self.requests: list[dict] = []  # wall and CPU seconds of each timed request
        self.untimed: list[dict] = []  # warm-up and padding calls
        self.problems: list[str] = []
        self.samples: dict = {}  # one output per check kind, for the self-test
        self.rows = 0  # input rows taken through timed calls
        self.written = self.written_in = 0  # bytes written / input bytes of write calls
        self.timing = False
        self.loop_started = 0.0
        self.setup_cpu = 0.0  # CPU seconds up to the first timed call
        self.peak_mb = 0.0  # peak PSS up to the end of the timed steps
        self.stats: dict = {}
        self._truth: dict = {}

    def call(self, kind: str, layer: str, fn, rows: int = 0):
        """Run one call; time it (wall clock and CPU) when the loop is
        timing."""
        self.rec.call_id += 1
        cpu0 = tree_cpu_s()
        th0 = time.thread_time()
        t0 = time.perf_counter()
        with self.rec.span(f"call.{kind}", layer):
            out = fn()
        dt = time.perf_counter() - t0
        cpu = time.thread_time() - th0
        cpu += tree_cpu_s() - cpu0
        self.rec.settle()
        if self.timing:
            c = {"kind": kind, "s": dt, "cpu": cpu, "traced": self.rec.enabled, "ok": True}
            self.calls.append(c)
            self.rows += rows
            if self.call_is_request:
                self.requests.append(c)
        else:
            self.untimed.append({"kind": kind, "s": dt})
        return out

    def verdict(self, problems: list[str]) -> None:
        """Record the check of the last call."""
        if problems:
            self.problems.extend(problems)
            if self.timing and self.calls:
                self.calls[-1]["ok"] = False

    def wrote(self, out_path: str, in_bytes: int) -> int:
        n = dir_bytes(out_path)
        if self.timing:
            self.written += n
            self.written_in += in_bytes
        return n

    def truth(self, path: str, entry: dict) -> dict:
        if "truth" in entry:
            return entry["truth"]
        if path not in self._truth:
            self._truth[path] = checks.file_dq_truth(path, self.con)
        return self._truth[path]

    def close(self) -> None:
        self.con.close()


def loop(run: Run, seconds: float, step, trace: bool) -> None:
    """Run the timed steps: one, or two in a traced run (the first
    untraced, the second traced, so tracing overhead is measured on the
    same work in the same warm process). Their number is fixed, so every
    version of the program times the same work. Untimed steps follow
    until ``seconds`` have passed since the first timed call; their
    outputs are checked, but they are left out of the metrics."""
    run.timing = True
    run.setup_cpu = tree_cpu_s(jit=True) + time.thread_time()
    run.loop_started = time.perf_counter()
    steps = 2 if trace else 1
    for i in range(steps):
        if i % 2:
            run.rec.install()
            run.rec.enabled = True
        step(i)
        run.rec.enabled = False
        run.rec.uninstall()
    run.timing = False
    run.peak_mb = run.mem.peak_now()
    while time.perf_counter() < run.loop_started + seconds:
        step(steps)
        steps += 1
    run.stats["steps"] = steps


# -- shared procedure calls ------------------------------------------------
def discover(run: Run, name: str, fmt: str, entry: dict) -> dict:
    path = entry["path"]
    res = run.call("discover", "discovery", lambda: discovery.discover_and_run_dq(run.spark, path), entry["rows"])
    problems = checks.check_file_dq(res, run.truth(path, entry), entry["rows"])
    run.verdict(problems)
    if not problems:
        run.samples.setdefault("file_dq", (res, run.truth(path, entry), entry["rows"]))
        run.stats.setdefault("dq_rules", []).append(len(res["dq_auto_check_result"]["rules"]))
    return res


def scd1_write(run: Run, target_df, name: str, target_path: str, rows: int) -> None:
    """scd1_merge of the seeded increment plus a parquet write."""
    inc = run.m["increments"][name]
    out = os.path.join(run.out, f"{name}_scd1")
    schema = target_df.schema

    def go():
        with run.rec.span("scd.merge_write", "scd"):
            src = run.spark.read.parquet(inc["path"])
            src = src.select([F.col(f.name).cast(f.dataType) for f in schema.fields])
            scd.scd1_merge(target_df, src, inc["keys"], order_col="row_version").write.mode(
                "overwrite"
            ).parquet(out)

    run.call("scd1_write", "scd", go, rows)
    n = run.wrote(out, dir_bytes(target_path) + dir_bytes(inc["path"]))
    run.stats.setdefault("scd_bytes", []).append(n)
    problems = checks.check_scd1(out, target_path, inc["path"], inc["keys"], run.con)
    run.verdict(problems)
    if not problems:
        run.samples.setdefault("scd1", (out, target_path, inc["path"], inc["keys"]))
        run.stats.setdefault("scd_rows", []).append(
            run.con.execute(f"SELECT count(*) FROM {checks.duck_source(out)}").fetchone()[0]
        )


# -- agent_session ---------------------------------------------------------
def _day(rng) -> str:
    d = np.datetime64("1993-01-01") + int(rng.integers(200, 2200))
    return str(d)


def _q(spark_sql: str, tables: tuple[str, ...], duck_sql: str | None = None, rows: bool = True, expect: str = "ok") -> dict:
    return {"spark": spark_sql, "duck": duck_sql or spark_sql, "rows": rows, "expect": expect, "tables": tables}


QUERIES = [
    lambda r: _q(
        f"SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_totalprice > {int(r.integers(100000, 450000))} "
        f"AND o_orderstatus = '{'FOP'[int(r.integers(0, 3))]}' ORDER BY o_totalprice DESC, o_orderkey LIMIT {int(r.integers(5, 50))}",
        ("orders",),
    ),
    lambda r: _q(
        "SELECT n_name, count(*) AS customers, sum(c_acctbal) AS balance FROM customer "
        f"JOIN nation ON c_nationkey = n_nationkey WHERE c_mktsegment = '{SEGMENTS[int(r.integers(0, 5))]}' GROUP BY n_name",
        ("customer", "nation"),
    ),
    lambda r: _q(
        "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS qty, avg(l_extendedprice * (1 - l_discount)) AS price, "
        f"count(*) AS n FROM lineitem WHERE l_shipdate <= DATE '{_day(r)}' GROUP BY l_returnflag, l_linestatus",
        ("lineitem",),
    ),
    lambda r: _q(
        "SELECT r_name, count(*) AS orders, sum(o_totalprice) AS revenue FROM orders JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey "
        f"WHERE o_orderdate >= DATE '{_day(r)}' GROUP BY r_name",
        ("orders", "customer", "nation", "region"),
    ),
    lambda r: _q(
        "SELECT o_orderpriority, count(DISTINCT o_orderkey) AS n FROM orders JOIN lineitem ON l_orderkey = o_orderkey "
        f"WHERE l_commitdate < l_receiptdate AND o_orderdate >= DATE '{_day(r)}' GROUP BY o_orderpriority",
        ("orders", "lineitem"),
    ),
    lambda r: _q(
        "SELECT sum(l_extendedprice * l_discount) AS revenue, count(*) AS n FROM lineitem "
        f"WHERE l_discount BETWEEN {int(r.integers(1, 6)) / 100 - 0.001:.3f} AND {int(r.integers(6, 10)) / 100 + 0.001:.3f} "
        f"AND l_quantity < {int(r.integers(10, 40))}",
        ("lineitem",),
    ),
]

BAD = [
    lambda r: _q(f"SELECT o_orderkey, o_{['bogus', 'amount', 'total'][int(r.integers(0, 3))]} FROM orders", (), expect="fail"),
    lambda r: _q(f"SELECT count(*) FROM {['orders', 'sales', 'clients'][int(r.integers(0, 3))]}_archive", (), expect="fail"),
    lambda r: _q("SELECT frobnicate(o_totalprice) FROM orders", (), expect="fail"),
]


def _ctas(r) -> list[dict]:
    body = f"SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % {int(r.integers(3, 9))} = 0"
    ins = (
        "INSERT INTO agent_tmp SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
        f"WHERE o_orderpriority = '{PRIORITIES[int(r.integers(0, 5))]}' AND o_totalprice > {int(r.integers(100000, 400000))}"
    )
    return [
        _q("DROP TABLE IF EXISTS agent_tmp", (), rows=False),
        _q(f"CREATE TABLE agent_tmp USING parquet AS {body}", ("orders",), f"CREATE TABLE agent_tmp AS {body}", rows=False),
        _q(ins, ("orders",), rows=False),
        _q("SELECT count(*) AS n, sum(o_totalprice) AS total, max(o_orderkey) AS top FROM agent_tmp", ()),
        _q("DROP TABLE agent_tmp", (), rows=False),
    ]


#: The statements of the cycle's SQL batch, by QUERIES index; None is a
#: statement that fails analysis, -1 the CTAS + INSERT + SELECT + DROP
#: group. Every query template once, so each cycle does the same work;
#: the seed picks the literals and which analysis failure is planted.
#: One failing statement of 12 is not a measured rate: it keeps the
#: failure path of the batch executor in every timed batch.
BATCH = [0, 1, 2, None, 3, -1, 4, 5]


def _batch(r) -> list[dict]:
    out = []
    for q in BATCH:
        if q is None:
            out.append(BAD[int(r.integers(0, len(BAD)))](r))
        elif q == -1:
            out.extend(_ctas(r))
        else:
            out.append(QUERIES[q](r))
    return out


OBJECTIVES = {
    "scd1_pipeline": "build an scd1 incremental load for {t}",
    "join_query": "join orders with {t} to get revenue by segment",
    "aggregation": "monthly revenue summary of {t}",
}

#: One cycle of the agent session: each of the eight reference
#: procedures once (PAPER.md), plus running the SCD1 merge that the code
#: generator writes for an scd1 objective. No published call mix for
#: such an agent is known, so every procedure has the same weight.
#: ``ingestion_code_generator``, which only chains file DQ and code
#: generation, is left to the traced run. Each slot has a fixed table,
#: file and objective, so every cycle does the same work.
AGENT_CYCLE = [
    ("sql", None),
    ("table_dq", "orders"),
    ("discover", "customer.csv"),
    ("mask_report", "customer"),
    ("interpret", "customer"),
    ("codegen", "orders"),
    ("scd1", "customer"),
    ("glossary", "lineitem"),
]
#: Task type of the objective each slot sends.
SLOT_TASK = {"interpret": "join_query", "codegen": "scd1_pipeline", "ingestion": "aggregation"}


def agent_session(run: Run, seconds: float, trace: bool) -> None:
    m = run.m
    tables = m["tables"]
    for name, t in tables.items():
        run.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t['path']}')")

    def one(kind: str, t: str | None) -> None:
        if kind == "sql":
            batch = _batch(run.rng)
            rows = sum(tables[x]["rows"] for x in {x for s in batch for x in s["tables"]})
            sql = ";\n".join(s["spark"] for s in batch)
            res = run.call("sql", "engine", lambda: engine.execute_sql_batch(run.spark, sql), rows)
            problems = checks.check_sql_batch(res, batch, run.con)
            run.verdict(problems)
            if not problems:
                run.samples.setdefault("sql", (res, batch))
                run.stats.setdefault("statements", []).append(
                    (run.rec.enabled, [d["execution_time_sec"] for d in res["details"]])
                )
            return
        if kind in ("discover", "ingestion"):
            name, fmt = t.rsplit(".", 1)
            e = m["files"][name][fmt]
            if kind == "discover":
                discover(run, name, fmt, e)
                return
            want = SLOT_TASK[kind]
            res = run.call(
                "ingestion", "pipelines",
                lambda: ingestion.ingestion_code_generator(run.spark, OBJECTIVES[want].format(t=name), e["path"]),
                e["rows"],
            )
            problems = checks.check_ingestion(res, e["rows"], want)
            run.verdict(problems)
            if not problems:
                run.samples.setdefault("ingestion", (res, e["rows"], want))
            return
        trows = tables[t]["rows"]
        if kind == "table_dq":
            res = run.call("table_dq", "dq", lambda: dq.run_table_dq(run.spark.table(t), t), trows)
            problems = checks.check_table_dq(res, trows)
            run.verdict(problems)
            if not problems:
                run.samples.setdefault("table_dq", (res, trows))
        elif kind == "mask_report":
            src = run.spark.table(t)
            res = run.call(
                "mask_report", "security",
                lambda: security.pii_masking_report(run.spark, src, t, save=True),
                trows,
            )
            wh = run.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
            out = os.path.join(wh, f"{t}_masked")
            run.stats.setdefault("masked_bytes", []).append(run.wrote(out, dir_bytes(tables[t]["path"])))
            info = {c: ts.split(",") for c, ts in res.get("masked_columns", {}).items()}
            string_cols = {f.name for f in src.schema.fields if f.dataType.simpleString() == "string"}
            problems = checks.check_masked(out, info, string_cols, run.con) if res.get("status") == "SUCCESS" else ["mask report failed"]
            run.verdict(problems)
            if not problems:
                run.samples.setdefault("mask", (out, info, string_cols, tables[t]["path"]))
        elif kind == "interpret":
            want = SLOT_TASK[kind]
            res = run.call("interpret", "pipelines", lambda: interpreter.interpret_objective(run.spark, OBJECTIVES[want].format(t=t)))
            problems = checks.check_interpret(res, want)
            run.verdict(problems)
            if not problems:
                run.samples.setdefault("interpret", (res, want))
        elif kind == "codegen":
            want = SLOT_TASK[kind]
            meta = {"tables": [{"table": t, "columns": [
                {"column_name": f.name, "type": discovery.map_type_to_palette(f.dataType)}
                for f in run.spark.table(t).schema.fields
            ]}]}
            res = run.call("codegen", "pipelines", lambda: codegen.generate_code(OBJECTIVES[want].format(t=t), meta))
            problems = checks.check_codegen(res, want)
            run.verdict(problems)
            if not problems:
                run.samples.setdefault("codegen", (res, want))
        elif kind == "scd1":
            scd1_write(run, run.spark.table(t), t, tables[t]["path"], trows + m["increments"][t]["rows"])
        elif kind == "glossary":
            ncols = len(run.spark.table(t).columns)
            res = run.call("glossary", "pipelines", lambda: glossary.generate_business_glossary(run.spark, t), trows)
            problems = checks.check_glossary(res, ncols)
            run.verdict(problems)
            if not problems:
                run.samples.setdefault("glossary", (res, ncols))

    def cycle(_=None) -> None:
        for kind, t in AGENT_CYCLE:
            one(kind, t)

    cycle()  # warm-up: every call kind once, untimed
    loop(run, seconds, cycle, trace)
    if trace:
        # one traced discovery per staged format, so every reader shows
        # in the per-layer metrics (kept out of the layer self times);
        # the xlsx one through ingestion_code_generator
        files = [(n, fmt, e) for n, by_fmt in m["files"].items() for fmt, e in by_fmt.items()]
        run.rec.install()
        run.rec.enabled = True
        with run.rec.tagged("extra"):
            for name, fmt, e in {fmt: (n, fmt, e) for n, fmt, e in files}.values():
                if fmt == "xlsx":
                    one("ingestion", f"{name}.{fmt}")
                else:
                    discover(run, name, fmt, e)
        run.rec.enabled = False
        run.rec.uninstall()
        run.rec.settle()


# -- corpus_dedup ------------------------------------------------------------
def corpus_dedup(run: Run, seconds: float, trace: bool) -> None:
    """prepare_corpus -> exact_dedup -> minhash_lsh_pairs ->
    connected_components -> keep one per component, written as parquet.
    Lazy stages are materialized with localCheckpoint inside their call,
    so each call's time is its own stage's work. One pass over the
    corpus is one request and one step."""
    run.call_is_request = False
    c = run.m["corpus"]
    raw = run.spark.read.parquet(c["path"])
    out = os.path.join(run.out, "corpus_kept")

    def one_pass() -> None:
        first = len(run.calls)
        prep = run.call("prepare_corpus", "pipelines", lambda: corpus_prep.prepare_corpus(raw), c["rows"])
        if prep.get("status") != "SUCCESS":
            run.verdict([f"prepare_corpus: {prep.get('error', '')[:200]}"])
            return
        cleaned = prep["cleaned"]
        exact = run.call("exact_dedup", "dedup", lambda: dedup.exact_dedup(cleaned).localCheckpoint())
        pairs = run.call("minhash_pairs", "dedup", lambda: dedup.minhash_lsh_pairs(exact).localCheckpoint())
        n_pairs = pairs.count()
        comps = run.call("components", "dedup", lambda: dedup.connected_components(pairs))

        def keep_one():
            kept = (
                exact.join(comps.withColumnRenamed("id", "doc_id"), "doc_id", "left")
                .filter(F.col("comp").isNull() | (F.col("comp") == F.col("doc_id")))
                .select("doc_id", "text", "split")
            )
            kept.write.mode("overwrite").parquet(out)

        run.call("keep_one", "dedup", keep_one)
        if run.timing:
            mine = run.calls[first:]
            run.requests.append({k: sum(x[k] for x in mine) for k in ("s", "cpu")})
        run.wrote(out, c["bytes"])
        if run.rec.enabled:
            with run.rec.tagged("extra"):
                stats = dedup.lsh_bucket_stats(exact).collect()
            run.stats.setdefault("candidates", []).append(
                sum(r["n_buckets"] * r["bucket_size"] * (r["bucket_size"] - 1) // 2 for r in stats)
            )
        run.stats.setdefault("pairs", []).append(n_pairs)
        run.stats.setdefault("kept_fraction", []).append(prep["stages"]["kept_fraction"])
        run.stats.setdefault("chunks", []).append(prep["stages"]["chunks"])
        kept = {r[0] for r in run.con.execute(f"SELECT doc_id FROM {checks.duck_source(out)}").fetchall()}
        problems = checks.check_corpus(kept, c)
        run.stats.setdefault("recall", []).append(checks.planted_recall(kept, c))
        run.verdict(problems)
        if not problems:
            run.samples.setdefault("corpus", (kept, c))

    one_pass()  # warm-up: one untimed pass over the whole corpus
    loop(run, seconds, lambda _: one_pass(), trace)


WORKLOADS = {
    "agent_session": agent_session,
    "corpus_dedup": corpus_dedup,
}
