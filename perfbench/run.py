"""Benchmark entry point.

    python3 perfbench/run.py --workload agent_session --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed (cached under ``perfbench/.work/inputs``), starts a Spark session
sized to the machine through the environment, warms every call kind,
times a fixed number of closed-loop steps (then runs untimed ones until
``--seconds`` have passed), checks every output, and prints
one JSON line as the last line of stdout. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` the per-layer metrics of a traced run
(spans written to ``perfbench/.work/trace/``). Exits 1 when a
correctness check or a check's self-test fails, 2 when the program is
not next to the benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PKG = "data_pipelines_snowflake_procedures_spark"
WORK = os.path.join(HERE, ".work")
#: Seeds whose generated inputs are kept per workload.
CACHE_KEEP = 4


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs
    (/proc/stat); a large value during a run marks it as contended."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def session_env(run_dir: str) -> dict[str, str]:
    """Session settings the benchmark passes through the environment:
    all CPUs this process may use, a 1 GB JVM heap (the inputs are a few
    MB; the program's default is 24 GB), and local/warehouse dirs
    inside the run directory (temporary files too; no JVM perf-data file
    in /tmp). The driver JVM's heap is pinned at that size, so it does
    not grow with GC timing, and its JIT compiler threads are all
    started up front, so their CPU time can be left out per thread."""
    cpus = len(os.sched_getaffinity(0))
    local = os.path.join(run_dir, "spark-local")
    warehouse = os.path.join(run_dir, "warehouse")
    os.makedirs(local, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": "1g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": local,
        # every JVM, the spark-submit launcher's too
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": f"--conf spark.sql.warehouse.dir={warehouse} --driver-java-options '-Xms1g -XX:-UseDynamicNumberOfCompilerThreads' pyspark-shell",
    }


def stop_jvm(spark) -> None:
    """Stop the session, then end the JVM py4j launched and wait for it
    (it exits when its stdin closes; the Python workers die with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def prune_cache(inputs: str, workload: str, keep: str) -> None:
    dirs = sorted(
        (os.path.join(inputs, d) for d in os.listdir(inputs) if d.startswith(workload + "-")),
        key=os.path.getmtime,
    )
    for d in dirs[:-CACHE_KEEP]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


def end_to_end(run, setup_s: float, peak_mb: float) -> dict:
    cpu = sum(c["cpu"] for c in run.calls)
    ok = sum(1 for c in run.calls if c["ok"])
    return {
        "setup_s": (setup_s, "s"),
        "request_cpu_ms": (statistics.fmean(r["cpu"] for r in run.requests) * 1000, "ms"),
        "rows_per_cpu_s": (run.rows / cpu, "rows/s"),
        "write_bytes_per_input_byte": (run.written / max(run.written_in, 1), "ratio"),
        "peak_pss_mb": (peak_mb, "MB"),
        "ok_ratio": (ok / max(len(run.calls), 1), "ratio"),
    }


def per_layer(run, rec, setup: dict) -> dict:
    import trace as tr

    every = rec.self_times()
    spans = [s for s in every if s["tag"] == "loop"]
    traced_calls = [c for c in run.calls if c["traced"]]
    untraced_calls = [c for c in run.calls if not c["traced"]]
    n_calls = max(len(traced_calls), 1)

    def durs(name: str, among: list[dict] = spans) -> list[float]:
        return [s["dur_s"] * 1000 for s in among if s["name"] == name]

    def mean_ms(name: str, among: list[dict] = spans) -> float:
        d = durs(name, among)
        return sum(d) / len(d) if d else 0.0

    def mean(key: str) -> float:
        v = run.stats.get(key, [])
        return sum(v) / len(v) if v else 0.0

    out: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (setup["get_spark_s"], "s"),
        "session.register_views_ms": (setup["register_views_s"] * 1000, "ms"),
    }
    for layer in tr.LAYERS:
        mine = [s for s in spans if s["layer"] == layer]
        out[f"{layer}.self_ms"] = (sum(s["self_s"] for s in mine) * 1000 / n_calls, "ms")
        for k in ("spark_jobs", "spark_stages", "spark_tasks", "spark_failed_tasks"):
            out[f"{layer}.{k}"] = (sum(s.get(k, 0) for s in mine) / n_calls, "count")

    batches = durs("engine.batch")
    stmts = [t for traced, ts in run.stats.get("statements", []) if traced for t in ts]
    n_stmts = max(len(stmts), 1)
    stmt_per_batch = len(stmts) / max(len(batches), 1)
    engine_jobs = sum(s.get("spark_jobs", 0) for s in spans if s["layer"] == "engine")
    stmt_ms = sum(stmts) * 1000 / n_stmts
    out.update({
        "sqltools.split_ms": (sum(durs("sqltools.split")) / max(len(batches), 1), "ms"),
        "engine.batch_ms": (mean_ms("engine.batch"), "ms"),
        "engine.statement_ms": (stmt_ms, "ms"),
        "engine.preview_ms": (max(mean_ms("engine.batch") - stmt_ms * stmt_per_batch, 0.0) if batches else 0.0, "ms"),
        "engine.spark_jobs_per_statement": (engine_jobs / n_stmts if stmts else 0.0, "count"),
    })
    for fmt in ("csv", "json", "parquet", "xlsx", "xml"):
        out[f"discovery.read_ms.{fmt}"] = (mean_ms(f"discovery.read.{fmt}", every), "ms")
    recall = mean("recall")
    pairs, cands = mean("pairs"), mean("candidates")
    out.update({
        "discovery.metadata_ms": (mean_ms("discovery.metadata"), "ms"),
        "discovery.file_dq_ms": (mean_ms("discovery.file_dq"), "ms"),
        "office.read_xlsx_ms": (mean_ms("office.read_xlsx", every), "ms"),
        "office.read_xml_ms": (mean_ms("office.read_xml", every), "ms"),
        "profile.profile_table_ms": (mean_ms("profile.profile_table"), "ms"),
        "dq.table_dq_ms": (mean_ms("dq.table_dq"), "ms"),
        "dq.rules": (mean("dq_rules"), "count"),
        "security.detect_ms": (mean_ms("security.detect"), "ms"),
        "security.mask_report_ms": (mean_ms("security.mask_report"), "ms"),
        "security.masked_bytes": (mean("masked_bytes"), "bytes"),
        "scd.merge_write_ms": (mean_ms("scd.merge_write"), "ms"),
        "scd.rows_out": (mean("scd_rows"), "count"),
        "scd.written_bytes": (mean("scd_bytes"), "bytes"),
        "pipelines.generate_code_ms": (mean_ms("pipelines.generate_code"), "ms"),
        "pipelines.interpret_objective_ms": (mean_ms("pipelines.interpret_objective"), "ms"),
        "pipelines.glossary_ms": (mean_ms("pipelines.glossary"), "ms"),
        "pipelines.ingestion_ms": (mean_ms("pipelines.ingestion", every), "ms"),
        "pipelines.prepare_corpus_ms": (mean_ms("pipelines.prepare_corpus"), "ms"),
        "corpus.kept_fraction": (mean("kept_fraction"), "ratio"),
        "corpus.chunks": (mean("chunks"), "count"),
        "dedup.exact_ms": (mean_ms("call.exact_dedup"), "ms"),
        "dedup.minhash_pairs_ms": (mean_ms("call.minhash_pairs"), "ms"),
        "dedup.components_ms": (mean_ms("call.components"), "ms"),
        "dedup.pairs": (pairs, "count"),
        "dedup.candidate_pairs": (cands, "count"),
        "dedup.pair_yield": (pairs / cands if cands else 0.0, "ratio"),
        "dedup.planted_recall": (recall, "ratio"),
    })
    mean_t = statistics.fmean(c["s"] for c in traced_calls) * 1000
    mean_u = statistics.fmean(c["s"] for c in untraced_calls) * 1000
    out.update({
        "trace.spans": (float(len(spans)), "count"),
        "trace.traced_call_mean_ms": (mean_t, "ms"),
        "trace.untraced_call_mean_ms": (mean_u, "ms"),
        "trace.overhead_ratio": (mean_t / mean_u - 1.0, "ratio"),
    })
    return out


def by_kind(calls: list[dict], key: str = "s") -> dict[str, float]:
    """Median wall-clock (or CPU) ms per call kind."""
    kinds: dict[str, list[float]] = {}
    for c in calls:
        kinds.setdefault(c["kind"], []).append(c[key] * 1000)
    return {k: round(statistics.median(v), 1) for k, v in kinds.items()}


def self_time_shares(rec) -> dict[str, float]:
    spans = [s for s in rec.self_times() if s["tag"] == "loop"]
    total = sum(s["self_s"] for s in spans) or 1.0
    shares: dict[str, float] = {}
    for s in spans:
        shares[s["layer"]] = shares.get(s["layer"], 0.0) + s["self_s"] / total
    return dict(sorted(shares.items(), key=lambda kv: -kv[1]))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"error: run from the repository root; {PKG}/ not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import checks
    import inputs
    import trace as tr
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # process start on the perf_counter clock, for the wall-clock set-up time
    started = time.perf_counter() - process_age_s()
    t_gen, cpu_gen = time.perf_counter(), time.thread_time()
    cache = os.path.join(WORK, "inputs")
    os.makedirs(cache, exist_ok=True)
    manifest = inputs.generate(cache, args.workload, args.seed)
    prune_cache(cache, args.workload, manifest["dir"])
    gen_s = time.perf_counter() - t_gen
    gen_cpu_s = time.thread_time() - cpu_gen

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    env = session_env(run_dir)
    os.environ.update(env)

    from data_pipelines_snowflake_procedures_spark import session

    with tr.MemSampler(os.getpid()) as mem:
        t0 = time.perf_counter()
        spark = session.get_spark()
        t1 = time.perf_counter()
        if args.workload == "agent_session":
            session.register_views(spark, os.path.dirname(manifest["tables"]["customer"]["path"]), tuple(manifest["tables"]))
        t2 = time.perf_counter()
        setup = {"get_spark_s": t1 - t0, "register_views_s": t2 - t1}
        rec = tr.Recorder(spark)
        run = workloads.Run(spark, rec, mem, manifest, run_dir, args.seed)
        steal0 = steal_s()
        try:
            workloads.WORKLOADS[args.workload](run, args.seconds, bool(args.trace))
            rec.settle()
            steal = steal_s() - steal0
            missed = checks.self_test(run.samples, run.con, run_dir)
        finally:
            run.close()
            stop_jvm(spark)
    setup_wall_s = run.loop_started - started - gen_s
    setup_cpu_s = run.setup_cpu - gen_cpu_s

    correct = not run.problems and not missed
    for p in run.problems[:20]:
        print(f"check failed: {p}", file=sys.stderr)
    if missed:
        print(f"self-test: checks that did not catch a corrupted output: {missed}", file=sys.stderr)
    if args.trace:
        metrics = per_layer(run, rec, setup)
        rec.dump(os.path.join(WORK, "trace", f"{args.workload}-s{args.seed}.jsonl"))
        print(f"self-time share by layer: {json.dumps({k: round(v, 3) for k, v in self_time_shares(rec).items()})}", file=sys.stderr)
    else:
        metrics = end_to_end(run, setup_cpu_s, run.peak_mb)
    print(
        f"{args.workload} seed={args.seed}: {len(run.calls)} timed calls, {run.stats.get('steps')} steps in all, "
        f"generation {gen_s:.2f} s, set-up {setup_wall_s:.2f} s wall-clock / {setup_cpu_s:.2f} s CPU, CPU steal {steal:.2f} s, peak memory over {mem.peak_procs} processes, settings {json.dumps({k: v for k, v in env.items() if k != 'PYSPARK_SUBMIT_ARGS'})}",
        file=sys.stderr,
    )
    print(f"untimed (warm-up, padding) ms by kind: {by_kind(run.untimed)}", file=sys.stderr)
    print(f"timed median ms by kind: {by_kind(run.calls)}", file=sys.stderr)
    print(f"timed median CPU ms by kind: {by_kind(run.calls, 'cpu')}", file=sys.stderr)
    if run.requests:
        print(f"mean wall-clock ms per request: {statistics.fmean(r['s'] for r in run.requests) * 1000:.1f}", file=sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)
    result = {
        "correct": correct,
        "attempted": len(run.calls),
        "failed": sum(1 for c in run.calls if not c["ok"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
