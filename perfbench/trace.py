"""Span and counter recorder, and the process-tree memory sampler.

Spans are recorded from outside the program: in a traced run the
benchmark wraps the public functions of each layer (module attributes,
including the names other modules imported) so every call into a layer,
by the benchmark or by another layer, opens a span. Each span runs under
its own Spark job group, so the jobs, stages and tasks it started can be
read back from ``SparkContext.statusTracker()``; ``settle()`` does that
after each call, outside its timed region. Spans live in memory and are
written out once, when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

PKG = "data_pipelines_snowflake_procedures_spark"

#: (module, function, layer, span name) for every public call the traced
#: run wraps. A function is patched in its defining module and in every
#: module listed in IMPORTERS that bound it by name.
TRACED = [
    ("functions.sqltools", "split_statements", "sqltools", "sqltools.split"),
    ("functions.sqltools", "extract_table_names", "sqltools", "sqltools.split"),
    ("plans.engine", "execute_sql_batch", "engine", "engine.batch"),
    ("sources.discovery", "read_any", "discovery", "discovery.read"),
    ("sources.discovery", "file_metadata", "discovery", "discovery.metadata"),
    ("sources.discovery", "run_file_dq_distributed", "discovery", "discovery.file_dq"),
    ("sources.discovery", "discover_and_run_dq", "discovery", "discovery.discover"),
    ("sources.office", "read_xlsx", "office", "office.read_xlsx"),
    ("sources.office", "read_xml", "office", "office.read_xml"),
    ("operators.profile", "profile_table", "profile", "profile.profile_table"),
    ("operators.dq", "run_table_dq", "dq", "dq.table_dq"),
    ("operators.security", "detect_pii_columns", "security", "security.detect"),
    ("operators.security", "apply_pii_masking", "security", "security.mask"),
    ("operators.security", "pii_masking_report", "security", "security.mask_report"),
    ("operators.scd", "scd1_merge", "scd", "scd.merge"),
    ("pipelines.codegen", "generate_code", "pipelines", "pipelines.generate_code"),
    ("pipelines.interpreter", "interpret_objective", "pipelines", "pipelines.interpret_objective"),
    ("pipelines.glossary", "generate_business_glossary", "pipelines", "pipelines.glossary"),
    ("pipelines.ingestion", "ingestion_code_generator", "pipelines", "pipelines.ingestion"),
    ("pipelines.corpus_prep", "prepare_corpus", "pipelines", "pipelines.prepare_corpus"),
    ("operators.corpus", "clean_corpus", "corpus", "corpus.clean"),
    ("operators.corpus", "assign_split", "corpus", "corpus.split"),
    ("operators.corpus", "chunk_documents", "corpus", "corpus.chunk"),
    ("operators.corpus", "token_budget", "corpus", "corpus.budget"),
    ("operators.dedup", "exact_dedup", "dedup", "dedup.exact"),
    ("operators.dedup", "minhash_lsh_pairs", "dedup", "dedup.minhash_pairs"),
    ("operators.dedup", "lsh_bucket_stats", "dedup", "dedup.bucket_stats"),
    ("operators.dedup", "connected_components", "dedup", "dedup.components"),
]

#: Modules that import a traced function by name at import time.
IMPORTERS = {
    "split_statements": ["plans.engine"],
    "extract_table_names": ["plans.engine"],
    "discover_and_run_dq": ["pipelines.ingestion"],
    "generate_code": ["pipelines.ingestion"],
    "profile_table": ["operators.dq"],
}

#: Layers (package modules) in report order. Session set-up happens
#: before tracing starts and is reported from its own timings.
LAYERS = [
    "sqltools", "engine", "discovery", "office", "profile", "dq",
    "security", "scd", "pipelines", "corpus", "dedup",
]


class Recorder:
    """Spans with Spark counters. ``span()`` is a no-op when disabled,
    so the timed loop is identical code in traced and untraced runs."""

    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._unsettled: list[dict] = []
        self._ids = itertools.count(1)
        self.call_id = 0
        self.tag = "loop"
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": sid, "name": name, "layer": layer, "call_id": self.call_id,
            "parent": parent["id"] if parent else None, "tag": self.tag, **attrs,
        }
        group = f"pb-{sid}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        self._stack.append(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(f"pb-{parent['id']}", parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self._unsettled.append(sp)
            self.spans.append(sp)

    def settle(self) -> None:
        """Attach Spark counts to the spans closed since the last call.
        The status store behind ``statusTracker()`` is fed by Spark's
        asynchronous listener bus, so an action can return before its
        last task and stage events are applied; the bus is drained first."""
        if not self._unsettled:
            return
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        for sp in self._unsettled:
            sp.update(self._spark_counts(sc, f"pb-{sp['id']}"))
        self._unsettled.clear()

    @contextmanager
    def tagged(self, tag: str):
        """Tag the spans opened inside; "extra" marks work the traced run
        adds beyond the timed loop, which layer self times leave out."""
        prev, self.tag = self.tag, tag
        try:
            yield
        finally:
            self.tag = prev

    @staticmethod
    def _spark_counts(sc, group: str) -> dict:
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for st in info.stageIds:
                si = tracker.getStageInfo(st)
                if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                    continue  # skipped (reused shuffle output) or evicted
                stages += 1
                tasks += si.numCompletedTasks
                failed += si.numFailedTasks
        return {"spark_jobs": len(jobs), "spark_stages": stages,
                "spark_tasks": tasks, "spark_failed_tasks": failed}

    # -- wrapping the program's public functions -----------------------
    def install(self) -> None:
        """Wrap every TRACED function (a no-op when already installed)."""
        if self._patched:
            return
        for mod_name, fn_name, layer, span_name in TRACED:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            orig = getattr(mod, fn_name)
            wrapped = self._wrap(orig, layer, span_name)
            for target in [mod_name, *IMPORTERS.get(fn_name, [])]:
                tmod = importlib.import_module(f"{PKG}.{target}")
                self._patched.append((tmod, fn_name, getattr(tmod, fn_name)))
                setattr(tmod, fn_name, wrapped)

    def uninstall(self) -> None:
        for mod, name, orig in reversed(self._patched):
            setattr(mod, name, orig)
        self._patched.clear()

    def _wrap(self, fn, layer: str, span_name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(span_name, layer, fn=fn.__name__) as sp:
                out = fn(*args, **kwargs)
                if sp is not None and fn.__name__ == "read_any":
                    sp["name"] = f"discovery.read.{_fmt_of(args, kwargs)}"
                return out

        return traced

    # -- aggregation -----------------------------------------------------
    def self_times(self) -> list[dict]:
        """Each span with ``self_s`` = duration minus its children's."""
        child = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                child[sp["parent"]] = child.get(sp["parent"], 0.0) + sp["end"] - sp["start"]
        return [
            {**sp, "dur_s": sp["end"] - sp["start"],
             "self_s": sp["end"] - sp["start"] - child.get(sp["id"], 0.0)}
            for sp in self.spans
        ]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sp in self.self_times():
                f.write(json.dumps(sp, default=str) + "\n")


def _fmt_of(args, kwargs) -> str:
    path = kwargs.get("path", args[1] if len(args) > 1 else "")
    fmt = kwargs.get("fmt") or os.path.splitext(str(path))[1].lstrip(".")
    return fmt.lower() or "unknown"


# -- memory --------------------------------------------------------------
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    among the processes mapping it."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _ticks(stat: str, reaped: bool = True) -> int:
    """utime + stime (+ reaped children's) from a /proc stat line."""
    return sum(int(x) for x in stat.rsplit(")", 1)[1].split()[11 : 15 if reaped else 13])


def _jit_ticks(pid: int) -> int:
    """CPU of the JVM's JIT compiler threads (the JVM compiling itself;
    it fades as the process warms, at a pace set by the host's load)."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        if "CompilerThre" in raw[: raw.rindex(")")]:
            # a thread's line repeats the process's reaped-children times
            total += _ticks(raw, reaped=False)
    return total


def tree_cpu_s(jit: bool = False) -> float:
    """CPU seconds used so far by the JVM and the Python workers it
    forks (user + system, reaped children included), less the JVM's JIT
    compiler threads unless ``jit``. Time the hypervisor steals from the
    CPUs is not in it. The caller adds its own thread's CPU time
    (``time.thread_time``), which runs the program's driver-side Python."""
    ticks = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                raw = f.read()
            ticks += _ticks(raw)
            if "(java)" in raw and not jit:
                ticks -= _jit_ticks(pid)
        except OSError:
            continue  # ended since it was listed
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_pss_mb(root: int) -> tuple[float, int]:
    """Summed PSS of all descendants of ``root`` (the JVM and the Python
    workers it forks; not ``root`` itself, which hosts the benchmark and
    DuckDB) in MB, and the number of processes. PSS rather than RSS: the
    workers fork from one daemon and share its pages copy-on-write,
    which an RSS sum would count once per worker."""
    pids = _descendants(root)
    return sum(_pss_kb(pid) for pid in pids) / 1024.0, len(pids)


class MemSampler:
    """Samples the process tree's PSS every ``interval`` seconds on a
    background thread; ``peak_mb`` is the largest sum seen."""

    def __init__(self, root: int, interval: float = 0.5):
        self.root = root
        self.interval = interval
        self.peak_mb = 0.0
        self.peak_procs = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        mb, n = tree_pss_mb(self.root)
        if mb > self.peak_mb:
            self.peak_mb, self.peak_procs = mb, n

    def peak_now(self) -> float:
        """The peak so far, with a fresh sample taken first."""
        self._sample()
        return self.peak_mb

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
