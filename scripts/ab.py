"""Paired A/B runs of the benchmark: a parent commit against this checkout.

    python3 scripts/ab.py --parent HEAD~1 --seeds 600-609

Run from the repository root. Both sides run from extracted trees
(``git archive``) in fresh directories, never from the git working
tree: a run from the working tree was measured slower than the same
code run from an extracted copy. The parent side is the parent ref's
committed files; the change side is this checkout's tracked files as
they stand (a ``git stash create`` commit of the uncommitted edits, or
HEAD when the tree is clean). A new file reaches the change side only
once it is ``git add``-ed. For every seed and every workload in ``BENCHMARK.json`` the script
runs its command (its ``run_seconds``, ``--trace 0``) once in each
checkout, one after the other (the parent first on even seeds, the
change first on odd ones), so host load falls on both sides alike.
Nothing else is started while a run is going.

Each run's JSON line and its median CPU ms per call kind are appended
to ``<out>/runs.jsonl`` as they finish. At the end, for each workload
and metric, the script prints each side's median and quartiles, how
many pairs the change won (in the metric's ``better`` direction), and
whether the gap between the medians exceeds the parent's interquartile
range.
"""

from __future__ import annotations

import argparse
import ast
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.getcwd()
KINDS_PREFIX = "timed median CPU ms by kind: "


def parse_seeds(text: str) -> list[int]:
    """``600-609`` or ``600,602,605``."""
    if "-" in text:
        lo, hi = (int(x) for x in text.split("-", 1))
        return list(range(lo, hi + 1))
    return [int(x) for x in text.split(",")]


def extract(ref: str, dest: str) -> None:
    """The committed files of ``ref`` under ``dest``."""
    os.makedirs(dest)
    archive = subprocess.run(["git", "archive", ref], cwd=ROOT, check=True, capture_output=True)
    subprocess.run(["tar", "-x", "-C", dest], input=archive.stdout, check=True)


def change_ref() -> str:
    """A commit of the tracked files as they stand: ``git stash create``
    (the edits, staged or not, on top of HEAD), or HEAD when clean."""
    stash = subprocess.run(["git", "stash", "create"], cwd=ROOT, check=True, capture_output=True, text=True)
    return stash.stdout.strip() or "HEAD"


def run_once(checkout: str, command: list[str], workload: str, seed: int, seconds: float) -> dict:
    """One benchmark run; its JSON result plus the per-kind CPU line."""
    argv = command + ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(argv, cwd=checkout, capture_output=True, text=True)
    out = {"exit": proc.returncode, "wall_s": round(time.perf_counter() - t0, 1)}
    lines = proc.stdout.strip().splitlines()
    try:
        out.update(json.loads(lines[-1]))
    except (IndexError, json.JSONDecodeError):
        out["correct"] = False
        out["stderr_tail"] = proc.stderr[-2000:]
    for line in proc.stderr.splitlines():
        if line.startswith(KINDS_PREFIX):
            out["cpu_ms_by_kind"] = ast.literal_eval(line[len(KINDS_PREFIX):])
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def summarise(runs: list[dict], metrics: list[dict]) -> list[str]:
    out = []
    for workload in sorted({r["workload"] for r in runs}):
        pairs: dict[int, dict[str, dict]] = {}
        for r in runs:
            if r["workload"] == workload:
                pairs.setdefault(r["seed"], {})[r["side"]] = r
        full = [p for _, p in sorted(pairs.items()) if {"parent", "change"} <= set(p)]
        checked = sum(1 for p in full for r in p.values() if r.get("correct"))
        out.append(f"{workload}: {len(full)} pairs, {checked} of {2 * len(full)} runs passed every check")
        for m in metrics:
            name = m["name"]
            both = [
                (p["parent"]["metrics"][name]["value"], p["change"]["metrics"][name]["value"])
                for p in full
                if all(name in p[s].get("metrics", {}) for s in ("parent", "change"))
            ]
            if not both:
                continue
            a, b = [x for x, _ in both], [y for _, y in both]
            qa, qb = quartiles(a), quartiles(b)
            lower = m["better"] == "lower"
            wins = sum(1 for x, y in both if (y < x if lower else y > x))
            ties = sum(1 for x, y in both if y == x)
            iqr = qa[2] - qa[0]
            gap = (qa[1] - qb[1]) if lower else (qb[1] - qa[1])
            out.append(
                f"  {name:28s} parent {qa[1]:10.4g} [{qa[0]:.4g}, {qa[2]:.4g}]"
                f"  change {qb[1]:10.4g} [{qb[0]:.4g}, {qb[2]:.4g}]"
                f"  change better in {wins}/{len(both)}" + (f" ({ties} equal)" if ties else "")
                + f"  gap {gap:+.4g} vs parent IQR {iqr:.4g}: "
                + ("beyond" if abs(gap) > iqr else "within")
            )
        kinds = sorted({k for p in full for r in p.values() for k in r.get("cpu_ms_by_kind", {})})
        for kind in kinds:
            med = {
                side: statistics.median(
                    p[side]["cpu_ms_by_kind"][kind] for p in full if kind in p[side].get("cpu_ms_by_kind", {})
                )
                for side in ("parent", "change")
                if any(kind in p[side].get("cpu_ms_by_kind", {}) for p in full)
            }
            if len(med) == 2:
                out.append(f"  CPU ms {kind:21s} median parent {med['parent']:.0f}  change {med['change']:.0f}")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="git ref of the parent side")
    ap.add_argument("--seeds", required=True, help="e.g. 600-609 or 600,601")
    ap.add_argument("--out", help="directory for the two checkouts and runs.jsonl (default: a new temporary one)")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    out_dir = args.out or tempfile.mkdtemp(prefix="ab-")
    os.makedirs(out_dir, exist_ok=True)
    refs = {"parent": args.parent, "change": change_ref()}
    checkouts = {side: os.path.join(out_dir, side) for side in refs}
    for side, ref in refs.items():
        extract(ref, checkouts[side])
    log = os.path.join(out_dir, "runs.jsonl")
    print(f"parent {refs['parent']}, change {refs['change']} in {out_dir}; runs in {log}", file=sys.stderr)

    runs = []
    for seed in parse_seeds(args.seeds):
        order = ("parent", "change") if seed % 2 == 0 else ("change", "parent")
        for workload in workloads:
            for side in order:
                r = run_once(checkouts[side], bench["command"], workload, seed, bench["run_seconds"])
                r.update(side=side, workload=workload, seed=seed)
                runs.append(r)
                with open(log, "a") as f:
                    f.write(json.dumps(r) + "\n")
                print(f"seed {seed} {workload} {side}: exit {r['exit']}, {r['wall_s']} s", file=sys.stderr)
    print("\n".join(summarise(runs, bench["end_to_end"])))
    return 0


if __name__ == "__main__":
    sys.exit(main())
