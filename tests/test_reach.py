"""Every top-level definition of the package is reached from outside
its own definition by program code, not only by tests.

A pure-AST walk, no Spark session: for each top-level function, class
and assigned name of the package (registry-decorated functions
excluded — the decorator is their reference), count the code
references to its name in the package, ``__spark_entry__.py``,
``bench.py``, ``perfbench/`` and ``scripts/``, minus those inside its
own definition. A code reference is a name, an attribute, an import
alias, or a string constant that is exactly an identifier or a dotted
path (perfbench's ``TRACED`` table names functions that way);
docstrings, comments and prose strings do not count. A name left at
zero is dead code, or code only a test, a docstring or a comment keeps
alive.
"""

from __future__ import annotations

import ast
import gc
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "data_pipelines_snowflake_procedures_spark"

#: Modules kept on purpose although only tests reach them (ROADMAP):
ALLOWED_MODULES = {
    # the documented LLM adapter for the reference's Cortex calls
    "pipelines/llm_client.py",
    # plan-hazard reports, to be emitted as span fields (ROADMAP item 2)
    "plans/advisor.py",
    # streaming progress sink, to be folded into the span sink (item 2)
    "streaming/observability.py",
}

_DOTTED = re.compile(r"[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*")


def _program_files() -> list[Path]:
    return [
        *sorted(PACKAGE.rglob("*.py")),
        ROOT / "__spark_entry__.py",
        ROOT / "bench.py",
        *sorted((ROOT / "perfbench").rglob("*.py")),
        *sorted((ROOT / "scripts").rglob("*.py")),
    ]


def _references(tree: ast.AST) -> list[tuple[str, int]]:
    """``(name, line)`` of every code reference in ``tree``."""
    refs = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            refs.append((node.id, node.lineno))
        elif isinstance(node, ast.Attribute):
            refs.append((node.attr, node.lineno))
        elif isinstance(node, ast.alias):
            refs += [(part, node.lineno) for part in node.name.split(".")]
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and _DOTTED.fullmatch(node.value)
        ):
            refs += [(part, node.lineno) for part in node.value.split(".")]
    return refs


def _registered(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", []):
        fn = dec.func if isinstance(dec, ast.Call) else dec
        if (fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", "")) == "register":
            return True
    return False


def _defined_names(node: ast.stmt) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, ast.Assign):
        return [t.id for t in node.targets if isinstance(t, ast.Name)]
    if isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
        return [node.target.id]
    return []


def unreached() -> list[str]:
    trees = {path: ast.parse(path.read_text()) for path in _program_files()}
    refs = {path: _references(tree) for path, tree in trees.items()}
    total = Counter(name for found in refs.values() for name, _ in found)
    unreached = []
    for path in sorted(PACKAGE.rglob("*.py")):
        module = path.relative_to(PACKAGE).as_posix()
        if module in ALLOWED_MODULES:
            continue
        for node in trees[path].body:
            names = [n for n in _defined_names(node) if not n.startswith("__")]
            if not names or _registered(node):
                continue
            start = min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", [])])
            own = Counter(n for n, line in refs[path] if start <= line <= node.end_lineno)
            unreached += [f"{module}::{n}" for n in names if total[n] == own[n]]
    return unreached


def test_every_package_definition_is_reached_by_program_code():
    # the walk allocates about a million short-lived AST nodes; cyclic
    # collections among them would only add a third to its time
    gc.disable()
    try:
        assert unreached() == []
    finally:
        gc.enable()
