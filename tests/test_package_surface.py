"""Every top-level package function and class is reachable from code
that runs outside the test suite. One that only tests reach is surface
nothing runs: it fails here unless ``ALLOWED`` names it with a reason.

The roots are the registered queries (functions decorated with
``register``), the package's module-level code, and all of
``bench.py``, ``__spark_entry__.py``, ``perfbench/``, ``tools/`` and
``examples/``. Reaching a top-level function or class reaches every
name its source span mentions, so the check is transitive.

A mention is a use in the syntax tree: a name (``f``) or an attribute
(``m.f``). Comments, docstrings and other strings mention nothing. A use
counts only outside the definition's own body and is never an
``import`` statement, so a re-export keeps nothing alive; ``from m
import f as g`` makes a use of ``g`` reach ``f``. Decorators run at
import time, so they count as module-level code.
"""

from __future__ import annotations

import ast
from pathlib import Path

import end_to_end_aws_data_pipeline_spark as pkg

PKG = Path(pkg.__file__).parent
REPO = PKG.parent
ROOTS = ("bench.py", "__spark_entry__.py", "perfbench", "tools", "examples")

# Only tests call these; each stays for the reason given.
ALLOWED = {
    "ingest/jdbc.py::stream_upsert_jdbc": (
        "the reference's upsert sink, streamed (COVERAGE.md §2.A row 8)"
    ),
    "ingest/credentials.py::get_sink_credentials": (
        "the reference's sink secrets lookup (COVERAGE.md §2.A row 16)"
    ),
    "ingest/ddl.py::create_table_if_not_exists": (
        "the reference's sink-table DDL (COVERAGE.md §2.A row 7)"
    ),
    "plans/explain.py::physical_plan": (
        "reads the final AQE plan through the JVM; the predicates in "
        "tests/plan_checks.py parse its text"
    ),
    "functions/aggs.py::stable_round_sql": (
        "the DuckDB spelling of stable_round that "
        "test_stable_round_bit_identical_across_engines compares against"
    ),
    "operators/asof.py::asof_join_pandas": (
        "the pandas reference that tests/test_asof_pandas.py compares "
        "the Spark as-of joins against"
    ),
    "ingest/pgwire.py::factory": (
        "the connection factory for the write_jdbc_upsert sink"
    ),
}


def _is_register(dec: ast.expr) -> bool:
    f = dec.func if isinstance(dec, ast.Call) else dec
    return getattr(f, "id", getattr(f, "attr", None)) == "register"


def _uses(nodes) -> set[str]:
    """Every name and attribute used anywhere under ``nodes``."""
    out: set[str] = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
    return out


def _scan(path: Path):
    """``(defs, loose, aliases)`` for one file: each top-level def or
    class as ``(name, registered, uses)``, the uses outside every such
    definition, and each import's ``as`` name."""
    tree = ast.parse(path.read_text(), filename=str(path))
    aliases: dict[str, str] = {}
    for n in ast.walk(tree):
        if isinstance(n, (ast.Import, ast.ImportFrom)):
            for a in n.names:
                if a.asname:
                    aliases[a.asname] = a.name.rpartition(".")[2]
    defs, loose_nodes = [], []
    for n in tree.body:
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            decorators = n.decorator_list
            loose_nodes += decorators
            own = [c for c in ast.iter_child_nodes(n) if c not in decorators]
            defs.append((
                n.name,
                any(_is_register(d) for d in decorators),
                _uses(own) - {n.name},
            ))
        else:
            loose_nodes.append(n)
    return defs, _uses(loose_nodes), aliases


def _unreached(extra_roots: set[str]) -> set[str]:
    """``module::name`` of each top-level package definition no root
    reaches."""
    defs: list[tuple[str, str, set[str]]] = []
    aliases: dict[str, set[str]] = {}
    todo = set(extra_roots)
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        file_defs, loose, file_aliases = _scan(path)
        todo |= loose | {name for name, reg, _ in file_defs if reg}
        defs += [(f"{rel}::{name}", name, body) for name, _, body in file_defs]
        for alias, name in file_aliases.items():
            aliases.setdefault(alias, set()).add(name)
    for root in ROOTS:
        p = REPO / root
        for path in [p] if p.is_file() else sorted(p.rglob("*.py")):
            file_defs, loose, _ = _scan(path)
            todo |= loose.union(*(body for *_, body in file_defs))
    by_name: dict[str, list[set[str]]] = {}
    for _, name, body in defs:
        by_name.setdefault(name, []).append(body)
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        todo |= aliases.get(name, set())
        for body in by_name.get(name, ()):
            todo |= body - seen
    return {key for key, name, _ in defs if name not in seen}


def test_only_allowlisted_definitions_are_test_only():
    reachable = set(ALLOWED) - _unreached(set())
    assert not reachable, f"reachable, drop from ALLOWED: {sorted(reachable)}"
    stray = _unreached({key.rpartition("::")[2] for key in ALLOWED})
    assert not stray, f"only tests reach these: {sorted(stray)}"
