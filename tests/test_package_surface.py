"""Every top-level package function and class is reachable from code
that runs outside the test suite. One that only tests reach is surface
nothing runs: it fails here unless ``ALLOWED`` names it with a reason.

The roots are the registered queries (functions decorated with
``register``), the package's module-level code, and all of
``bench.py``, ``__spark_entry__.py``, ``perfbench/``, ``tools/`` and
``examples/``. Reaching a top-level function or class reaches every
name its source span mentions, so the check is transitive.

A mention is an identifier anywhere in the text, comments and strings
included, so the check errs towards keeping a function. It counts only
outside the definition's own source span and outside ``import``
statements, so a re-export keeps nothing alive; ``from m import f as g``
makes a mention of ``g`` reach ``f``.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import end_to_end_aws_data_pipeline_spark as pkg

PKG = Path(pkg.__file__).parent
REPO = PKG.parent
ROOTS = ("bench.py", "__spark_entry__.py", "perfbench", "tools", "examples")
_IDENT = re.compile(r"[A-Za-z_]\w*")

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
}


def _is_register(dec: ast.expr) -> bool:
    f = dec.func if isinstance(dec, ast.Call) else dec
    return getattr(f, "id", getattr(f, "attr", None)) == "register"


def _scan(path: Path):
    """``(defs, loose, aliases)`` for one file: each top-level def or
    class as ``(name, registered, mentions)``, the mentions
    outside every such span, and each import's ``as`` name."""
    src = path.read_text()
    tree = ast.parse(src, filename=str(path))
    lines = src.splitlines()
    skip: set[int] = set()
    aliases: dict[str, str] = {}
    for n in ast.walk(tree):
        if isinstance(n, (ast.Import, ast.ImportFrom)):
            skip.update(range(n.lineno, n.end_lineno + 1))
            for a in n.names:
                if a.asname:
                    aliases[a.asname] = a.name.rpartition(".")[2]

    def mentions(span) -> set[str]:
        return {m for i in span if i not in skip for m in _IDENT.findall(lines[i - 1])}

    defs, spans = [], set()
    for n in tree.body:
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            # the span starts at `def`: decorators run at import time
            own = range(n.lineno, n.end_lineno + 1)
            spans.update(own)
            defs.append((
                n.name,
                any(_is_register(d) for d in n.decorator_list),
                mentions(own) - {n.name},
            ))
    loose = mentions(i for i in range(1, len(lines) + 1) if i not in spans)
    return defs, loose, aliases


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
