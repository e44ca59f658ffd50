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

The same holds for parameters: a defaulted parameter of a package
function or method that no call sets, or that every call sets to its
default, is a knob nothing turns and fails here. One that only tests
set fails unless ``SEAMS`` names it with a reason. Calls are read from
the package, the roots and ``tests/``. A call matches a def of the
called name (a class name calls its ``__init__``) only in a file that
can reach the def: the file defines it, imports its module, or imports
its top-level function or class (through a package ``__init__`` that
re-exports it, too). A ``*args`` or ``**kwargs`` splat sets every
parameter. A default that binds a local of the enclosing function
(``_sql=sql_text``) is a closure binding, not a knob.

Last, a ``_``-prefixed name is private to its module: no package
module imports one from another package module, at module level or
inside a function, unless ``PRIVATE_IMPORTS`` names it with a reason.
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
    "ingest/pgwire.py::factory": (
        "the connection factory for the write_jdbc_upsert sink"
    ),
}

# Only tests set these defaulted parameters: each forces a path or a
# size the suite cannot reach at test scale, or is kept for the reason
# given.
SEAMS = {
    "functions/aggs.py::stable_round_sql(out_scale)": (
        "the DuckDB twin of stable_round(out_scale), which run code sets; "
        "the cross-engine test pairs the two at each scale"
    ),
    "ingest/jdbc.py::write_jdbc_upsert(batch_size)": (
        "a batch smaller than a partition commits mid-partition at test "
        "scale"
    ),
    "ingest/jdbc.py::stream_upsert_jdbc(dialect)": (
        "the suite's live server is PostgreSQL; the mysql default has none"
    ),
    "ingest/jdbc.py::stream_upsert_jdbc(key_columns)": (
        "PostgreSQL's ON CONFLICT target, required with that dialect"
    ),
    "ingest/pgwire.py::_Cursor.execute(params)": (
        "the DB-API execute signature; the binary-parameter test sends "
        "bytes through the extended protocol with it, on a cursor from "
        "connect(), so no call the scan can match sets it"
    ),
    "ingest/pipeline.py::IngestPipeline.__init__(schema_policy)": (
        "perfbench/workloads.py passes it by keyword; any value but the "
        "default raises, and it folds when that file next changes"
    ),
    "operators/dedup.py::connected_components(local_max_edges)": (
        "0 forces the distributed path on a test-sized graph"
    ),
    "operators/dedup.py::connected_components(max_iterations)": (
        "a 10-round cap reaches the did-not-converge error in 10 jobs, "
        "not 50"
    ),
    "operators/dedup.py::connected_components_star(local_max_edges)": (
        "0 forces the distributed path on a test-sized graph"
    ),
    "operators/dedup.py::connected_components_star(max_iterations)": (
        "shows the star variant finishing a 200-node path within the "
        "10-round cap that propagation exceeds"
    ),
    "operators/dedup.py::ngram_jaccard_pairs(direct_sumdf2_max)": (
        "0 and 2^60 force each route (PPJoin, direct) on the test corpus"
    ),
    "operators/graph.py::hits_scores(iters)": (
        "counting jobs per round needs runs of 1, 2 and 3 rounds"
    ),
    "operators/graph.py::hyperanf_counts(k_rounds)": (
        "running past the query's rounds shows the N(k) curve saturate"
    ),
    "operators/graph.py::mis_rounds(rounds)": (
        "counting jobs per round needs runs of 1 to 4 rounds"
    ),
    "operators/graph.py::scc_labels(local_max_edges)": (
        "0 forces the distributed path on a test-sized graph"
    ),
    "operators/jpeg.py::encode_jpeg(subsample)": (
        "the suite's only source of 4:2:0 JPEGs for decode_jpeg's "
        "chroma upsampling"
    ),
    "operators/percentiles.py::binned_exact_percentiles(bins)": (
        "a few bins force several refinement rounds on test-sized groups"
    ),
    "operators/percentiles.py::binned_exact_percentiles(collect_cap)": (
        "a small cap forces refinement before the candidate fetch"
    ),
    "operators/percentiles.py::binned_exact_percentiles(max_groups)": (
        "a small cap trips the group-cardinality guard"
    ),
    "operators/percentiles.py::guard_exact_percentile(max_rows)": (
        "a small cap trips the per-group row guard"
    ),
    "plans/scale.py::salted_agg(n_salts)": (
        "1, 7 and 32 salts show the merge is invariant to the salt count"
    ),
    "session.py::get_spark(master)": "the test session's fixed core count",
    "session.py::get_spark(shuffle_partitions)": (
        "the test session's small shuffle width"
    ),
    "streaming/ann_index.py::run_ann_index_stream(ckpt)": (
        "kill+resume: the second run resumes the first run's checkpoint"
    ),
    "streaming/ann_index.py::run_ann_index_stream(stop_after_batches)": (
        "kill+resume: stops the first run mid-stream"
    ),
    "streaming/pattern.py::run_pattern_stream(ckpt)": (
        "kill+resume: the second run resumes the first run's checkpoint"
    ),
    "streaming/pattern.py::run_pattern_stream_rle(ckpt)": (
        "kill+resume: the second run resumes the first run's checkpoint"
    ),
    "streaming/pattern.py::run_pattern_stream_rle(stop_after_batches)": (
        "kill+resume: stops the first run mid-stream"
    ),
    "streaming/sketch.py::run_hh_stream(stop_after_batches)": (
        "kill+resume: stops the first run mid-stream"
    ),
    "streaming/sketch.py::run_sketch_stream(stop_after_batches)": (
        "kill+resume: stops the first run mid-stream"
    ),
}


# Private names a package module imports from another, each with why.
PRIVATE_IMPORTS: dict[str, str] = {}


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


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _aliases(tree: ast.Module) -> dict[str, str]:
    """Each import's ``as`` name, mapped to the name it imports."""
    return {
        a.asname: a.name.rpartition(".")[2]
        for n in ast.walk(tree)
        if isinstance(n, (ast.Import, ast.ImportFrom))
        for a in n.names
        if a.asname
    }


def _py_files(roots):
    for root in roots:
        p = REPO / root
        yield from [p] if p.is_file() else sorted(p.rglob("*.py"))


def _scan(path: Path):
    """``(defs, loose, aliases)`` for one file: each top-level def or
    class as ``(name, registered, uses)``, the uses outside every such
    definition, and each import's ``as`` name."""
    tree = _parse(path)
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
    return defs, _uses(loose_nodes), _aliases(tree)


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
    for path in _py_files(ROOTS):
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


# -- parameters --------------------------------------------------------


def _walk_defs(node, prefix, outer, in_class):
    """``(qualname, def, enclosing locals, is method)`` of every def
    under ``node``."""
    for n in ast.iter_child_nodes(node):
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield prefix + n.name, n, outer, in_class
            a = n.args
            inner = {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
            inner |= {
                x.id for x in ast.walk(n)
                if isinstance(x, ast.Name) and isinstance(x.ctx, ast.Store)
            }
            yield from _walk_defs(n, f"{prefix}{n.name}.", inner, False)
        elif isinstance(n, ast.ClassDef):
            yield from _walk_defs(n, f"{prefix}{n.name}.", set(), True)
        else:
            yield from _walk_defs(n, prefix, outer, in_class)


def _defaulted_params():
    """``{call name: [(key, (file, top-level name), position or None,
    keyword, default)]}`` for every defaulted parameter of a package
    def. A default that binds a local of the enclosing function
    (``cm=cm``) is a closure binding, not a knob, and is left out."""
    out: dict[str, list] = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for qual, fn, outer, method in _walk_defs(_parse(path), "", set(), False):
            static = any(getattr(d, "id", None) == "staticmethod"
                         for d in fn.decorator_list)
            skip = 1 if method and not static else 0
            name = fn.name
            if name == "__init__" and method:
                name = qual.split(".")[-2]
            a = fn.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            params = [
                (first + j - skip, p, d)
                for j, (p, d) in enumerate(zip(pos[first:], a.defaults))
            ]
            params += [(None, p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults)
                       if d is not None]
            entry = out.setdefault(name, [])
            for i, p, d in params:
                if isinstance(d, ast.Name) and d.id in outer:
                    continue
                home = (rel, qual.partition(".")[0])
                entry.append((f"{rel}::{qual}({p.arg})", home, i, p.arg, d))
    return out


def _module_file(dotted: str) -> str | None:
    """The package file of a dotted module name, or None when it names
    no package module."""
    head, _, rest = dotted.partition(".")
    if head != PKG.name:
        return None
    base = PKG.joinpath(*rest.split(".")) if rest else PKG
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path.relative_to(PKG).as_posix()
    return None


def _imports(tree: ast.Module):
    """``((file, name or None), bound name)`` for each package module
    (``None``) or package definition a file imports, anywhere in it."""
    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            for a in n.names:
                f = _module_file(a.name)
                if f:
                    yield (f, None), a.asname or a.name
        elif isinstance(n, ast.ImportFrom) and n.module and not n.level:
            src = _module_file(n.module)
            for a in n.names if src else ():
                sub = _module_file(f"{n.module}.{a.name}")
                yield (sub, None) if sub else (src, a.name), a.asname or a.name


def _exports() -> dict[tuple, list]:
    """``{(package file, bound name): [what it imports]}``: a package
    file's imports, as what each name bound there re-exports."""
    out: dict[tuple, list] = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for target, bound in _imports(_parse(path)):
            out.setdefault((rel, bound), []).append(target)
    return out


def _reach(tree: ast.Module, rel: str | None, exports) -> set:
    """``(file, name or None)`` of what one file can reach: itself,
    each package module it imports, and each package definition it
    imports, followed through re-exports."""
    out = {(rel, None)}
    todo = [target for target, _ in _imports(tree)]
    while todo:
        target = todo.pop()
        if target not in out:
            out.add(target)
            todo += exports.get(target, [])
    return out


def _credits(reach: set, home: tuple[str, str]) -> bool:
    """Whether a file that reaches ``reach`` can call a def whose
    ``home`` is (its file, its top-level function or class)."""
    return (home[0], None) in reach or home in reach


def _calls(roots, aliases, exports):
    """``(callee name, call, reach)`` for every call under ``roots``,
    with what its file can reach; ``partial(f, ...)`` counts as a call
    of ``f``."""
    for path in _py_files(roots):
        tree = _parse(path)
        rel = path.relative_to(PKG).as_posix() if PKG in path.parents else None
        reach = _reach(tree, rel, exports)
        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            f = n.func
            name = getattr(f, "id", getattr(f, "attr", None))
            if name == "partial" and n.args:
                f = n.args[0]
                name = getattr(f, "id", getattr(f, "attr", None))
                n = ast.Call(func=f, args=n.args[1:], keywords=n.keywords)
            for callee in {name, aliases.get(name)} - {None}:
                yield callee, n, reach


def _passed(call, position, keyword):
    """The node a call passes for one parameter: ``...`` when a splat
    may set it, ``None`` when the call leaves it at its default."""
    for kw in call.keywords:
        if kw.arg is None:
            return ...
        if kw.arg == keyword:
            return kw.value
    if position is None:
        return None
    for j, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            return ...
        if j == position:
            return arg
    return None


def _is_default(node, default) -> bool:
    if node is ...:
        return False
    if ast.dump(node) == ast.dump(default):
        return True
    try:
        return ast.literal_eval(node) == ast.literal_eval(default)
    except ValueError:
        return False


def _param_findings():
    """``(knobs, test_only)``: the defaulted package parameters no call
    sets to anything but the default, each with why, and those only
    tests set otherwise."""
    params = _defaulted_params()
    aliases: dict[str, str] = {}
    for path in _py_files((PKG.name, *ROOTS, "tests")):
        aliases.update(_aliases(_parse(path)))
    calls = {}
    for where, roots in (("run", (PKG.name, *ROOTS)), ("tests", ("tests",))):
        for name, call, reach in _calls(roots, aliases, _exports()):
            if name in params:
                calls.setdefault(name, []).append((where, call, reach))
    knobs, test_only = {}, set()
    for name, entries in params.items():
        for key, (rel, top), position, keyword, default in entries:
            passed = [
                (where, _passed(call, position, keyword))
                for where, call, reach in calls.get(name, ())
                if _credits(reach, (rel, top))
            ]
            passed = [(w, node) for w, node in passed if node is not None]
            turned = {w for w, node in passed if not _is_default(node, default)}
            if "run" in turned:
                continue
            if "tests" in turned:
                test_only.add(key)
            else:
                knobs[key] = "set to its default" if passed else "never set"
    return knobs, test_only


def test_a_call_credits_only_defs_its_file_can_reach():
    """DuckDB's ``con.execute(sql, params)`` does not set pgwire's
    ``_Cursor.execute(params)``: a file reaches the def only by
    defining it, importing its module, or importing its class,
    directly or through a re-export."""
    cursor = ("ingest/pgwire.py", "_Cursor")
    stream = ("streaming/ingest_stream.py", "StreamingIngest")
    exports = _exports()

    def reach(src: str, rel: str | None = None) -> set:
        return _reach(ast.parse(src), rel, exports)

    duck = reach("import duckdb\nduckdb.connect().execute('SELECT ?', [1])")
    assert not _credits(duck, cursor)
    assert _credits(reach("", "ingest/pgwire.py"), cursor)
    for src in (
        "from end_to_end_aws_data_pipeline_spark.ingest import pgwire",
        "import end_to_end_aws_data_pipeline_spark.ingest.pgwire as pg",
        "from end_to_end_aws_data_pipeline_spark.ingest.pgwire import _Cursor",
    ):
        assert _credits(reach(src), cursor), src
    other = reach("from end_to_end_aws_data_pipeline_spark.ingest.pgwire import factory")
    assert not _credits(other, cursor)
    via_init = reach("from end_to_end_aws_data_pipeline_spark.streaming import StreamingIngest")
    assert _credits(via_init, stream) and not _credits(via_init, cursor)


def test_every_defaulted_parameter_is_turned():
    knobs, test_only = _param_findings()
    unturned = {k: why for k, why in knobs.items() if k not in SEAMS}
    seamless = sorted(test_only - set(SEAMS))
    assert not unturned and not seamless, (
        f"{len(unturned) + len(seamless)} knobs; fold these into their "
        f"bodies: {unturned}; only tests set these: {seamless}"
    )
    stale = set(SEAMS) - test_only - set(knobs)
    assert not stale, f"no longer test-only, drop from SEAMS: {sorted(stale)}"


# -- private names -----------------------------------------------------


def _private_imports() -> list[tuple[str, str]]:
    """``(importer::module.name, where)`` for each ``_``-prefixed name
    a package module imports from another package module, once per
    import statement."""
    out = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for n in ast.walk(_parse(path)):
            if not isinstance(n, ast.ImportFrom) or n.level or not n.module:
                continue
            src = _module_file(n.module)
            out += [
                (f"{rel}::{src}.{a.name}", f"{rel}:{n.lineno}")
                for a in n.names
                if src and a.name.startswith("_") and not a.name.startswith("__")
            ]
    return out


def test_no_private_name_crosses_a_module():
    found = _private_imports()
    crossing = [f"{where} {key}" for key, where in found if key not in PRIVATE_IMPORTS]
    assert not crossing, (
        f"{len(crossing)} imports of another module's private name; make "
        f"each public in its owner: {crossing}"
    )
    stale = set(PRIVATE_IMPORTS) - {key for key, _ in found}
    assert not stale, f"no longer imported, drop from PRIVATE_IMPORTS: {sorted(stale)}"
