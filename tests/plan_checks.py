"""Plan checks shared by the tests.

``unmaterialized_broadcast_ckpts`` is the check behind
``operators/iterate.fused_ckpt``'s rule: a lazy local checkpoint must be
materialized by an action before a broadcast reads it. Otherwise the
checkpoint's own computation runs inside the BroadcastExchange build,
under ``spark.sql.broadcastTimeout``.

``python_rdd_scans`` is the check behind ``catalog.local_frame``: no
engine plan scans a Python RDD, so executing it starts no Python worker
for its driver-built rows.

The predicates below them (pushed filters, read schema, forced
broadcasts, broadcast joins, shuffles, whole-stage codegen, top-N,
global-window row flow) are the plan-quality gates of
``tests/test_plans.py``, read from ``plans/explain``'s plan text."""

from __future__ import annotations

from pyspark.sql import DataFrame

from end_to_end_aws_data_pipeline_spark.plans.explain import (
    formatted_plan,
    physical_plan,
)


def unmaterialized_broadcast_ckpts(df: DataFrame) -> list[str]:
    """One entry per scan of a not-yet-materialized local checkpoint
    inside a ``BroadcastExchangeExec`` subtree of ``df``'s executed
    plan (planning only: no job runs)."""
    found: list[str] = []

    def walk(node, under_broadcast: bool) -> None:
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            walk(node.executedPlan(), under_broadcast)
            return
        if name == "RDDScanExec" and under_broadcast:
            rdd = node.rdd()
            if rdd.isLocallyCheckpointed() and not rdd.isCheckpointed():
                found.append(node.simpleString(100))
        under_broadcast = under_broadcast or name == "BroadcastExchangeExec"
        # cached relations and reused exchanges hide under innerChildren
        for seq in (node.children(), node.innerChildren()):
            for i in range(seq.size()):
                walk(seq.apply(i), under_broadcast)

    walk(df._jdf.queryExecution().executedPlan(), False)  # noqa: SLF001
    return found


def python_rdd_scans(df: DataFrame) -> list[str]:
    """One entry per ``RDDScanExec`` in ``df``'s executed plan whose RDD
    lineage holds a ``PythonRDD`` (planning only: no job runs). That is
    the scan ``createDataFrame(<list>)`` plans, and each execution of it
    starts Python workers. The lineage walk follows ``dependencies()``,
    which ends at a materialized checkpoint, so a local-checkpoint scan
    matches only while its pending plan would still run a Python RDD."""
    found: list[str] = []

    def python_lineage(rdd) -> bool:
        seen, todo = set(), [rdd]
        while todo:
            r = todo.pop()
            if r.id() in seen:
                continue
            seen.add(r.id())
            if r.getClass().getName() == "org.apache.spark.api.python.PythonRDD":
                return True
            deps = r.dependencies()
            for i in range(deps.size()):
                todo.append(deps.apply(i).rdd())
        return False

    def walk(node) -> None:
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if name == "RDDScanExec" and python_lineage(node.rdd()):
            found.append(node.simpleString(100))
        for seq in (node.children(), node.innerChildren()):
            for i in range(seq.size()):
                walk(seq.apply(i))

    walk(df._jdf.queryExecution().executedPlan())  # noqa: SLF001
    return found


def has_pushed_filters(df: DataFrame, fragment: str | None = None) -> bool:
    """True if the scan carries PushedFilters (optionally matching a
    column fragment) — i.e. the predicate reaches the parquet reader."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "PushedFilters" in line and "[]" not in line.replace(" ", ""):
            if fragment is None or fragment in line:
                return True
    return False


def scan_read_schema(df: DataFrame, table_fragment: str) -> str:
    """ReadSchema of the scan whose location matches table_fragment —
    to assert column pruning (a 2-column projection must not scan 16)."""
    plan = formatted_plan(df)
    blocks = plan.split("(")
    for i, b in enumerate(blocks):
        if table_fragment in b and "ReadSchema" in b:
            for line in b.splitlines():
                if line.strip().startswith("ReadSchema"):
                    return line.strip()
    # fallback: any ReadSchema line mentioning the fragment in context
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if table_fragment in line:
            for j in range(i, min(i + 12, len(lines))):
                if "ReadSchema" in lines[j]:
                    return lines[j].strip()
    return ""


def forced_broadcast_count(df: DataFrame) -> int:
    """Number of *explicit* broadcast hints surviving to the optimized
    logical plan (`rightHint=(strategy=broadcast)` on a Join node).

    Auto-selected broadcasts (size-threshold / AQE runtime stats) do NOT
    appear here — only user-forced `F.broadcast(...)` hints. The scale
    invariant is: forced hints are allowed ONLY on fixed-cardinality
    inputs (region=5, nation=25, literal band/lexicon tables); an
    sf-scaling table behind a forced hint bypasses AQE's size check and
    OOMs executors at 100 TB.
    """
    return (
        df._jdf.queryExecution()  # noqa: SLF001
        .optimizedPlan()
        .toString()
        .count("strategy=broadcast")
    )


def count_broadcast_joins(df: DataFrame) -> int:
    return physical_plan(df).count("BroadcastHashJoin") + physical_plan(df).count(
        "BroadcastNestedLoopJoin"
    )


def count_shuffles(df: DataFrame) -> int:
    """Exchange operators in the physical plan (each is a full shuffle
    of its input — the scarcest resource at 100 TB)."""
    return physical_plan(df).count("Exchange hashpartitioning") + physical_plan(
        df
    ).count("Exchange rangepartitioning")


def has_wholestage_codegen(df: DataFrame) -> bool:
    """Under AQE the codegen'd stages only appear in the *final* plan,
    so this executes the query (cheap at test SF) and inspects the
    executed plan."""
    df.collect()  # count() would spawn a separate plan; collect
    # finalizes THIS DataFrame's adaptive plan in place
    plan = physical_plan(df)
    # final AQE plans mark codegen'd stages as `*(n) Operator`
    return "WholeStageCodegen" in plan or "*(" in plan


def uses_take_ordered(df: DataFrame) -> bool:
    """ORDER BY + LIMIT should plan TakeOrderedAndProject (per-partition
    top-N + merge), never a global sort."""
    return "TakeOrderedAndProject" in physical_plan(df)


def global_window_input_rows(df: DataFrame) -> list[tuple[str, int]]:
    """EXECUTE df and return, for every UNPARTITIONED WindowExec /
    WindowGroupLimitExec in the final adaptive plan, (window operator
    one-line description, rows that flowed through it).

    A window's output rows equal its input rows, so the node's own
    numOutputRows metric IS the single-partition row count the
    WindowExec warning is about. This turns every "bounded global
    window" justification comment into an executable gate: the
    documented bound is asserted against the measured row flow, not
    trusted. Foldable partitionBy(lit) tricks don't fool it — the
    optimizer folds those away and the node still reports empty
    partitionSpec (see scale-lessons)."""
    df.collect()
    qe = df._jdf.queryExecution()  # noqa: SLF001
    out: list[tuple[str, int]] = []

    def rows_of(node) -> int:
        m = node.metrics()
        it = m.iterator()
        best = -1
        while it.hasNext():
            kv = it.next()
            if kv._1() == "numOutputRows":
                best = kv._2().value()
        if best >= 0:
            return best
        # some nodes (e.g. SortExec) carry no row metric: descend
        ch = node.children()
        for i in range(ch.size()):
            r = rows_of(ch.apply(i))
            if r >= 0:
                return r
        return -1

    def walk(node) -> None:
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if name in ("WindowExec", "WindowGroupLimitExec"):
            if node.partitionSpec().isEmpty():
                child = node.children().apply(0)
                n = rows_of(child)
                if n < 0:
                    n = rows_of(node)
                out.append((node.verboseStringWithOperatorId()
                            if hasattr(node, "verboseStringWithOperatorId")
                            else name, int(n)))
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))
        # reused exchanges / subqueries hide under innerChildren
        inner = node.innerChildren()
        for i in range(inner.size()):
            walk(inner.apply(i))

    walk(qe.executedPlan())
    return out
