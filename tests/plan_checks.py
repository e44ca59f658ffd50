"""Executed-plan checks shared by the tests.

``unmaterialized_broadcast_ckpts`` is the check behind
``operators/iterate.fused_ckpt``'s rule: a lazy local checkpoint must be
materialized by an action before a broadcast reads it. Otherwise the
checkpoint's own computation runs inside the BroadcastExchange build,
under ``spark.sql.broadcastTimeout``."""

from __future__ import annotations

from pyspark.sql import DataFrame


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
