"""One convergence loop for every driver-loop algorithm that runs to a
fixpoint, the min-label step two of them share, and the lazy per-round
checkpoint.

``fixpoint(state, step, max_rounds)`` is the single superstep loop (the
Pregel shape, Malewicz et al., SIGMOD 2010): ``step(state, round)``
returns ``(state, done)`` and the loop owns round counting and the
``max_rounds`` bound. Each caller decides what non-convergence means
and raises its own error. Users:

- ``min_label_step`` (below) — min-label propagation, used by
  dedup.connected_components and the color phase of graph.scc_labels;
- graph.scc_labels' trim and backward sweeps;
- dedup.connected_components_star — its state is an edge MULTISET, not
  a keyed vector, so its step carries its own probe (count tie +
  ``subtract``; most rounds cost one count action).

Fixed-round loops (MIS, HITS, k-hop) carry one node-keyed state and
take one eager checkpoint per round; a per-round number comes from one
aggregate over the final state or from the checkpoint's own action
(``DataFrame.observe``). Random walks, harmonic centrality and the
fixed-R PageRank, k-core, LPA and HyperANF queries stay plain ``for``
loops. Their run-to-convergence stop rounds (LPA's period-2 label
orbit, PageRank's period-2 rank orbit, the k-core and HyperANF
fixpoints) were measured once and are on record in SCALING.md.

Checkpoints: a round state consumed by the round's own action (a count
or a collect) uses ``fused_ckpt``; a state that feeds a broadcast build
checkpoints eagerly (HITS, random walks, MIS, k-hop, SCC setup).
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Below this many edges, connected components (dedup) and SCC (graph)
# are single-node problems: union-find or iterative Tarjan on the
# driver is near-linear and finishes in milliseconds, while every round
# of the distributed loop costs several jobs. 200k edges is a few MB
# on the driver, far below its heap at any configuration.
LOCAL_MAX_EDGES = 200_000


def fused_ckpt(df: DataFrame) -> DataFrame:
    """LAZY localCheckpoint for per-round lineage truncation: the
    returned DataFrame is LogicalRDD-backed immediately (the plan is
    truncated exactly as with eager=True), but its final stage runs
    inside the NEXT action's job — so a round's "checkpoint job +
    fixpoint-probe job" collapses to one job. (Under adaptive execution
    the plan's shuffle-map and broadcast stages still run at this call.)
    Measured on SCC at sf10: 91 inner rounds, 144.3 → 128.9 s (−11%).

    Never let a broadcast consume the result before an action has
    materialized it: the checkpoint would then be computed inside the
    BroadcastExchange build, under ``spark.sql.broadcastTimeout``.
    ``tests/plan_checks.unmaterialized_broadcast_ckpts`` checks this on
    an executed plan."""
    return df.localCheckpoint(eager=False)


def fixpoint(
    state: Any,
    step: Callable[[Any, int], tuple[Any, bool]],
    max_rounds: int,
) -> tuple[Any, int, bool]:
    """Run ``state, done = step(state, round)`` for round = 1, 2, ...
    until ``done`` or ``max_rounds`` rounds have run.

    Returns ``(state, rounds_run, converged)``: ``rounds_run`` is the
    round whose step reported ``done`` (``max_rounds`` when none did,
    with ``converged=False``). The state is opaque to the loop — a
    DataFrame, or a tuple of them when a phase carries more than one."""
    for r in range(1, max_rounds + 1):
        state, done = step(state, r)
        if done:
            return state, r, True
    return state, max_rounds, False


def min_label_step(
    edges: DataFrame,
) -> Callable[[DataFrame, int], tuple[DataFrame, bool]]:
    """A ``fixpoint`` step for min-label propagation along directed
    ``(src, dst)`` edges over a ``(node, label)`` vector: each node
    takes the min of its own label and its in-neighbors' labels. Pass
    a symmetrized edge list for connected components; a digraph gives
    the SCC coloring (label = min over the node and its ancestors).

    The ``chg`` flag is computed in the same plan as the new labels and
    counted: the count is the round's one action, and it materializes
    the lazily checkpointed labels. ``done`` when no label fell."""

    def step(labels: DataFrame, _round: int) -> tuple[DataFrame, bool]:
        msgs = (
            edges.join(
                labels.select(
                    F.col("node").alias("src"), F.col("label").alias("l_src")
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("l_src").alias("l_in"))
        )
        upd = fused_ckpt(
            labels.join(msgs, "node", "left").select(
                "node",
                F.least("label", F.coalesce("l_in", "label")).alias("label"),
                (F.coalesce("l_in", "label") < F.col("label")).alias("chg"),
            )
        )
        return upd.drop("chg"), upd.filter("chg").count() == 0

    return step
