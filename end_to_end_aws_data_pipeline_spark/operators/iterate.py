"""One convergence loop for every driver-loop algorithm that runs to a
fixpoint, plus the steps and probes its users share.

``fixpoint(state, step, max_rounds)`` is the single superstep loop (the
Pregel shape, Malewicz et al., SIGMOD 2010): ``step(state, round)``
returns ``(state, done)`` and the loop owns round counting and the
``max_rounds`` bound. Each caller decides what non-convergence means
and raises its own error. Users:

- ``run_until_periodic`` (below) — keyed state vectors compared at a
  period: LPA (graph.lpa_labels_deep, period=2), PageRank
  (graph.pagerank_ranks_deep, period=2), k-core peeling
  (graph.kcore_peel_deep, period=1 with ``keys_shrink``) and HyperANF
  (graph.hyperanf_deep, period=1);
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
fixed-R PageRank/k-core/LPA queries stay plain ``for`` loops.

The measured LPA depth study (SCALING.md, LPA convergence study) proved
that a plain ``changed == 0`` fixpoint check NEVER fires on bipartite
graphs: even with the retention self-vote, ~10% of the purchase graph's
nodes sit in a period-2 label orbit, swapping between two labels every
round forever. The correct deep-R stop criterion is therefore
``state(t) == state(t-2)`` — compared at matching parity (t vs t-2 have
equal parity by construction), it detects the orbit itself as the
fixpoint. Monotone algorithms (k-core: degrees only fall, nodes only
leave) cannot oscillate, so ``period=1`` degrades to the classic
changed==0 stop.

Scale shape: one equality probe is a single co-partitioned equi-join of
two key-sized (not edge-sized) vectors with an ``isEmpty`` short-circuit
— the first differing partition aborts the scan. For a deep-R run the
probe cost is amortized by ``check_every`` (default = period). A step
that detects its own fixpoint (k-core's empty peel set) can return its
input DataFrame unchanged — the runner recognizes object identity and
stops without any probe job.

Checkpoints: a step whose result is consumed by a probe action uses
``fused_ckpt`` (lazy; ``SPARK_GRAFT_EAGER_CKPT=1`` makes it eager); a
step whose result feeds a broadcast build checkpoints eagerly (HITS).
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fused_ckpt(df: DataFrame) -> DataFrame:
    """LAZY localCheckpoint for per-round lineage truncation: the
    returned DataFrame is LogicalRDD-backed immediately (the plan is
    truncated exactly as with eager=True), but materialization happens
    inside the NEXT action's job — so a round's "checkpoint job +
    fixpoint-probe job" collapses to one job, and rounds between
    probes (period>1 runners) fuse their shuffles into the probe job.
    Measured on SCC at sf10: 91 inner rounds, 144.3 → 128.9 s (−11%).
    SPARK_GRAFT_EAGER_CKPT=1 restores eager checkpoints (A/B lever;
    also the right setting if a step's result is consumed by something
    that must not pay materialization inside its own job)."""
    import os

    return df.localCheckpoint(
        eager=bool(os.environ.get("SPARK_GRAFT_EAGER_CKPT"))
    )


def vectors_differ(
    a: DataFrame,
    b: DataFrame,
    key: str = "node",
    val: str = "lbl",
    keys_shrink: bool = False,
) -> bool:
    """True iff the two state vectors disagree on any key.

    With ``keys_shrink=False`` both vectors must carry the same key set
    — which label/rank loops preserve (a node never appears or
    disappears mid-iteration), so an inner join suffices and a
    row-count comparison is not needed. Peeling loops (k-core) REMOVE
    keys, and a removed key is invisible to an inner join — e.g. an
    isolated sub-k clique peels away without touching any survivor's
    degree — so ``keys_shrink=True`` first compares row counts (keys
    only ever leave, so equal counts ⇒ equal key sets). Both probes
    short-circuit: ``isEmpty`` stops at the first mismatch."""
    if keys_shrink and a.count() != b.count():
        return True
    bb = b.select(F.col(key), F.col(val).alias("__b_val"))
    return not (
        a.join(bb, key, "inner")
        .filter(F.col(val) != F.col("__b_val"))
        .isEmpty()
    )


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


def run_until_periodic(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_rounds: int,
    period: int = 2,
    key: str = "node",
    val: str = "lbl",
    check_every: int | None = None,
    keys_shrink: bool = False,
) -> tuple[DataFrame, int, bool]:
    """Iterate ``state = step(state)`` until the state repeats with the
    given period (``state(t) == state(t-period)``, parity matching by
    construction) or ``max_rounds`` is hit.

    Returns ``(final_state, rounds_run, converged)``. ``step`` is
    responsible for its own lineage truncation (localCheckpoint /
    persist) exactly as a fixed-R loop body would be; this runner only
    keeps a ``period``-deep history of (checkpointed, hence cheap)
    DataFrames for the equality probes.

    ``period=1`` degrades to the classic changed==0 fixpoint — useful
    for monotone algorithms (k-core peeling) where oscillation is
    impossible; oscillating label algorithms need ``period=2``. Pass
    ``keys_shrink=True`` for peeling state whose key set loses rows
    (see ``vectors_differ``). A step that detects its own fixpoint may
    return its input object unchanged — recognized by identity, no
    probe job runs.
    """
    if check_every is None:
        check_every = period
    history: list[DataFrame] = [state]

    def probed(prev: DataFrame, r: int) -> tuple[DataFrame, bool]:
        nxt = step(prev)
        if nxt is prev:
            return nxt, True
        history.append(nxt)
        if len(history) > period + 1:
            history.pop(0)
        return nxt, (
            r >= period
            and r % check_every == 0
            and not vectors_differ(
                nxt, history[0], key, val, keys_shrink=keys_shrink
            )
        )

    return fixpoint(state, probed, max_rounds)
