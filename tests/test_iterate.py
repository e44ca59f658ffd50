"""``operators/iterate``: the one convergence loop every run-to-fixpoint
operator goes through, and the broadcast rule of its lazy checkpoint.
``fixpoint`` is pure driver logic — the state is opaque to the loop, so
plain Python values exercise it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.operators.iterate import (
    fixpoint,
    fused_ckpt,
    min_label_step,
)
from tests.conftest import SF_SMOKE
from tests.plan_checks import unmaterialized_broadcast_ckpts


def test_fixpoint_stops_at_first_done_and_reports_its_round():
    calls = []

    def step(state, r):
        calls.append(r)
        return state + [r], r == 3

    state, rounds, converged = fixpoint([], step, max_rounds=10)
    assert converged and rounds == 3
    assert calls == [1, 2, 3]  # no step runs after the first done
    assert state == [1, 2, 3]  # the done step's state is returned


def test_fixpoint_done_on_first_round():
    state, rounds, converged = fixpoint("s", lambda s, r: (s, True), 5)
    assert (state, rounds, converged) == ("s", 1, True)


def test_fixpoint_not_converged_exactly_at_max_rounds():
    calls = []

    def step(state, r):
        calls.append(r)
        return state + 1, False

    state, rounds, converged = fixpoint(0, step, max_rounds=4)
    assert not converged and rounds == 4 and state == 4
    assert calls == [1, 2, 3, 4]

    # done on the last allowed round still counts as converged
    state, rounds, converged = fixpoint(0, lambda s, r: (s + 1, r == 4), 4)
    assert converged and rounds == 4 and state == 4


@pytest.fixture
def checked_actions(spark, monkeypatch):
    """Check every plan for a broadcast of an unmaterialized lazy
    checkpoint before ``count``, ``collect`` or ``localCheckpoint`` runs
    it (a lazy checkpoint runs every stage but its last when it is
    taken). Yields the number of plans checked."""
    cls = type(spark.range(1))
    checked = [0]
    for name in ("count", "collect", "localCheckpoint"):

        def run(self, *args, _orig=getattr(cls, name), **kwargs):
            bad = unmaterialized_broadcast_ckpts(self)
            assert not bad, bad
            checked[0] += 1
            return _orig(self, *args, **kwargs)

        monkeypatch.setattr(cls, name, run)
    yield checked


def test_broadcast_of_unmaterialized_ckpt_is_caught(spark):
    small = fused_ckpt(spark.range(10).withColumnRenamed("id", "k"))
    big = spark.range(1000).select((F.col("id") % 10).alias("k"))
    assert unmaterialized_broadcast_ckpts(big.join(F.broadcast(small), "k"))
    small.count()  # an action materializes it: the broadcast is safe now
    assert not unmaterialized_broadcast_ckpts(
        big.join(F.broadcast(small), "k")
    )


def test_min_label_step_rounds_pass_broadcast_check(spark, checked_actions):
    pairs = [(i, i + 1) for i in range(6)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    labels = spark.createDataFrame(
        [(i, i) for i in range(7)], "node long, label long"
    )
    labels, rounds, converged = fixpoint(labels, min_label_step(edges), 20)
    assert converged and rounds == 7
    assert {r.label for r in labels.collect()} == {0}
    assert checked_actions[0] >= 2 * rounds  # each round's ckpt + count


def test_kcore_rounds_pass_broadcast_check(spark, checked_actions):
    from end_to_end_aws_data_pipeline_spark.operators.graph import (
        q_graph_kcore,
    )

    rows = q_graph_kcore(spark, SF_SMOKE).collect()
    assert [r["round"] for r in rows] == [1, 2, 3, 4]
    assert rows[0]["n_removed"] > 0  # a peel round ran and was checked
