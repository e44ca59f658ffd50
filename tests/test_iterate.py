"""``operators/iterate.fixpoint``: the one convergence loop every
run-to-fixpoint operator goes through. Pure driver logic — the state is
opaque to the loop, so plain Python values exercise it."""

from __future__ import annotations

from end_to_end_aws_data_pipeline_spark.operators.iterate import fixpoint


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
