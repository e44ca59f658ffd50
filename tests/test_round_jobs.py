"""Spark jobs per round of the iterative graph operators.

Each round runs a fixed set of driver actions: for the run-to-fixpoint
loops, the count that also materializes the round's lazy checkpoints
plus the loop's probe where it has one; for the fixed-round loops (MIS,
HITS, k-hop), the round's one eager checkpoint. Spark counts every
adaptive-execution shuffle-map stage and broadcast build inside an
action as its own job, so a round reads as several jobs, not one.
These tests pin what matters for a job budget: the job count is
exactly ``setup + J * rounds`` — a fixed setup cost plus the same J
jobs every round, never growing with depth — and J stays within the
per-operator ceiling below. Jobs are counted per call through a Spark
job group."""

from __future__ import annotations

import itertools

import pyarrow as pa
import pyarrow.parquet as pq

from end_to_end_aws_data_pipeline_spark.cache import release_all
from end_to_end_aws_data_pipeline_spark.operators.dedup import (
    connected_components,
    connected_components_star,
)
from end_to_end_aws_data_pipeline_spark.operators.graph import (
    hits_scores,
    mis_rounds,
    q_graph_kcore,
    q_graph_khop,
    scc_labels,
)
from tests.conftest import SF_SMOKE

# ceilings on J, measured jobs per round, and on the k-hop and k-core
# build jobs (4 local cores, 4 shuffle partitions)
_BUDGET = {
    "cc": 9,
    "star": 14,
    "scc_color": 6,
    "mis": 12,
    "hits": 6,
    "khop_build": 19,
    "kcore_build": 13,
}

# purchase-graph node ids (customer c is node 2c, supplier s is node
# 2s + 1) of a path on which Luby's md5 priorities leave some node
# undecided at the start of each of four rounds
_SLOW_MIS_PATH = [
    128176, 153337, 17650, 113365, 156778, 184899,
    79428, 104169, 168386, 20879, 122450,
]

_GROUPS = itertools.count()


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"round-jobs-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _jobs_per_round(samples: list[tuple[int, int]]) -> int:
    """J from ``[(rounds, jobs), ...]``, asserting jobs = setup + J·rounds
    holds exactly for every sample."""
    (r0, j0), (r1, j1) = samples[:2]
    per, rem = divmod(j1 - j0, r1 - r0)
    assert rem == 0 and per > 0, samples
    for r, j in samples:
        assert j == j0 + per * (r - r0), samples
    return per


def _path(spark, n: int):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )


def _star_rounds(pairs) -> tuple[int, int]:
    """Python replay of connected_components_star's contraction:
    (rounds, rounds whose edge count tied the previous one) — a tie
    costs the round one more action, the ``subtract`` check."""

    def sym(es):
        return {(a, b) for a, b in es if a != b} | {
            (b, a) for a, b in es if a != b
        }

    def mins(es):
        m = {}
        for u, v in es:
            m[u] = min(m.get(u, u), v)
        return m

    e = sym(pairs)
    rounds = ties = 0
    while True:
        rounds += 1
        m = mins(e)
        mid = sym({(v, m[u]) for u, v in e if v > u})
        m2 = mins(mid)
        new = sym({(v, m2[u]) for u, v in mid if v < u} | set(m2.items()))
        if len(new) == len(e):
            ties += 1
            if new == e:
                return rounds, ties
        e = new


def test_connected_components_jobs_per_round(spark):
    # a path of n edges has diameter n: n label-changing rounds plus
    # the round that finds no change
    samples = [
        (
            n + 1,
            _jobs(
                spark,
                lambda n=n: connected_components(
                    _path(spark, n), local_max_edges=0
                ).collect(),
            ),
        )
        for n in (4, 8, 12)
    ]
    assert _jobs_per_round(samples) <= _BUDGET["cc"]


def test_connected_components_star_jobs_per_round(spark):
    samples = []
    for n in (8, 16, 32):
        rounds, ties = _star_rounds([(i, i + 1) for i in range(n)])
        assert ties == rounds  # every round on a path ties: J covers both
        jobs = _jobs(
            spark,
            lambda n=n: connected_components_star(
                _path(spark, n), local_max_edges=0
            ).collect(),
        )
        samples.append((rounds, jobs))
    assert _jobs_per_round(samples) <= _BUDGET["star"]


def test_scc_color_phase_jobs_per_round(spark):
    """Path 0→1→…→n plus k→0 for every k: one SCC whose color phase
    needs n+1 rounds (label 0 walks the path one hop a round), while
    trim (1 round: nothing to trim) and the backward sweep (2 rounds:
    every node reaches 0 in one hop) do not depend on n — so the job
    count grows by exactly the color phase's cost per round."""
    samples = []
    for n in (4, 8, 12):
        pairs = [(i, i + 1) for i in range(n)] + [
            (k, 0) for k in range(1, n + 1)
        ]
        e = spark.createDataFrame(pairs, "src long, dst long")
        got = {}
        jobs = _jobs(
            spark,
            lambda e=e: got.update(
                rows=scc_labels(spark, e, local_max_edges=0).collect()
            ),
        )
        assert {(r.node, r.scc) for r in got["rows"]} == {
            (v, 0) for v in range(n + 1)
        }
        samples.append((n + 1, jobs))
    assert _jobs_per_round(samples) <= _BUDGET["scc_color"]


def _purchase_path(tmp_path, path: list[int]) -> str:
    """An sf dir whose purchase graph is ``path``: one order per edge."""
    pairs = [
        (a // 2, b // 2) if a % 2 == 0 else (b // 2, a // 2)
        for a, b in zip(path, path[1:])
    ]
    keys = list(range(len(pairs)))
    pq.write_table(
        pa.table({"o_orderkey": keys, "o_custkey": [c for c, _ in pairs]}),
        tmp_path / "orders.parquet",
    )
    pq.write_table(
        pa.table({"l_orderkey": keys, "l_suppkey": [s for _, s in pairs]}),
        tmp_path / "lineitem.parquet",
    )
    return str(tmp_path)


def _warm_samples(spark, fn, rs) -> list[tuple[int, int]]:
    """``[(r, jobs of fn(r)), ...]`` after one warm-up call, each call
    from the same cache state."""
    fn(rs[0])  # fills the table-schema cache
    samples = []
    for r in rs:
        release_all()
        samples.append((r, _jobs(spark, lambda r=r: fn(r))))
    return samples


def test_mis_rounds_jobs_per_round(spark, tmp_path):
    sf = _purchase_path(tmp_path, _SLOW_MIS_PATH)
    state = mis_rounds(spark, sf, rounds=4).collect()
    # round 4 decides a node, so each sampled round starts undecided
    assert max(r["round"] for r in state) == 4
    samples = _warm_samples(
        spark, lambda r: mis_rounds(spark, sf, rounds=r), [1, 2, 3]
    )
    assert _jobs_per_round(samples) <= _BUDGET["mis"]


def test_mis_rounds_stop_once_decided(spark):
    """Luby decides every sf0.001 node in two rounds; later rounds take
    no job (adaptive execution's empty-relation pruning made their job
    count vary between runs)."""
    samples = _warm_samples(
        spark, lambda r: mis_rounds(spark, SF_SMOKE, rounds=r), [2, 3, 4]
    )
    assert len({j for _, j in samples}) == 1, samples


def test_hits_scores_jobs_per_iteration(spark):
    samples = _warm_samples(
        spark, lambda r: hits_scores(spark, SF_SMOKE, iters=r), [1, 2, 3]
    )
    assert _jobs_per_round(samples) <= _BUDGET["hits"]


def test_khop_build_jobs_repeat(spark):
    samples = _warm_samples(
        spark, lambda _: q_graph_khop(spark, SF_SMOKE), [0, 1, 2]
    )
    jobs = {j for _, j in samples}
    assert len(jobs) == 1 and jobs.pop() <= _BUDGET["khop_build"], samples


def test_kcore_build_jobs_repeat(spark):
    samples = _warm_samples(
        spark, lambda _: q_graph_kcore(spark, SF_SMOKE), [0, 1, 2]
    )
    jobs = {j for _, j in samples}
    assert len(jobs) == 1 and jobs.pop() <= _BUDGET["kcore_build"], samples
