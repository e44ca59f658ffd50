"""The vector family's one Arrow pass and shared kernels
(``operators/vecbatch.py``).

Checked here: ``vector_map`` passes input columns through, converts 1-D
and 2-D numpy outputs to the DDL's types (an ``int`` column included),
and handles batches whose kernel emits no row; ``int_matrix`` decodes
sliced arrays and refuses null or ragged rows; ``topk_rows`` matches a
sorted brute-force reference under tied scores and masks that admit
fewer than k rows; ``TwoLevel.route`` matches a direct argmax restricted
to each row's candidate set; the Lloyd helpers reduce per-batch
partials to the whole-matrix sums; and a source scan pins one
mechanism: no ``mapInPandas`` in the family's four modules, the
quantization written once, and ``mapInArrow`` called only by
``per_doc``, ``vector_map`` and the block-pair Gram."""

from __future__ import annotations

import re
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest

import end_to_end_aws_data_pipeline_spark as pkg
from end_to_end_aws_data_pipeline_spark.catalog import local_frame
from end_to_end_aws_data_pipeline_spark.operators.vecbatch import (
    TwoLevel,
    cluster_sums,
    int_matrix,
    long_partials,
    nearest,
    reduced_sums,
    topk_rows,
    vector_map,
)

_VECS = [(i, [i, -2 * i, 7, i % 3]) for i in range(30)]


def _frame(spark):
    return local_frame(spark, _VECS, "vec_id long, q array<long>")


def test_vector_map_converts_and_passes_through(spark):
    def kernel(b, m):
        return b.column("vec_id"), b.column("q"), m.sum(axis=1), 2 * m

    df = vector_map(
        _frame(spark), "vec_id long, q array<long>, s int, twice array<long>", kernel
    )
    assert (
        df.schema.simpleString()
        == "struct<vec_id:bigint,q:array<bigint>,s:int,twice:array<bigint>>"
    )
    got = sorted((r.vec_id, r.q, r.s, r.twice) for r in df.collect())
    assert got == [(i, q, sum(q), [2 * x for x in q]) for i, q in _VECS]


def test_vector_map_batches_with_no_rows(spark):
    def every_fourth(b, m):
        keep = np.flatnonzero(b.column("vec_id").to_numpy() % 4 == 0)
        return b.column("vec_id").take(keep), m[keep, 0]

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")  # most 2-row batches hold no multiple of 4
    try:
        df = vector_map(_frame(spark), "vec_id long, x long", every_fourth)
        assert sorted(tuple(r) for r in df.collect()) == [
            (i, i) for i, _ in _VECS if i % 4 == 0
        ]
    finally:
        spark.conf.set(key, old)

    none = vector_map(_frame(spark), "vec_id long", lambda b, m: (m[:0, 0],))
    assert none.collect() == []
    assert none.columns == ["vec_id"]


def test_int_matrix_decodes_slices_and_refuses_ragged_rows():
    rows = pa.array([[1, 2], [3, 4], [5, 6], [7, 8]], pa.list_(pa.int64()))
    assert int_matrix(rows.slice(1, 2)).tolist() == [[3, 4], [5, 6]]
    # [[1, 2, 3], [4]] would reshape to a 2×2 matrix without the check
    for bad in ([[1, 2, 3], [4]], [[1, 2], None]):
        with pytest.raises(ValueError):
            int_matrix(pa.array(bad, pa.list_(pa.int64())))


def _topk_reference(scores, ids, keep, k):
    cols, rows = [], []
    for j in range(scores.shape[1]):
        admitted = [i for i in range(len(ids)) if keep[i, j]]
        best = sorted(admitted, key=lambda i: (-scores[i, j], ids[i]))[:k]
        cols += [j] * len(best)
        rows += best
    return cols, rows


@pytest.mark.parametrize("seed", range(5))
def test_topk_rows_matches_sorted_reference(seed):
    rng = np.random.default_rng(seed)
    b, q, k = 40, 6, 5
    scores = rng.integers(-3, 4, size=(b, q))  # few values: many ties
    ids = rng.permutation(1000)[:b]  # ties break on id, not on row order
    keep = rng.random((b, q)) < 0.5
    keep[:, 0] = False  # admits nothing
    keep[:, 1] = False
    keep[[3, 17], 1] = True  # admits fewer than k
    j, i = topk_rows(scores, ids, keep, k)
    assert (j.tolist(), i.tolist()) == _topk_reference(scores, ids, keep, k)
    assert np.count_nonzero(j == 1) == 2


def test_topk_rows_with_no_query():
    no_query = np.empty((4, 0), dtype=np.int64)
    j, i = topk_rows(no_query, np.arange(4), no_query.astype(bool), 3)
    assert j.size == i.size == 0


def _route_reference(x, mat, sup_mat, route):
    live = sorted(set(route.tolist()))
    sup = max(live, key=lambda s: (x @ sup_mat[s], -s))
    cand = [c for c in range(len(mat)) if route[c] == sup]
    best = max(cand, key=lambda c: (x @ mat[c], -c))
    return best, x @ mat[best]


@pytest.mark.parametrize("seed", range(5))
def test_two_level_route_is_argmax_within_candidates(seed):
    rng = np.random.default_rng(seed)
    mat = rng.integers(-2, 3, size=(12, 4))  # small values: tied dots
    sup_mat = rng.integers(-2, 3, size=(5, 4))
    route = rng.choice([0, 2, 3], size=12)  # supers 1 and 4 are dead
    m = rng.integers(-2, 3, size=(50, 4))
    idx, dot = TwoLevel(mat, sup_mat, route).route(m)
    want = [_route_reference(x, mat, sup_mat, route) for x in m]
    assert list(zip(idx.tolist(), dot.tolist())) == want


def test_nearest_takes_the_lowest_index_on_ties():
    mat = np.array([[1, 0], [0, 1], [1, 0]])
    idx, dot = nearest(np.array([[2, 2], [1, 0], [0, 3]]), mat)
    assert idx.tolist() == [0, 0, 1] and dot.tolist() == [2, 1, 3]


def test_lloyd_partials_reduce_to_whole_matrix_sums(spark):
    mat = np.array([q for _, q in _VECS], dtype=np.int64)
    label = np.array([i % 5 for i, _ in _VECS]) % 3  # cluster 3 stays empty

    def partials(b, m):
        batch_label = b.column("vec_id").to_numpy() % 5 % 3
        return long_partials(*cluster_sums(m, batch_label, 4))

    parts = vector_map(
        _frame(spark).repartition(3), "c int, pos int, s long, n long", partials
    )
    sums, counts = reduced_sums(parts, (4, mat.shape[1]))
    want_sums, want_counts = cluster_sums(mat, label, 4)
    assert np.array_equal(sums, want_sums) and np.array_equal(counts, want_counts)
    assert counts[3] == 0


_FAMILY = (
    "operators/similarity.py",
    "operators/pq.py",
    "operators/dedup.py",
    "streaming/ann_index.py",
)


def _package_sources() -> dict[str, str]:
    root = Path(pkg.__file__).parent
    return {
        str(p.relative_to(root)): p.read_text() for p in sorted(root.rglob("*.py"))
    }


def test_one_vector_mechanism_in_the_source():
    src = _package_sources()
    for path in _FAMILY:
        assert "mapInPandas" not in src[path], path
    quantization = re.compile(r"F\.round\(x \* _?Q_SCALE\)")
    written = {p: len(quantization.findall(s)) for p, s in src.items()}
    assert {p: n for p, n in written.items() if n} == {"operators/vecbatch.py": 1}
    maps = {p: s.count("mapInArrow(") for p, s in src.items()}
    assert {p: n for p, n in maps.items() if n} == {
        "operators/multimodal.py": 1,
        "operators/vecbatch.py": 1,
        "operators/dedup.py": 1,
    }
