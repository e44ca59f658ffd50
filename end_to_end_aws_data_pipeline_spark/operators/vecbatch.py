"""Arrow-native vector batches and the exact-integer kernels of the
vector family (operators/similarity.py, operators/pq.py and
streaming/ann_index.py).

Every vector in the family is unit-normalized and quantized to int64
(×1e8, :func:`quantized`), so each dot product is exact, associative
integer arithmetic: DuckDB recomputes identical integers, and partial
results (batch-local top-k, per-batch Lloyd sums) compose exactly.

:func:`vector_map` is the one pass that hands those vectors to Python:
one ``mapInArrow`` in which each non-empty Arrow batch's ``q`` column
becomes a B×dim int64 matrix without a pandas frame on either side.
The kernels below are what the family computes on that matrix, each
written once:

- nearest centroid (:func:`nearest`) and its two-level router
  (:class:`TwoLevel`), both with ties to the lowest index;
- batch-local top-k (:func:`topk_rows`) under (score desc, id asc):
  top-k within each batch, then one global merge downstream (the
  REPOSE contract, PAPERS.md) is exact because the order is total;
- Lloyd partial sums (:func:`cluster_sums`, :func:`long_partials`),
  their reduction (:func:`reduced_sums`) and the floor-mean update
  (:func:`floor_means`);
- product-quantizer encoding and lookup tables (:func:`pq_encode`,
  :func:`pq_luts`).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

Q_SCALE = 100_000_000  # 1e8: unit-vector dots fit int64 with headroom
SCALE_SQ = Q_SCALE * Q_SCALE  # a dot of two quantized unit vectors ≈ cos·1e16


def quantized(col: Column) -> Column:
    """``col`` unit-normalized and quantized to ``array<long>`` (×1e8,
    round half away from zero); the oracles' ``list_transform`` twin
    computes the same integers."""
    from end_to_end_aws_data_pipeline_spark.functions.vector import l2_normalize

    return F.transform(
        l2_normalize(col), lambda x: F.round(x * Q_SCALE).cast("long")
    )


def int_matrix(arr: pa.Array) -> np.ndarray:
    """An Arrow ``list<long>`` array of equal-length rows as a B×dim
    int64 matrix (zero-copy over the flattened values). A null or
    ragged row is refused: reshaping would silently misalign it."""
    if arr.null_count or np.unique(np.diff(arr.offsets.to_numpy())).size > 1:
        raise ValueError("vector rows must be non-null and of one length")
    return arr.flatten().to_numpy().reshape(len(arr), -1)


def _arrow_column(col, typ: pa.DataType) -> pa.Array:
    if isinstance(col, pa.Array):
        return col
    col = np.asarray(col)
    if col.ndim == 2:  # one list per row
        b, d = col.shape
        offsets = np.arange(0, b * d + 1, d, dtype=np.int32)
        return pa.ListArray.from_arrays(offsets, pa.array(col.ravel()), type=typ)
    return pa.array(col, type=typ)


def vector_map(
    df: DataFrame,
    ddl: str,
    kernel: Callable[[pa.RecordBatch, np.ndarray], Sequence],
) -> DataFrame:
    """``df`` (with a ``q array<long>`` column) through one
    ``mapInArrow``: for each non-empty input batch, ``kernel(batch, m)``
    gets the batch and its ``q`` as a B×dim int64 matrix ``m``, and
    returns the output columns in ``ddl``'s order, each an Arrow array
    (passed through as is, e.g. an input column), a 1-D numpy array or
    a 2-D one (one list per row). Columns may hold zero rows."""
    schema = to_arrow_schema(DataType.fromDDL(ddl))

    def _batches(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            cols = kernel(batch, int_matrix(batch.column("q")))
            yield pa.RecordBatch.from_arrays(
                [_arrow_column(c, f.type) for c, f in zip(cols, schema)],
                schema=schema,
            )

    return df.mapInArrow(_batches, ddl)


def nearest(m: np.ndarray, mat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(index, dot): each row of ``m``'s max-dot row of ``mat`` and that
    dot, ties to the lowest index (argmax takes the first max)."""
    s = m @ mat.T
    best = s.argmax(axis=1)
    return best, s[np.arange(len(m)), best]


class TwoLevel:
    """Two-level router over the rows of ``mat``: each vector picks its
    nearest LIVE super-centroid (one that ``route`` gives at least one
    row, so no vector lands in an empty cell), then its nearest row of
    ``mat`` among the rows routed to that super. :meth:`route` has
    :func:`nearest`'s signature and tie rule."""

    def __init__(self, mat: np.ndarray, sup_mat: np.ndarray, route: np.ndarray):
        self.mat = mat
        live = np.unique(route)  # ascending → ties to the lowest sup id
        self.live_sup = sup_mat[live]
        self.cand = [np.flatnonzero(route == s) for s in live]

    def route(self, m: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        sup = nearest(m, self.live_sup)[0]
        idx = np.empty(len(m), dtype=np.int64)
        dot = np.empty(len(m), dtype=np.int64)
        for s in np.unique(sup):
            rows = np.flatnonzero(sup == s)
            ci = self.cand[s]  # ascending → ties to the lowest index
            best, dot[rows] = nearest(m[rows], self.mat[ci])
            idx[rows] = ci[best]
        return idx, dot


def topk_rows(
    scores: np.ndarray, ids: np.ndarray, keep: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Batch-local top-k of each column of the B×Q ``scores`` over the
    rows ``keep`` (B×Q bool) admits, ordered by (score desc, id asc).
    Returns (column, row) index arrays, column by column; a column
    keeps fewer than k rows when fewer are admitted."""
    none = np.empty(0, dtype=np.int64)  # concatenates even when Q = 0
    cols, rows = [none], [none]
    for j in range(scores.shape[1]):
        r = np.flatnonzero(keep[:, j])
        r = r[np.lexsort((ids[r], -scores[r, j]))[:k]]
        cols.append(np.full(len(r), j))
        rows.append(r)
    return np.concatenate(cols), np.concatenate(rows)


def cluster_sums(x: np.ndarray, label: np.ndarray, k: int):
    """(sums k×dim, counts k) of the rows of ``x`` grouped by ``label``."""
    sums = np.zeros((k, x.shape[1]), dtype=np.int64)
    np.add.at(sums, label, x)
    return sums, np.bincount(label, minlength=k)


def long_partials(sums: np.ndarray, counts: np.ndarray) -> tuple:
    """The non-empty clusters of ``sums`` (cluster axes…, dim) as long
    columns (cluster index per axis…, pos, s, n) for a groupBy."""
    nz = np.nonzero(counts)
    d = sums.shape[-1]
    return (
        *(np.repeat(i, d) for i in nz),
        np.tile(np.arange(d), len(nz[0])),
        sums[nz].ravel(),
        np.repeat(counts[nz], d),
    )


def reduced_sums(partials: DataFrame, shape: tuple) -> tuple:
    """Sum :func:`long_partials` rows over all batches and collect them
    back as (sums, counts) arrays; ``shape`` is the sums' shape."""
    keys = partials.columns[:-2]
    t = (
        partials.groupBy(*keys)
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .toArrow()
    )
    *idx, pos, s, n = (t.column(c).to_numpy() for c in t.column_names)
    sums = np.zeros(shape, dtype=np.int64)
    counts = np.zeros(shape[:-1], dtype=np.int64)
    sums[(*idx, pos)] = s
    counts[tuple(idx)] = n
    return sums, counts


def floor_means(mat: np.ndarray, sums: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Lloyd update: each non-empty cluster's row becomes
    floor(float64(sum) / count), as the oracles' CAST(sum AS DOUBLE) /
    count (exact while |sum| < 2^53); empty clusters carry forward."""
    out = mat.copy()
    nz = counts > 0
    out[nz] = np.floor(sums[nz].astype(np.float64) / counts[nz][:, None])
    return out


def pq_encode(m: np.ndarray, books: np.ndarray) -> np.ndarray:
    """B×M codes of ``m`` under the M×K×ds codebooks: each subvector's
    min-L2 code, argmin(c·c − 2·x·c) in exact int64, ties to the lowest
    code."""
    n_sub, _, ds = books.shape
    sub = m.reshape(len(m), n_sub, ds)
    codes = np.empty((len(m), n_sub), dtype=np.int64)
    for j, bk in enumerate(books):
        cost = (bk * bk).sum(axis=1)[None, :] - 2 * (sub[:, j] @ bk.T)
        codes[:, j] = cost.argmin(axis=1)
    return codes


def pq_luts(q_mat: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Q×M×K asymmetric-distance lookup tables: luts[q, m, k] is query
    q's subvector m dotted with code k of subspace m."""
    n_sub, _, ds = books.shape
    sub = q_mat.reshape(len(q_mat), n_sub, ds)
    return np.stack([sub[:, j] @ books[j].T for j in range(n_sub)], axis=1)
