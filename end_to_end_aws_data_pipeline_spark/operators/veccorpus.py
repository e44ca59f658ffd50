"""The vector corpus every query of the vector family reads
(operators/similarity.py, operators/pq.py and streaming/ann_index.py),
defined once for both engines: the Spark side and the DuckDB text that
replays it.

- the quantized view of the embeddings table (:func:`quantized_vectors`,
  ``QV_SQL``): unit-normalized int64 vectors (``vecbatch.quantized``);
- the seed codebook: the first ceil(√N) vectors by vec_id
  (:func:`n_centroids_for`, ``CENTROIDS_SQL``, :func:`seeds`);
- the bounded query set (:func:`query_set`, :func:`query_matrix`);
- the nearest-centroid assignment in the oracles
  (:func:`assign_cte`: exact int64 dot arg-max, ties to the lowest
  cent_id, the order ``vecbatch.nearest`` keeps);
- the two-level router over the seed codebook (:func:`two_level` and
  its replay, :func:`routed_sql`).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.catalog import table
from end_to_end_aws_data_pipeline_spark.operators.vecbatch import (
    Q_SCALE,
    TwoLevel,
    cluster_sums,
    floor_means,
    nearest,
    quantized,
)

TOP_K = 5
QUERY_MOD = 100  # vec_id % 100 == 0 → deterministic query set at any SF
MAX_QUERIES = 64  # hard cap on the query side: without it the %-sample
# grows as N/100 and per-task query state eventually stops fitting; with
# it the footprint is O(1) in corpus size. Larger query sets should loop
# in MAX_QUERIES-sized batches (one scan each).

KMEANS_ITERS = 3  # fixed Lloyd rounds; deterministic + oracle-replayable

# (vec_id, cent_id, q): a vector's bucket with its quantized array
ASSIGN_DDL = "vec_id long, cent_id long, q array<long>"

# the DuckDB twin of quantized_vectors(): the same integers
QV_SQL = f"""
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(
           (CAST(x AS DOUBLE) /
             sqrt(list_sum(list_transform(embedding,
                  y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))
           ) * {Q_SCALE}) AS BIGINT)) AS q
  FROM embeddings
"""

# ceil(sqrt(N)) centroids — the classic IVF balance point: assignment is
# N·√N dot products, each probe list averages √N vectors. Expressed as a
# scalar subquery in the oracle so Spark and DuckDB derive the SAME
# quantizer from the data at any SF.
CENTROIDS_SQL = "(SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)"

# super-codebook size: ceil(sqrt(C)) over the C = ceil(sqrt(N)) fine
# centroids — assignment drops from N·C = N·√N dots to N·(S + C/S) ≈
# 2·N·N^(1/4) (the hierarchical/vocabulary-tree router of Nistér &
# Stewénius CVPR'06, the same flop-cutting role the inverted
# multi-index plays for product codebooks).  Expressed as a scalar
# subquery so both engines derive the SAME S from the data at any SF.
SUPERS_SQL = (
    "(SELECT CAST(ceil(sqrt(ceil(sqrt(count(*))))) AS BIGINT) "
    "FROM embeddings)"
)


def n_centroids_for(n_rows: int) -> int:
    """√N coarse-quantizer size (CENTROIDS_SQL's rule)."""
    return max(1, int(math.ceil(math.sqrt(n_rows))))


def n_super_for(n_cent: int) -> int:
    """ceil(sqrt(C)) super-codebook size (SUPERS_SQL's rule)."""
    return max(1, int(math.ceil(math.sqrt(n_cent))))


def quantized_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings as (vec_id, q array<long>): unit-normalized int64
    quantization (QV_SQL's integers)."""
    return table(spark, sf_dir, "embeddings").select(
        "vec_id", quantized(F.col("embedding")).alias("q")
    )


def query_matrix(qdf: DataFrame):
    """Collect the (bounded) query set to a dense int64 matrix.

    Driver-side by design: the set is capped at MAX_QUERIES rows, so
    this is O(1) state shipped to executors in the task closure.
    """
    import numpy as np

    rows = qdf.collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    mat = np.array([r["q"] for r in rows], dtype=np.int64)
    return ids, mat


def seeds(v: DataFrame, n: int):
    """(ids, matrix) of the first ``n`` vectors by vec_id: the
    deterministic seed rows of every codebook in the family."""
    return query_matrix(v.filter(F.col("vec_id") < n).orderBy("vec_id"))


def query_set(v: DataFrame) -> DataFrame:
    """The bounded query set: every QUERY_MOD-th vec_id, first
    MAX_QUERIES of them."""
    return (
        v.filter(F.col("vec_id") % QUERY_MOD == 0).orderBy("vec_id").limit(MAX_QUERIES)
    )


def two_level(cent_mat, n_sup: int) -> TwoLevel:
    """The two-level router over the C fine centroid rows: a
    DRIVER-LOCAL Lloyd over them (they already live on the driver as the
    codebook matrix — C = √N ≈ 31k rows × dim even at N = 1e9, a few MB)
    seeded with the first ``n_sup`` rows, then the fine→super routing.

    Replayed by :func:`routed_sql`'s super chain: int64 dot argmax with
    ties to the lowest sup_id, floor(float64(sum)/count) means
    (per-super per-dim |sums| ≤ C·1e8 ≈ 3e12 — exactly representable in
    float64, so the floor is exact), empty supers carrying forward."""
    sup = cent_mat[:n_sup].copy()
    for _ in range(KMEANS_ITERS):
        sup = floor_means(
            sup, *cluster_sums(cent_mat, nearest(cent_mat, sup)[0], n_sup)
        )
    return TwoLevel(cent_mat, sup, nearest(cent_mat, sup)[0])


# what an assign row can carry beside (vec_id, cent_id), as the inner
# SELECT computes it: the vector, or its dot to the chosen centroid
_CARRIED_SQL = {
    "q": " v.q,",
    "dot_c": """
           CAST(list_sum(list_transform(range(1, len(q)+1),
                i -> q[i] * cq[i])) AS BIGINT) AS dot_c,""",
}


def assign_cte(name: str, carried: tuple[str, ...], source: str) -> str:
    """The CTE ``name``: each ``v`` row's nearest centroid among the
    ``c`` rows that ``source`` (a FROM clause over ``v`` and ``c``)
    pairs it with — the largest exact dot, ties to the lowest cent_id —
    as (vec_id, cent_id, *carried)."""
    outer = "".join(f", {col}" for col in carried)
    inner = "".join(_CARRIED_SQL[col] for col in carried)
    return f"""{name} AS (
  SELECT vec_id, cent_id{outer} FROM (
    SELECT v.vec_id, c.cent_id,{inner}
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_sum(list_transform(range(1, len(q)+1),
                      i -> q[i] * cq[i])) DESC, c.cent_id) AS rn
    FROM {source}
  ) WHERE rn = 1
)"""


# the quantized view `v` and the seed codebook `c`
_SEEDED_SQL = f"""WITH v AS ({QV_SQL}
), c AS (
  SELECT vec_id AS cent_id, q AS cq FROM v
  WHERE vec_id < {CENTROIDS_SQL}
)"""


def assigned_sql(carried: tuple[str, ...]) -> str:
    """``v``, the seed codebook ``c`` and every vector's ``assign``
    among all of ``c`` (the single-level IVF build)."""
    return f"{_SEEDED_SQL}, {assign_cte('assign', carried, 'v CROSS JOIN c')}"


def _super_kmeans_sql() -> tuple[str, str]:
    """CTE chain REPLAYING the super-level Lloyd training over the fine
    centroid relation ``c``: seed s0 = first ceil(sqrt(C)) centroids,
    then KMEANS_ITERS rounds of (nearest-super assignment → element-wise
    floor-mean, empty supers carrying forward) — similarity's k-means
    recipe applied one level up, over C rows instead of N."""
    parts = [
        f""", s0 AS (
  SELECT cent_id AS sup_id, cq AS sq FROM c WHERE cent_id < {SUPERS_SQL}
)"""
    ]
    for t in range(1, KMEANS_ITERS + 1):
        parts.append(
            f""", ka{t} AS (
  SELECT cent_id, sup_id, cq FROM (
    SELECT c.cent_id, s.sup_id, c.cq,
           row_number() OVER (
             PARTITION BY c.cent_id
             ORDER BY list_sum(list_transform(range(1, len(cq)+1),
                      i -> cq[i] * sq[i])) DESC, s.sup_id) AS rn
    FROM c CROSS JOIN s{t - 1} s
  ) WHERE rn = 1
), ks{t} AS (
  SELECT sup_id, pos,
         CAST(floor(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT) AS m
  FROM (
    SELECT sup_id,
           unnest(range(1, len(cq)+1)) AS pos,
           unnest(cq) AS x
    FROM ka{t}
  ) GROUP BY sup_id, pos
), s{t} AS (
  SELECT p.sup_id, coalesce(n.sq, p.sq) AS sq
  FROM s{t - 1} p
  LEFT JOIN (
    SELECT sup_id, list(m ORDER BY pos) AS sq FROM ks{t} GROUP BY sup_id
  ) n USING (sup_id)
)"""
        )
    return "".join(parts), f"s{KMEANS_ITERS}"


_SUP_CHAIN, _SUP_FINAL = _super_kmeans_sql()

# after the super chain: the fine→super routing table, the live supers
# (own ≥1 centroid — an empty super must not capture vectors, they would
# drop from the index) and each vector's super via exact argmax over the
# live set
_ROUTING_SQL = f""", route AS (
  SELECT cent_id, sup_id FROM (
    SELECT c.cent_id, s.sup_id,
           row_number() OVER (
             PARTITION BY c.cent_id
             ORDER BY list_sum(list_transform(range(1, len(cq)+1),
                      i -> cq[i] * sq[i])) DESC, s.sup_id) AS rn
    FROM c CROSS JOIN {_SUP_FINAL} s
  ) WHERE rn = 1
), live AS (
  SELECT s.sup_id, s.sq FROM {_SUP_FINAL} s
  JOIN (SELECT DISTINCT sup_id FROM route) r USING (sup_id)
), vsup AS (
  SELECT vec_id, sup_id FROM (
    SELECT v.vec_id, s.sup_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_sum(list_transform(range(1, len(q)+1),
                      i -> q[i] * sq[i])) DESC, s.sup_id) AS rn
    FROM v CROSS JOIN live s
  ) WHERE rn = 1
)"""

# each vector against only the fine centroids its super routes to
_ROUTED_SRC = """v
    JOIN vsup ON vsup.vec_id = v.vec_id
    JOIN route r ON r.sup_id = vsup.sup_id
    JOIN c ON c.cent_id = r.cent_id"""


def routed_sql(carried: tuple[str, ...]) -> str:
    """``v``, the seed codebook ``c``, the replayed two-level router
    (:func:`two_level`) and every vector's ``assign`` within its routed
    candidate subset."""
    return (
        f"{_SEEDED_SQL}{_SUP_CHAIN}{_ROUTING_SQL}, "
        f"{assign_cte('assign', carried, _ROUTED_SRC)}"
    )
