"""Product Quantization (PQ) approximate nearest neighbor — the
compressed-domain scale path for embedding search.

Jégou/Douze/Schmid, "Product Quantization for Nearest Neighbor Search"
(TPAMI'11): split the D-dim space into M orthogonal subspaces, k-means
each subspace to K codes, store each vector as M small code ids, and
score queries against codes via asymmetric distance computation (ADC) —
a per-query M×K lookup table replaces the full-precision dot product.

Why this matters at 100 TB (and why IVF alone doesn't get there): raw
float32 embeddings at 1e9 vectors × 64 dims = 256 GB *per replica of
the corpus touched per query batch*. PQ stores M·log2(K) bits per
vector — here 8 codes × 4 bits = 4 bytes, a 64× compression — so the
scoring pass streams the *codes* column (narrow ints) instead of the
embedding column, and each batch's score matrix is M numpy table
gathers instead of a D-wide matmul. IVF (operators/similarity.py)
bounds WHICH vectors are scored; PQ bounds the BYTES and FLOPs per
scored vector; production systems (FAISS IVFPQ) compose both.

Determinism/verification: the same playbook as q_ann_ivf_trained —
int64-quantized vectors (exact associative arithmetic), codebooks
trained with fixed deterministic Lloyd rounds (seed = first K vectors'
subvectors, min-L2 assignment with ties to the lowest code id,
floor-mean updates, empty codes carried forward), so the DuckDB oracle
replays training → encoding → ADC scoring exactly and the driver
records a full rows/schema/hash row.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.cache import persisted
from end_to_end_aws_data_pipeline_spark.catalog import spread
from end_to_end_aws_data_pipeline_spark.functions.aggs import stable_round
from end_to_end_aws_data_pipeline_spark.operators.veccorpus import (
    ASSIGN_DDL,
    MAX_QUERIES,
    QUERY_MOD,
    QV_SQL,
    TOP_K,
    assigned_sql,
    n_centroids_for,
    quantized_vectors,
    query_matrix,
    query_set,
    seeds,
)
from end_to_end_aws_data_pipeline_spark.operators.vecbatch import (
    SCALE_SQ,
    cluster_sums,
    floor_means,
    long_partials,
    nearest,
    pq_encode,
    pq_luts,
    reduced_sums,
    topk_rows,
    vector_map,
)
from end_to_end_aws_data_pipeline_spark.registry import register

_PQ_DIM = 64  # embeddings table dimensionality (TESTDATA.md)
_PQ_M = 8  # subspaces
_PQ_DS = _PQ_DIM // _PQ_M  # dims per subspace
_PQ_K = 16  # codes per subspace → 4 bits/code, 4 B per vector
_PQ_ITERS = 2  # fixed Lloyd rounds per subspace (deterministic)


def _pq_codebooks(v: DataFrame):
    """Train the M per-subspace codebooks with deterministic Lloyd's
    k-means, all subspaces in ONE distributed pass per round.

    Seeds: code j of every subspace = the j-th subvector of the vector
    with vec_id == j (first _PQ_K vectors). Assignment: min L2, i.e.
    argmin(c·c − 2·x·c) in exact int64, ties to the lowest code id
    (np.argmin keeps the first minimum). Update: element-wise
    floor(sum/count) with the division in float64 — exact to floor
    while per-code per-dim |sums| < 2^53 (cluster_size·1e8; at N=1e9
    with K=16 codes that is ~6e15, inside the 9e15 budget — larger
    corpora should raise K, which also sharpens the quantizer).
    Per-round executor→driver traffic is the M·K·DS partial-sum matrix
    (bounded, 1k rows here), never vectors. Returns the M×K×DS
    codebooks.

    Mirrors the generated oracle chain in _pq_oracle() step for step.
    """
    # code j of subspace m = subvector m of the seed vector vec_id == j
    seed_rows = seeds(v, _PQ_K)[1].reshape(_PQ_K, _PQ_M, _PQ_DS)
    books = seed_rows.transpose(1, 0, 2).copy()
    for _ in range(_PQ_ITERS):

        def _partials(b, m, bks=books):  # binds this round's codebooks
            codes = pq_encode(m, bks)
            sub = m.reshape(len(m), _PQ_M, _PQ_DS)
            sums, counts = zip(
                *(cluster_sums(sub[:, j], codes[:, j], _PQ_K) for j in range(_PQ_M))
            )
            return long_partials(np.stack(sums), np.stack(counts))

        parts = vector_map(v, "m int, code int, pos int, s long, n long", _partials)
        books = floor_means(books, *reduced_sums(parts, books.shape))
    return books


def _pq_oracle() -> str:
    """DuckDB replay of q_ann_pq_topk: quantize → per-subspace Lloyd
    rounds (one chain over (vec, m) rows) → encode → per-query ADC
    lookup join → rank. Every comparison is on exact int64 dots; the
    floor-mean update divides in float64 exactly like the Spark side."""
    parts = [
        f"""WITH v AS ({QV_SQL}
), sub AS (
  SELECT vec_id, m.m, q[(m.m*{_PQ_DS}+1):((m.m+1)*{_PQ_DS})] AS x
  FROM v, (SELECT unnest(range(0, {_PQ_M})) AS m) m
), b0 AS (
  SELECT m, vec_id AS code, x AS cx FROM sub WHERE vec_id < {_PQ_K}
)"""
    ]
    for t in range(1, _PQ_ITERS + 1):
        parts.append(
            f""", a{t} AS (
  SELECT vec_id, m, code, x FROM (
    SELECT s.vec_id, s.m, b.code, s.x,
           row_number() OVER (
             PARTITION BY s.vec_id, s.m
             ORDER BY list_sum(list_transform(range(1, {_PQ_DS}+1),
                        i -> b.cx[i]*b.cx[i] - 2*s.x[i]*b.cx[i])),
                      b.code) AS rn
    FROM sub s JOIN b{t - 1} b USING (m)
  ) WHERE rn = 1
), s{t} AS (
  SELECT m, code, pos,
         CAST(floor(CAST(sum(xx) AS DOUBLE) / count(*)) AS BIGINT) AS mu
  FROM (
    SELECT m, code,
           unnest(range(1, {_PQ_DS}+1)) AS pos,
           unnest(x) AS xx
    FROM a{t}
  ) GROUP BY m, code, pos
), b{t} AS (
  SELECT p.m, p.code, coalesce(n.cx, p.cx) AS cx
  FROM b{t - 1} p
  LEFT JOIN (
    SELECT m, code, list(mu ORDER BY pos) AS cx FROM s{t} GROUP BY m, code
  ) n USING (m, code)
)"""
        )
    parts.append(
        f""", enc AS (
  SELECT vec_id, m, code FROM (
    SELECT s.vec_id, s.m, b.code,
           row_number() OVER (
             PARTITION BY s.vec_id, s.m
             ORDER BY list_sum(list_transform(range(1, {_PQ_DS}+1),
                        i -> b.cx[i]*b.cx[i] - 2*s.x[i]*b.cx[i])),
                      b.code) AS rn
    FROM sub s JOIN b{_PQ_ITERS} b USING (m)
  ) WHERE rn = 1
), qs AS (
  SELECT vec_id AS query_id FROM v
  WHERE vec_id % {QUERY_MOD} = 0
  ORDER BY vec_id LIMIT {MAX_QUERIES}
), lut AS (
  SELECT q.query_id, b.m, b.code,
         list_sum(list_transform(range(1, {_PQ_DS}+1),
           i -> s.x[i] * b.cx[i])) AS d
  FROM qs q
  JOIN sub s ON s.vec_id = q.query_id
  JOIN b{_PQ_ITERS} b ON b.m = s.m
), scored AS (
  SELECT l.query_id, e.vec_id AS neighbor_id, sum(l.d) AS adc
  FROM enc e
  JOIN lut l ON l.m = e.m AND l.code = e.code
  WHERE e.vec_id <> l.query_id
  GROUP BY l.query_id, e.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, adc,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
       round(CAST(adc AS DOUBLE) / {SCALE_SQ}.0, 6) AS adc_cosine
FROM ranked WHERE rank <= {TOP_K}
"""
    )
    return "".join(parts)


@register("q_ann_pq_topk", oracle=_pq_oracle())
def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC approximate top-k over the embeddings corpus.

    Train M=8 per-subspace codebooks (16 codes each, deterministic
    Lloyd), then ONE scoring pass: each Arrow batch encodes its vectors
    (M small argmin costs) and scores every query via its precomputed
    M×K ADC lookup table — numpy gathers, no D-wide math — emitting
    only the batch-local top-k per query. The global window then ranks
    |batches|·|Q|·k rows, never N·|Q|.

    Scale posture: the corpus-side state per task is the M×K×(D/M)
    codebook (4 KB here); per-vector scoring work is M lookups + M adds
    against 4 B of code payload, vs D multiplies against 512 B of
    floats for brute force — the 64× memory / ~8× FLOP reduction that
    makes 1e9-vector scans tractable. Recall vs exact brute force is
    asserted in tests; the ADC score is a biased-but-monotone proxy
    whose driver check is EXACT because training/encoding replay in the
    oracle (see _pq_oracle).
    """
    from end_to_end_aws_data_pipeline_spark.plans.scale import overlap_jobs

    v = persisted(spread(quantized_vectors(spark, sf_dir)))
    # the bounded query-matrix collect is independent of codebook
    # training — overlap the two action chains (guide §2.6)
    books, (q_ids, q_mat) = overlap_jobs(
        lambda: _pq_codebooks(v),
        lambda: query_matrix(query_set(v)),
    )
    luts = pq_luts(q_mat, books)

    def _score(b, m):
        ids = b.column("vec_id").to_numpy()
        codes = pq_encode(m, books)
        s = sum(luts[:, j, codes[:, j]] for j in range(_PQ_M)).T  # B×Q ADC
        # batch-local top-k under the SAME (adc DESC, neighbor_id ASC)
        # order as the global window — PQ collides scores whenever two
        # vectors share all M codes, so an order-agnostic argpartition
        # could keep the wrong side of a boundary tie
        j, i = topk_rows(s, ids, ids[:, None] != q_ids, TOP_K)
        return q_ids[j], ids[i], s[i, j]

    cand = vector_map(v, "query_id long, neighbor_id long, adc long", _score)
    w = W.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round(F.col("adc").cast("double") / SCALE_SQ, 6).alias(
                "adc_cosine"
            ),
        )
    )


# ---------------------------------------------------------------------------
# IVF-PQ: coarse quantizer bounds WHICH vectors are scored, PQ residual
# codes bound the BYTES/FLOPs per scored vector — the FAISS IVFPQ shape
# ---------------------------------------------------------------------------


def _residual_assigned(spark: SparkSession, sf_dir: str):
    """(residuals, cent_ids, cent_mat): every vector assigned to its
    nearest first-ceil(√N) centroid (max int64 dot, ties to lowest
    cent_id — identical to operators/similarity._ivf_assigned), carrying
    the element-wise RESIDUAL q − centroid instead of the raw vector.

    Residual components are bounded by 2·1e8, so every downstream PQ
    quantity (code norms, ADC partial dots) stays far inside int64.
    """
    v = quantized_vectors(spark, sf_dir)
    cent_ids, cent_mat = seeds(v, n_centroids_for(v.count()))

    def _assign(b, m):
        best = nearest(m, cent_mat)[0]
        return b.column("vec_id"), cent_ids[best], m - cent_mat[best]

    residuals = persisted(vector_map(spread(v), ASSIGN_DDL, _assign))
    return residuals, cent_ids, cent_mat


def _ivfpq_oracle() -> str:
    """DuckDB replay of q_ann_ivfpq_topk: centroid assignment →
    residuals → per-subspace Lloyd on residual subvectors → residual
    encoding → per-query single-bucket ADC scoring (centroid dot +
    code-table sum) → rank."""
    parts = [
        f"""{assigned_sql(('q',))}, res AS (
  SELECT a.vec_id, a.cent_id,
         list_transform(range(1, len(a.q)+1), i -> a.q[i] - c.cq[i]) AS r
  FROM assign a JOIN c USING (cent_id)
), sub AS (
  SELECT vec_id, cent_id, m.m, r[(m.m*{_PQ_DS}+1):((m.m+1)*{_PQ_DS})] AS x
  FROM res, (SELECT unnest(range(0, {_PQ_M})) AS m) m
), b0 AS (
  SELECT m, vec_id AS code, x AS cx FROM sub WHERE vec_id < {_PQ_K}
)"""
    ]
    for t in range(1, _PQ_ITERS + 1):
        parts.append(
            f""", a{t} AS (
  SELECT vec_id, m, code, x FROM (
    SELECT s.vec_id, s.m, b.code, s.x,
           row_number() OVER (
             PARTITION BY s.vec_id, s.m
             ORDER BY list_sum(list_transform(range(1, {_PQ_DS}+1),
                        i -> b.cx[i]*b.cx[i] - 2*s.x[i]*b.cx[i])),
                      b.code) AS rn
    FROM sub s JOIN b{t - 1} b USING (m)
  ) WHERE rn = 1
), s{t} AS (
  SELECT m, code, pos,
         CAST(floor(CAST(sum(xx) AS DOUBLE) / count(*)) AS BIGINT) AS mu
  FROM (
    SELECT m, code,
           unnest(range(1, {_PQ_DS}+1)) AS pos,
           unnest(x) AS xx
    FROM a{t}
  ) GROUP BY m, code, pos
), b{t} AS (
  SELECT p.m, p.code, coalesce(n.cx, p.cx) AS cx
  FROM b{t - 1} p
  LEFT JOIN (
    SELECT m, code, list(mu ORDER BY pos) AS cx FROM s{t} GROUP BY m, code
  ) n USING (m, code)
)"""
        )
    parts.append(
        f""", enc AS (
  SELECT vec_id, cent_id, m, code FROM (
    SELECT s.vec_id, s.cent_id, s.m, b.code,
           row_number() OVER (
             PARTITION BY s.vec_id, s.m
             ORDER BY list_sum(list_transform(range(1, {_PQ_DS}+1),
                        i -> b.cx[i]*b.cx[i] - 2*s.x[i]*b.cx[i])),
                      b.code) AS rn
    FROM sub s JOIN b{_PQ_ITERS} b USING (m)
  ) WHERE rn = 1
), qs AS (
  SELECT v.vec_id AS query_id, v.q AS qq, a.cent_id,
         list_sum(list_transform(range(1, len(v.q)+1),
           i -> v.q[i] * c.cq[i])) AS qcent
  FROM v
  JOIN assign a USING (vec_id)
  JOIN c ON c.cent_id = a.cent_id
  WHERE v.vec_id % {QUERY_MOD} = 0
  ORDER BY v.vec_id LIMIT {MAX_QUERIES}
), lut AS (
  SELECT q.query_id, s.m, b.code,
         list_sum(list_transform(range(1, {_PQ_DS}+1),
           i -> s.x[i] * b.cx[i])) AS d
  FROM qs q
  JOIN (SELECT vec_id, m.m,
               qv.q[(m.m*{_PQ_DS}+1):((m.m+1)*{_PQ_DS})] AS x
        FROM v qv, (SELECT unnest(range(0, {_PQ_M})) AS m) m) s
    ON s.vec_id = q.query_id
  JOIN b{_PQ_ITERS} b ON b.m = s.m
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, q.cent_id,
         q.qcent + sum(l.d) AS adc
  FROM qs q
  JOIN enc e ON e.cent_id = q.cent_id AND e.vec_id <> q.query_id
  JOIN lut l ON l.query_id = q.query_id AND l.m = e.m AND l.code = e.code
  GROUP BY q.query_id, e.vec_id, q.cent_id, q.qcent
), ranked AS (
  SELECT query_id, neighbor_id, cent_id, adc,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(cent_id AS BIGINT) AS probed_centroid,
       CAST(rank AS INT) AS rank,
       round(CAST(adc AS DOUBLE) / {SCALE_SQ}.0, 6) AS adc_cosine
FROM ranked WHERE rank <= {TOP_K}
"""
    )
    return "".join(parts)


@register("q_ann_ivfpq_topk", oracle=_ivfpq_oracle())
def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k (FAISS IVFPQ shape, residual encoding): the coarse
    quantizer restricts scoring to the query's bucket (nprobe=1, same
    deterministic first-√N centroids as q_ann_ivf_topk) and PQ codes of
    the RESIDUAL q − centroid replace the raw vectors in the bucket
    scan. Score = q·centroid + Σ_m LUT[m][code] — one shared dot per
    bucket plus M table lookups per candidate.

    Residual encoding is what makes the composition accurate: residual
    norms shrink as centroids tighten, so the same 4-bit-per-subspace
    budget quantizes a much smaller cell. At 100 TB this is THE
    standard ANN memory/recall point: 4 B codes + √N-partitioned scans,
    both knobs (nprobe, K) runtime-tunable. Training, encoding and
    scoring replay exactly in the oracle (see _ivfpq_oracle).
    """
    from end_to_end_aws_data_pipeline_spark.plans.scale import overlap_jobs

    residuals, cent_ids, cent_mat = _residual_assigned(spark, sf_dir)
    # bounded query set: raw vectors + their probed centroid + q·cent —
    # the query collect scans raw v and is independent of residual
    # codebook training; overlap the two action chains (guide §2.6)
    books, (q_ids, q_mat) = overlap_jobs(
        lambda: _pq_codebooks(residuals),
        lambda: query_matrix(query_set(quantized_vectors(spark, sf_dir))),
    )
    probe, q_qcent = nearest(q_mat, cent_mat)
    q_cents = cent_ids[probe]
    luts = pq_luts(q_mat, books)

    def _score(b, m):  # m: B×D residuals
        ids, cents = b.column("vec_id").to_numpy(), b.column("cent_id").to_numpy()
        codes = pq_encode(m, books)
        keep = (cents[:, None] == q_cents) & (ids[:, None] != q_ids)
        # score only each query's bucket members: the coarse quantizer
        # bounds WHICH rows pay the M lookups
        r, c = np.nonzero(keep)
        s = np.zeros(keep.shape, dtype=np.int64)
        s[r, c] = q_qcent[c] + luts[c[:, None], np.arange(_PQ_M), codes[r]].sum(axis=1)
        j, i = topk_rows(s, ids, keep, TOP_K)
        return q_ids[j], ids[i], q_cents[j], s[i, j]

    cand = vector_map(
        residuals,
        "query_id long, neighbor_id long, probed_centroid long, adc long",
        _score,
    )
    w = W.partitionBy("query_id").orderBy(F.col("adc").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "probed_centroid",
            "rank",
            F.round(F.col("adc").cast("double") / SCALE_SQ, 6).alias(
                "adc_cosine"
            ),
        )
    )


# ---------------------------------------------------------------------------
# scalar int8 quantization (storage-compression counterpart of PQ)
# ---------------------------------------------------------------------------

# Per-element error terms are quantized to 1e9 BEFORE summing so every
# aggregate here is exact int64 arithmetic: |err| <= scale/2 < 1e-2 →
# e_i < 1e7, e_i^2 < 1e14, ×64 dims ≈ 6e15 — inside int64. Sum order
# then cannot matter (DuckDB's list_sum order is unspecified; Spark's
# fold is sequential — with doubles that difference would leak ulps).
_Q8_ERR_SCALE = 1_000_000_000

_Q8_ORACLE = f"""
WITH q AS (
  SELECT vec_id, label,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
           AS scale,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), c AS (
  SELECT vec_id, label, scale,
         list_transform(v, x -> CAST(round(x / scale) AS BIGINT)) AS code,
         v
  FROM q WHERE scale > 0
), e AS (
  SELECT vec_id, label, scale, code,
         list_transform(range(1, len(v) + 1),
           i -> CAST(round((v[i] - code[i] * scale) * {_Q8_ERR_SCALE})
                AS BIGINT)) AS err
  FROM c
)
SELECT vec_id, CAST(label AS BIGINT) AS label,
       floor(scale * 1000000000 + 0.5) / 1000000000 AS scale_r,
       CAST(list_sum(code) AS BIGINT) AS code_sum,
       CAST(list_sum(list_transform(code, x -> abs(x))) AS BIGINT)
         AS code_abs_sum,
       CAST(list_sum(list_transform(err, x -> x * x)) AS BIGINT) AS sse_q,
       CAST(list_max(list_transform(err, x -> abs(x))) AS BIGINT) AS max_abs_err_q
FROM e
"""


@register("q_embed_quantize", oracle=_Q8_ORACLE)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization with exact reconstruction
    accounting: scale = max|x|/127, code_i = round(x_i/scale) ∈
    [-127, 127], plus integer-quantized error stats (SSE, max abs).

    This is the storage-compression step vector stores apply before
    serving (4× smaller than float32, SIMD int8 dot kernels); PQ (above)
    is the 64× codebook variant — a pipeline typically int8-quantizes
    the working tier and PQ-encodes the archive tier. Expression-only:
    one scan, two transforms and three integer folds per row, no
    shuffle, no Python — runs at scan speed on any corpus.

    Cross-engine discipline: scale and the code ids derive from IEEE
    double ops with IDENTICAL expression trees in both engines (abs →
    max → /127 → /scale → round-half-away), so codes are bit-identical;
    every aggregate over dims is then exact int64 (error terms
    quantized per-element BEFORE summing — see _Q8_ERR_SCALE note), so
    no sum-order or ulp hazard reaches the output hash."""
    from end_to_end_aws_data_pipeline_spark.catalog import table

    emb = table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = emb.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        (F.array_max(F.transform(v, F.abs)) / F.lit(127.0)).alias("scale"),
        v.alias("v"),
    ).filter(F.col("scale") > 0)
    code = F.transform(
        F.col("v"), lambda x: F.round(x / F.col("scale")).cast("long")
    )
    d = d.withColumn("code", code)
    err = F.zip_with(
        F.col("v"),
        F.col("code"),
        lambda x, c: F.round((x - c * F.col("scale")) * _Q8_ERR_SCALE).cast(
            "long"
        ),
    )
    d = d.withColumn("err", err)
    isum = lambda col: F.aggregate(  # noqa: E731 — exact int64 fold
        col, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return d.select(
        "vec_id",
        "label",
        stable_round(F.col("scale"), 9).alias("scale_r"),
        isum(F.col("code")).alias("code_sum"),
        isum(F.transform(F.col("code"), F.abs)).alias("code_abs_sum"),
        isum(F.transform(F.col("err"), lambda x: x * x)).alias("sse_q"),
        F.array_max(F.transform(F.col("err"), F.abs)).alias("max_abs_err_q"),
    )
