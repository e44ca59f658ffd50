"""Context-window chunking and deterministic sampling — the two
corpus-preparation steps between curation and tokenization in an LLM
data pipeline (companions to operators/curation.py's packing: packing
COMBINES short docs into windows, chunking SPLITS long docs into them).

Both are single-pass, expression-only, shuffle-free per row — the plans
are a parquet scan + generate/project, which is exactly what you want
for a 100 TB pass: no Python, no state, trivially partition-parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.catalog import table
from end_to_end_aws_data_pipeline_spark.registry import register

# ---------------------------------------------------------------------------
# sliding-window chunking with overlap
# ---------------------------------------------------------------------------

_CHUNK_W = 64  # tokens per chunk (context window)
_CHUNK_S = 48  # stride; W - S = 16 tokens of overlap between chunks

_CHUNK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS words,
         len(string_split(text, ' ')) AS n
  FROM documents
), starts AS (
  -- chunk starts 0, S, 2S, ... < n  (ceil(n/S) chunks; every token is
  -- covered, consecutive chunks share W-S tokens)
  SELECT doc_id, n, unnest(range(0, greatest(n, 1), {_CHUNK_S})) AS start
  FROM t
)
SELECT s.doc_id,
       CAST(start / {_CHUNK_S} AS INT) AS chunk_idx,
       CAST(least({_CHUNK_W}, s.n - start) AS INT) AS n_tokens,
       array_to_string(list_slice(t.words, start + 1,
                                  least(start + {_CHUNK_W}, s.n)), ' ')
         AS chunk
FROM starts s JOIN t ON t.doc_id = s.doc_id
"""


@register("q_chunk_documents", oracle=_CHUNK_ORACLE)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: split each document into 64-token
    chunks at stride 48 (overlap 16), the standard long-document →
    context-window shard step before tokenization.

    Expression-only: split → sequence of starts → posexplode → slice.
    One generate per row, no shuffle, no Python — at 100 TB this runs
    at scan speed and the output is written partition-local. The
    chunk_idx is derived from the start offset, so chunk identity is
    reproducible under any partitioning / retry."""
    d = table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    # starts: 0, S, ..., last < n (sequence's upper bound is inclusive,
    # so greatest(n-1, 0) yields exactly ceil(n/S) starts for n >= 1)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(_CHUNK_S))
    return (
        d.select("doc_id", words.alias("words"), n.alias("n"), starts.alias("st"))
        .select(
            "doc_id",
            "words",
            "n",
            F.posexplode("st").alias("chunk_idx", "start"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.least(F.lit(_CHUNK_W), F.col("n") - F.col("start"))
            .cast("int")
            .alias("n_tokens"),
            F.concat_ws(
                " ", F.slice(F.col("words"), F.col("start") + 1, _CHUNK_W)
            ).alias("chunk"),
        )
    )


# ---------------------------------------------------------------------------
# deterministic uniform sampling (hash-rank top-k)
# ---------------------------------------------------------------------------

_SAMPLE_K = 200
# Knuth multiplicative hash over a reduced key (see curation.py:31 for
# the overflow analysis) ranked modulo a prime: a uniform, seedless,
# engine-neutral permutation of doc ids. rand(seed) would be
# engine-specific; this is bit-identical anywhere int64 arithmetic is.
_KNUTH = 2654435761
_KEY_MOD = 2147483647
_RANK_P = 1_000_003

_SAMPLE_ORACLE = f"""
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         ((doc_id % CAST({_KEY_MOD} AS BIGINT)) * {_KNUTH}) % {_RANK_P}
           AS h_rank
  FROM documents
)
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(h_rank AS BIGINT) AS h_rank
FROM ranked
ORDER BY h_rank, doc_id
LIMIT {_SAMPLE_K}
"""


@register("q_sample_uniform_hash", oracle=_SAMPLE_ORACLE)
def q_sample_uniform_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform k-sample without replacement, deterministically: rank
    every doc by a Knuth multiplicative hash of its id and take the k
    smallest — the reproducible substitute for ``ORDER BY random()
    LIMIT k`` (rerunning, re-partitioning, or switching engines yields
    the SAME sample, which is what eval-set construction needs).

    Plan shape: orderBy+limit compiles to TakeOrderedAndProject —
    per-partition top-k then a k-row merge on one reducer; never a full
    sort, never more than k rows off any executor, at any corpus size.
    doc_id tie-break makes the cut exact when two ids collide mod the
    rank prime."""
    d = table(spark, sf_dir, "documents")
    h = F.pmod(
        F.pmod(F.col("doc_id").cast("long"), F.lit(_KEY_MOD)) * F.lit(_KNUTH),
        F.lit(_RANK_P),
    )
    return (
        d.select(
            "doc_id",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            h.cast("long").alias("h_rank"),
        )
        .orderBy("h_rank", "doc_id")
        .limit(_SAMPLE_K)
    )


# ---------------------------------------------------------------------------
# stratified (language-rebalanced) sampling
# ---------------------------------------------------------------------------

# Per-stratum Bernoulli rates: downsample the dominant language, keep
# most of the rare ones — the standard corpus-rebalancing move before
# training-mix construction. Rates are expressed as INTEGER thresholds
# over the same mod-p hash rank as q_sample_uniform_hash so membership
# is a pure int64 comparison both engines replay bit-for-bit (a float
# `h/p < rate` compare would hinge on division rounding).
_STRAT_RATES = {"en": 0.10, "zh": 0.40, "es": 0.40, "de": 0.40, "fr": 0.40}
_STRAT_DEFAULT = 0.25
_STRAT_THRESH = {k: int(v * _RANK_P) for k, v in _STRAT_RATES.items()}

_STRAT_CASE = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {t}" for k, t in _STRAT_THRESH.items())
    + f" ELSE {int(_STRAT_DEFAULT * _RANK_P)} END"
)

_STRAT_ORACLE = f"""
SELECT doc_id, lang, source,
       CAST(((doc_id % CAST({_KEY_MOD} AS BIGINT)) * {_KNUTH}) % {_RANK_P}
            AS BIGINT) AS h_rank
FROM documents
WHERE ((doc_id % CAST({_KEY_MOD} AS BIGINT)) * {_KNUTH}) % {_RANK_P}
      < {_STRAT_CASE}
"""


@register("q_sample_stratified", oracle=_STRAT_ORACLE)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified Bernoulli sampling with per-language rates: keep a doc
    iff its deterministic hash rank falls under the stratum's integer
    threshold (en 10%, rare languages 40%) — corpus rebalancing as a
    single scan+filter.

    This is the scale-correct shape for stratified sampling at 100 TB:
    no shuffle, no per-stratum state, no window — unlike fixed-size
    per-stratum top-k, which funnels each stratum through one reducer
    (few-stratum partitionBy is the skew anti-pattern). Rates achieve
    the target mix in expectation with |stratum|-relative error
    O(1/sqrt(n)); at training-corpus sizes that error is noise, while
    determinism (same sample under any partitioning, any engine, any
    retry) is what reproducible data recipes need. Spark's own
    df.sampleBy is seeded per-partition and NOT stable under
    repartitioning — the hash-threshold form is.
    """
    d = table(spark, sf_dir, "documents")
    h = F.pmod(
        F.pmod(F.col("doc_id").cast("long"), F.lit(_KEY_MOD)) * F.lit(_KNUTH),
        F.lit(_RANK_P),
    )
    thresh = F.lit(int(_STRAT_DEFAULT * _RANK_P))
    for lang, t in reversed(_STRAT_THRESH.items()):
        thresh = F.when(F.col("lang") == lang, F.lit(t)).otherwise(thresh)
    return (
        d.select(
            "doc_id", "lang", "source", h.cast("long").alias("h_rank"), thresh.alias("__t")
        )
        .filter(F.col("h_rank") < F.col("__t"))
        .drop("__t")
    )


# ---------------------------------------------------------------------------
# exact-k deterministic sample (hash-rank top-k)
# ---------------------------------------------------------------------------

_EXACTK = 100

_EXACTK_ORACLE = f"""
SELECT doc_id, source,
       md5(CAST(doc_id AS VARCHAR)) AS rank_key
FROM documents
ORDER BY rank_key, doc_id
LIMIT {_EXACTK}
"""


@register("q_sample_exact_k", oracle=_EXACTK_ORACLE)
def q_sample_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k uniform sample without replacement, deterministic:
    rank every row by md5(id) and keep the k smallest — the eval-set
    construction primitive, where "exactly 1 000 held-out documents,
    the same ones on every run and every engine" is a correctness
    requirement, not a nicety. The rate-based hash sampler
    (q_sample_uniform_hash) can't promise an exact count; this one
    can, at the cost of a top-k.

    Scale: TakeOrderedAndProject — per-partition top-k then a k-sized
    driver merge, never a global sort; adding data changes WHICH k
    rows win but not the cost shape. Membership is stable under
    repartitioning, retries, and engine choice because the rank key
    is content-derived, not RNG.
    """
    d = table(spark, sf_dir, "documents")
    ranked = d.select(
        "doc_id",
        "source",
        F.md5(F.col("doc_id").cast("string")).alias("rank_key"),
    )
    return ranked.orderBy("rank_key", "doc_id").limit(_EXACTK)


# ---------------------------------------------------------------------------
# per-group exact-k sample (stratified eval sets with hard counts)
# ---------------------------------------------------------------------------

_EXACTK_GRP = 20  # per (lang) stratum

_EXACTK_GRP_ORACLE = f"""
WITH ranked AS (
  SELECT doc_id, lang, source,
         md5(CAST(doc_id AS VARCHAR)) AS rank_key,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
)
SELECT doc_id, lang, source, rank_key, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {_EXACTK_GRP}
"""


@register("q_sample_exact_k_grouped", oracle=_EXACTK_GRP_ORACLE)
def q_sample_exact_k_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly k documents PER LANGUAGE, deterministic — the stratified
    eval-set primitive ("20 held-out docs per language, the same ones
    everywhere") that q_sample_stratified's rate sampler and
    q_sample_exact_k's global top-k can't provide between them.

    Shape: hash-rank row_number per stratum. With per-language strata
    the partition count is small and each stratum's ranking state is
    its own rows; for million-stratum keys (per-domain) this same
    window stays healthy because cardinality spreads the hash
    partitioning (see q_curation_source_cap's note — few-stratum
    windows are the regime to watch, and lang has 5 values here, each
    group a fraction of the corpus; a known-hot stratum would need a
    salted two-phase top-k)."""
    from pyspark.sql.window import Window as W

    d = table(spark, sf_dir, "documents")
    ranked = d.select(
        "doc_id",
        "lang",
        "source",
        F.md5(F.col("doc_id").cast("string")).alias("rank_key"),
    )
    w = W.partitionBy("lang").orderBy("rank_key", "doc_id")
    return ranked.withColumn(
        "rk", F.row_number().over(w).cast("long")
    ).filter(F.col("rk") <= _EXACTK_GRP)


# ---------------------------------------------------------------------------
# group-disjoint train/val/test split with leakage + parity audits
# ---------------------------------------------------------------------------

_SPLIT_TRAIN_PPM = 800_000
_SPLIT_VAL_PPM = 900_000  # val = [train, val), test = [val, 1e6)

_GSPLIT_ORACLE = f"""
WITH e AS MATERIALIZED (
  SELECT user_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS vc,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
           % 1000000 AS u_ppm
  FROM events
), tagged AS MATERIALIZED (
  SELECT *,
         CASE WHEN u_ppm < {_SPLIT_TRAIN_PPM} THEN 'train'
              WHEN u_ppm < {_SPLIT_VAL_PPM} THEN 'val'
              ELSE 'test' END AS split
  FROM e
), leak AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS leaked_users
  FROM (SELECT user_id FROM tagged GROUP BY user_id
        HAVING count(DISTINCT split) > 1)
), shares AS MATERIALIZED (
  SELECT split, event_type,
         count(*) * 1000000
           // sum(count(*)) OVER (PARTITION BY split) AS share_ppm
  FROM tagged GROUP BY split, event_type
), skew AS MATERIALIZED (
  SELECT CAST(max(mx - mn) AS BIGINT) AS max_type_skew_ppm
  FROM (SELECT event_type, max(share_ppm) AS mx, min(share_ppm) AS mn
        FROM shares GROUP BY event_type)
), nn AS MATERIALIZED (SELECT count(*) AS n FROM tagged)
SELECT t.split,
       CAST(count(DISTINCT t.user_id) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(t.vc) AS BIGINT) AS value_cents,
       CAST(count(*) * 1000000 // nn.n AS BIGINT) AS share_ppm,
       l.leaked_users,
       s.max_type_skew_ppm
FROM tagged t CROSS JOIN leak l CROSS JOIN skew s CROSS JOIN nn
GROUP BY t.split, l.leaked_users, s.max_type_skew_ppm, nn.n
ORDER BY t.split
"""


@register("q_sample_group_split", oracle=_GSPLIT_ORACLE)
def q_sample_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-disjoint train/val/test split (80/10/10) with the two
    audits every training pipeline needs before trusting a split:
    LEAKAGE (no user may contribute events to two splits — the
    GroupShuffleSplit contract; interaction data from one user in both
    train and test inflates eval) and DISTRIBUTION PARITY (max
    per-event-type share spread across splits, in ppm — a skewed split
    biases the metric even without leakage). Assignment hashes the
    GROUP key (user), never the row: md5(user) -> ppm bucket, so the
    split is reproducible across reruns, partitionings and engines,
    and new events from a known user land in that user's split —
    the property that keeps incremental eval sets honest.

    The leakage audit is computed in-engine from the tagged data (in
    production the split often comes from a mapping table that can
    drift; auditing the OUTPUT catches that class), not assumed from
    the hash construction.

    Scale shape: one corpus pass tags rows (hash is per-row
    expression); audits are combinable aggregates over (user) and
    (split, type) key spaces; output is 3 rows."""
    e = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    u_ppm = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15),
            16,
            10,
        ).cast("long"),
        F.lit(1_000_000),
    )
    tagged = e.select(
        "user_id",
        "event_type",
        "vc",
        F.when(u_ppm < _SPLIT_TRAIN_PPM, "train")
        .when(u_ppm < _SPLIT_VAL_PPM, "val")
        .otherwise("test")
        .alias("split"),
    )
    leak = (
        tagged.groupBy("user_id")
        .agg(F.countDistinct("split").alias("ns"))
        .where(F.col("ns") > 1)
        .agg(F.count(F.lit(1)).cast("long").alias("leaked_users"))
    )
    type_counts = tagged.groupBy("split", "event_type").agg(
        F.count(F.lit(1)).alias("tc")
    )
    split_tot = tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("stot")
    )
    shares = type_counts.join(split_tot, "split").select(
        "event_type",
        F.expr("tc * 1000000 div stot").alias("share_ppm"),
    )
    skew = (
        shares.groupBy("event_type")
        .agg((F.max("share_ppm") - F.min("share_ppm")).alias("sp"))
        .agg(F.max("sp").cast("long").alias("max_type_skew_ppm"))
    )
    nn = tagged.agg(F.count(F.lit(1)).alias("n"))
    per_split = tagged.groupBy("split").agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("vc").cast("long").alias("value_cents"),
    )
    return (
        per_split.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(leak))
        .crossJoin(F.broadcast(skew))
        .select(
            "split",
            "n_users",
            "n_events",
            "value_cents",
            F.expr("n_events * 1000000 div n").cast("long").alias(
                "share_ppm"
            ),
            "leaked_users",
            "max_type_skew_ppm",
        )
        .orderBy("split")
    )
