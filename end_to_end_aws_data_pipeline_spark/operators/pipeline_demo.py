"""Capstone composition: an end-to-end LLM training-data curation
pipeline as ONE declarative plan — quality filter → exact dedup →
near-dup removal → per-language corpus stats.

This is the workload the engine exists for (BASELINE.json north star):
each stage is an operator from this repo, composed lazily so Catalyst
optimizes across stage boundaries (the quality filter prunes the
corpus BEFORE dedup shuffles it; only survivors reach the quadratic-ish
near-dup stage).

Deterministic keep policy throughout: lowest doc_id survives its
duplicate group — so the whole pipeline is order-insensitive and
oracle-checkable end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.catalog import table
from end_to_end_aws_data_pipeline_spark.operators.dedup import shingles
from end_to_end_aws_data_pipeline_spark.functions.aggs import stable_round
from end_to_end_aws_data_pipeline_spark.registry import register

_MIN_WORDS = 20
_MAX_STOPRATIO = 0.12
_NEARDUP_TAU = 0.6
_STOPWORDS = ("the", "a", "of", "and")

_PIPE_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, lang, text, string_split(text, ' ') AS w
  FROM documents
), quality AS (
  SELECT doc_id, lang, text FROM scored
  WHERE len(w) >= {_MIN_WORDS}
    AND CAST(len(list_filter(w, x -> x IN {_STOPWORDS})) AS DOUBLE) / len(w)
        <= {_MAX_STOPRATIO}
), exact_kept AS (
  SELECT min(doc_id) AS doc_id FROM quality GROUP BY text
), surviving AS (
  SELECT q.doc_id, q.lang, q.text FROM quality q
  JOIN exact_kept k ON q.doc_id = k.doc_id
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(string_split(text,' ')) - 2, 1) + 1),
           -- concat_ws skips NULLs (same as Spark), so docs with <3
           -- words emit the truncated window instead of a NULL shingle
           i -> concat_ws(' ', string_split(text,' ')[i],
                string_split(text,' ')[i+1], string_split(text,' ')[i+2])
         )) AS s
  FROM surviving
), tok AS (
  SELECT doc_id, unnest(s) AS shingle FROM sh
), sizes AS (
  SELECT doc_id, len(s) AS n FROM sh
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM tok a JOIN tok b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), neardup_pairs AS (
  SELECT doc_a, doc_b FROM shared
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= {_NEARDUP_TAU}
), final AS (
  SELECT s.doc_id, s.lang, s.text FROM surviving s
  WHERE s.doc_id NOT IN (SELECT doc_b FROM neardup_pairs)
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(list_sum(list_transform(string_split(text, ' '),
            x -> (length(x) + 3) // 4))) AS BIGINT) AS bpe_tokens,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM final
GROUP BY lang
"""


@register("q_pipeline_training_data", oracle=_PIPE_ORACLE)
def q_pipeline_training_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → quality gate → exact dedup → near-dup removal
    (higher doc_id of any Jaccard ≥ 0.6 pair dropped) → per-language
    token accounting. One lazy plan; the scan feeds every stage once."""
    d = table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    stop_ratio = (
        F.size(F.filter(w, lambda x: x.isin(*_STOPWORDS))).cast("double") / F.size(w)
    )
    quality = d.filter(
        (F.size(w) >= _MIN_WORDS) & (stop_ratio <= _MAX_STOPRATIO)
    ).select("doc_id", "lang", "text")

    exact_kept = quality.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    surviving = quality.join(exact_kept.select("doc_id"), "doc_id")

    sh = surviving.select("doc_id", shingles(F.col("text")).alias("s"))
    tok = sh.select("doc_id", F.explode("s").alias("shingle"))
    sizes = sh.select("doc_id", F.size("s").alias("n"))
    a, b = tok.alias("a"), tok.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    jac = F.col("n_shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_shared")
    )
    drop = (
        shared.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .filter(jac >= _NEARDUP_TAU)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    final = surviving.join(drop, "doc_id", "left_anti")

    bpe = F.aggregate(
        F.split(F.col("text"), " "),
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.floor((F.length(x) + 3) / 4),
    )
    return final.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(bpe).cast("long").alias("bpe_tokens"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# round-4 capstone: normalize -> rule gate -> dedup -> corpus-trained
# perplexity -> per-language quality budget -> accounting
# ---------------------------------------------------------------------------

_V2_MIN_WORDS, _V2_MAX_WORDS = 50, 100_000
_V2_MIN_MWL, _V2_MAX_MWL = 3.0, 10.0
_V2_MIN_ALPHA = 0.80
_V2_KEEP_FRAC = 0.8  # per-language quality budget: keep best 80% by NLL

_V2_ORACLE = f"""
WITH norm AS (
  SELECT doc_id, lang,
         trim(regexp_replace(
           regexp_replace(nfc_normalize(text), '[\\x00-\\x08\\x0B-\\x1F\\x7F]', '', 'g'),
           '[ \\t\\n\\r]+', ' ', 'g')) AS tn
  FROM documents
), gated AS (
  SELECT doc_id, lang, tn, string_split(tn, ' ') AS w FROM norm
  WHERE len(string_split(tn, ' ')) BETWEEN {_V2_MIN_WORDS} AND {_V2_MAX_WORDS}
    AND CAST(list_sum(list_transform(string_split(tn, ' '), x -> length(x)))
             AS DOUBLE) / len(string_split(tn, ' '))
        BETWEEN {_V2_MIN_MWL} AND {_V2_MAX_MWL}
    AND CAST(len(list_filter(string_split(tn, ' '),
                 x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
        / len(string_split(tn, ' ')) >= {_V2_MIN_ALPHA}
), dedup AS (
  -- exact dedup BEFORE LM training so duplicate families can't skew
  -- the model toward their own phrasing
  SELECT min(doc_id) AS doc_id FROM gated GROUP BY tn
), corpus AS (
  SELECT g.* FROM gated g JOIN dedup USING (doc_id)
), uni AS (
  SELECT unnest(w) AS word FROM corpus
), c1 AS (
  SELECT word, count(*) AS c FROM uni GROUP BY word
), vocab AS (
  SELECT count(DISTINCT word) AS v FROM uni
), big AS (
  SELECT doc_id, b.w1, b.w2 FROM (
    SELECT doc_id, unnest(list_transform(
      range(1, len(w)), i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS b
    FROM corpus
  )
), c2 AS (
  SELECT w1, w2, count(*) AS c FROM big GROUP BY w1, w2
), terms AS (
  SELECT big.doc_id,
         CAST(round(-ln((CAST(c2.c AS DOUBLE) + 1.0) / (c1.c + vocab.v))
              * 1000000) AS BIGINT) AS nll_micro
  FROM big JOIN c2 USING (w1, w2) JOIN c1 ON c1.word = big.w1
  CROSS JOIN vocab
), scored AS (
  SELECT corpus.doc_id, corpus.lang,
         count(*) AS n_bigrams,
         sum(nll_micro) AS nll_sum,
         (sum(nll_micro) * 1000) // count(*) AS score_q
  FROM terms JOIN corpus USING (doc_id)
  GROUP BY corpus.doc_id, corpus.lang
), ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY lang ORDER BY score_q, doc_id) AS rn
  FROM scored
), budget AS (
  SELECT lang, count(*) AS c FROM scored GROUP BY lang
), kept AS (
  SELECT r.* FROM ranked r JOIN budget USING (lang)
  WHERE rn <= ceil({_V2_KEEP_FRAC} * c)
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum,
       floor(CAST(sum(score_q) AS DOUBLE) / count(*) / 1000.0
             * 1000000 + 0.5) / 1000000 AS avg_nll
FROM kept
GROUP BY lang
"""


@register("q_pipeline_curation_v2", oracle=_V2_ORACLE)
def q_pipeline_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-4 capstone: NFC normalize → Gopher-style rule gate
    (word-count / mean-word-length / alpha-ratio — the corpus-neutral
    subset) → exact dedup on normalized text (BEFORE LM training, so
    duplicate families can't skew the model) → bigram-LM perplexity
    scored against the surviving corpus itself → per-LANGUAGE quality
    budget (keep the best 80% by exact integer NLL rank — partitioned
    window, no global sort) → per-language accounting.

    One lazy plan: Catalyst pushes the gate into the scan before any
    shuffle; the LM count tables shuffle on word keys (never
    broadcast); ranking partitions by language. The only Python is the
    Arrow-batched NFC UDF. Scoring stays exact-integer end to end
    (micro-nat quantization then integer div), so the rank — and the
    driver hash — is engine-independent."""
    from end_to_end_aws_data_pipeline_spark.cache import persisted
    from end_to_end_aws_data_pipeline_spark.operators.text import nfc_clean

    docs = table(spark, sf_dir, "documents")
    norm = docs.select(
        "doc_id", "lang", nfc_clean(F.col("text")).alias("tn")
    )
    w = F.split(F.col("tn"), " ")
    n_words = F.size(w)
    mwl = (
        F.aggregate(w, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
        .cast("double")
        / n_words
    )
    alpha = F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]"))).cast("double") / n_words
    # persist the gate output and the deduped corpus: the NFC pandas
    # UDF + gate expressions feed keeper AND the corpus join, and the
    # corpus feeds THREE LM branches (unigrams, bigrams, lang rejoin) —
    # without these persists the Arrow UDF subtree re-executes per
    # branch (the lazy plan showed 38 Python stages; with them, one)
    gated = persisted(
        norm.filter(
            (n_words >= _V2_MIN_WORDS)
            & (n_words <= _V2_MAX_WORDS)
            & (mwl >= _V2_MIN_MWL)
            & (mwl <= _V2_MAX_MWL)
            & (alpha >= _V2_MIN_ALPHA)
        ).select("doc_id", "lang", "tn", w.alias("w"))
    )

    keeper = gated.groupBy("tn").agg(F.min("doc_id").alias("doc_id"))
    # the deduped-corpus persist carries only what its three consumers
    # read (unigrams/bigrams: w; the score rejoin: doc_id, lang) — the
    # normalized text `tn` already served the keeper groupBy above and
    # caching it here doubled the persist bytes (guide §2.3)
    corpus = persisted(
        gated.join(keeper.select("doc_id"), "doc_id").select(
            "doc_id", "lang", "w"
        )
    )

    uni = corpus.select(F.explode("w").alias("word"))
    c1 = uni.groupBy("word").agg(F.count(F.lit(1)).alias("c1"))
    v = uni.agg(F.countDistinct("word").alias("v"))
    n1 = F.size("w") - 1
    big = corpus.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("w", 1, F.greatest(n1, F.lit(0))),
                F.slice("w", 2, F.greatest(n1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    p = (F.col("c2").cast("double") + F.lit(1.0)) / (F.col("c1") + F.col("v"))
    terms = (
        big.join(c2, ["w1", "w2"])
        .join(c1, F.col("w1") == F.col("word"))
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.round(-F.log(p) * 1_000_000).cast("long").alias("nll_micro"),
        )
    )
    scored = (
        terms.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("nll_micro").alias("nll_sum"),
        )
        .join(corpus.select("doc_id", "lang"), "doc_id")
        .withColumn("score_q", F.expr("(nll_sum * 1000) div n_bigrams"))
    )
    from pyspark.sql import Window as W

    rn = F.row_number().over(
        W.partitionBy("lang").orderBy("score_q", "doc_id")
    )
    budget = scored.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    kept = (
        scored.withColumn("rn", rn)
        .join(F.broadcast(budget), "lang")
        .filter(F.col("rn") <= F.ceil(F.lit(_V2_KEEP_FRAC) * F.col("c")))
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
        stable_round(
            F.sum("score_q").cast("double") / F.count(F.lit(1)) / 1000.0, 6
        ).alias("avg_nll"),
    )


# ---------------------------------------------------------------------------
# capstone v3: model-based selection funnel
# (classifier gate → canonical dedup → DSIR top-k), one lazy plan
# ---------------------------------------------------------------------------

_V3_TOP = 100


def _v3_oracle() -> str:
    from end_to_end_aws_data_pipeline_spark.operators.curation import (
        DSIR_B,
        DSIR_TARGET,
        dsir_lw,
    )
    from end_to_end_aws_data_pipeline_spark.operators.text import (
        CLF_BIAS,
        CLF_BUCKET_MOD,
    )

    return f"""
WITH scored AS (
  SELECT doc_id, lang, source, text, n_chars,
         {CLF_BIAS} + coalesce(list_sum(list_transform(
           range(1, len(string_split(text, ' '))),
           i -> CAST(('0x' || substr(md5(string_split(text, ' ')[i] || '_' ||
                      string_split(text, ' ')[i + 1]), 1, 15))::BIGINT
                     % {CLF_BUCKET_MOD} - 16 AS BIGINT))), 0) AS score
  FROM documents
), kept AS (
  SELECT * FROM scored WHERE score > 0
), ranked AS (
  SELECT *,
         row_number() OVER (
           PARTITION BY md5(array_to_string(
             list_sort(string_split(text, ' ')), ' '))
           ORDER BY n_chars DESC, doc_id) AS rk
  FROM kept
), deduped AS (
  SELECT doc_id, lang, text FROM ranked WHERE rk = 1
), toks AS (
  SELECT doc_id,
         ('0x' || substr(md5(t.t), 1, 15))::BIGINT % {DSIR_B} AS b,
         CASE WHEN lang = '{DSIR_TARGET}' THEN 1 ELSE 0 END AS is_t
  FROM deduped, unnest(string_split(text, ' ')) AS t(t)
), hist AS (
  SELECT b, CAST(count(*) AS BIGINT) AS cr, CAST(sum(is_t) AS BIGINT) AS ct
  FROM toks GROUP BY b
), tot AS (
  SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt
  FROM hist
), lw AS (
  SELECT b, {dsir_lw("//")} AS w FROM hist, tot
), docw AS (
  SELECT doc_id, CAST(sum(w) AS BIGINT) AS weight
  FROM toks JOIN lw USING (b) GROUP BY doc_id
), sel AS (
  SELECT doc_id FROM docw ORDER BY weight DESC, doc_id LIMIT {_V3_TOP}
)
SELECT stage, n_docs, id_checksum FROM (
  SELECT 'raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(doc_id) AS BIGINT) AS id_checksum FROM documents
  UNION ALL
  SELECT 'classifier', CAST(count(*) AS BIGINT),
         CAST(sum(doc_id) AS BIGINT) FROM kept
  UNION ALL
  SELECT 'dedup', CAST(count(*) AS BIGINT),
         CAST(sum(doc_id) AS BIGINT) FROM deduped
  UNION ALL
  SELECT 'dsir_top{_V3_TOP}', CAST(count(*) AS BIGINT),
         CAST(sum(doc_id) AS BIGINT) FROM sel
)
"""


@register("q_pipeline_curation_v3", oracle=_v3_oracle())
def q_pipeline_curation_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 capstone: the MODEL-BASED selection funnel — hashed
    linear classifier gate (fastText shape, q_text_classifier) →
    canonical keep-best dedup (sorted-multiset fingerprint,
    q_dedup_canonical) → DSIR importance selection toward the target
    distribution (fixed-point log2, q_curation_dsir) — with per-stage
    document counts and id checksums as the audit artifact, so the
    hash pins exactly which documents survived each stage.

    Composition posture: one lazy plan; the classifier score is a
    codegen'd projection pushed before any shuffle, dedup shuffles
    16-byte fingerprints (never text), the DSIR histogram is built on
    the POST-dedup corpus (duplicate families must not skew the
    target model — same ordering argument as the v2 LM), and the
    final selection is a TakeOrderedAndProject. The survivor corpus
    persists once and feeds the histogram, the scoring join, and the
    stage accounting.
    """
    from end_to_end_aws_data_pipeline_spark.cache import persisted
    from end_to_end_aws_data_pipeline_spark.operators.curation import (
        dsir_token_weights,
    )
    from end_to_end_aws_data_pipeline_spark.operators.text import clf_score

    docs = table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    # project the survivor persist down to what downstream consumers
    # read (guide §2.3, project early): the token array `w` carries the
    # text's information; caching `text` and the spent `score` beside
    # it roughly doubled the cache bytes for columns nothing reads
    # (dedup needs doc_id/lang/w/n_chars; stage accounting needs
    # doc_id). Interleaved A/B at sf0.1: faster in all 5 pairs
    # (min 5.0 -> 4.2 s), results identical.
    kept = persisted(
        docs.select("doc_id", "lang", "n_chars", w.alias("w"))
        .withColumn("score", clf_score())
        .filter(F.col("score") > 0)
        .drop("score")
    )
    from pyspark.sql import Window as W

    fp = F.md5(F.array_join(F.array_sort("w"), " "))
    rk = F.row_number().over(
        W.partitionBy("fp").orderBy(F.col("n_chars").desc(), "doc_id")
    )
    deduped = persisted(
        kept.withColumn("fp", fp)
        .withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select("doc_id", "lang", "w")
    )
    sel = (
        dsir_token_weights(deduped, F.col("w"))
        .groupBy("doc_id")
        .agg(F.sum("w").cast("long").alias("weight"))
        .orderBy(F.col("weight").desc(), "doc_id")
        .limit(_V3_TOP)
    )

    def stage(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        ).select("stage", "n_docs", "id_checksum")

    return (
        stage(docs, "raw")
        .unionByName(stage(kept, "classifier"))
        .unionByName(stage(deduped, "dedup"))
        .unionByName(stage(sel, f"dsir_top{_V3_TOP}"))
    )
