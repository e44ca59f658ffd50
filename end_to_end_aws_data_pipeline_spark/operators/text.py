"""Text-analysis operators for LLM training-data pipelines (BASELINE.json
mandate): quality scoring, token counting, language ID, document
fingerprinting, TF-IDF, lexicon sentiment.

All pure built-in expressions (split / higher-order array functions /
regexp) — one scan of `documents`, no UDFs, so every operator here
whole-stage-codegens and scales with the scan. Lexicon operators join
against tiny broadcast lexicon tables (the EDBT'16-style map-side
lexicon join — see PAPERS.md).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.catalog import local_frame, spread, table
from end_to_end_aws_data_pipeline_spark.functions.aggs import (
    l2fp,
    l2hi,
    l2hi_sql,
    stable_round,
)
from end_to_end_aws_data_pipeline_spark.registry import register

_STOPWORDS = ("the", "a", "of", "and")

# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------

_QUALITY_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, string_split(text, ' ') AS w, length(text) AS nc
  FROM documents
)
SELECT
  doc_id, lang,
  CAST(nc AS BIGINT) AS n_chars,
  CAST(len(w) AS BIGINT) AS n_words,
  CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq_words,
  floor(CAST(len(list_distinct(w)) AS DOUBLE) / len(w)
        * 1000000 + 0.5) / 1000000 AS uniq_ratio,
  floor(CAST(nc - (len(w) - 1) AS DOUBLE) / len(w)
        * 1000000 + 0.5) / 1000000 AS avg_word_len,
  floor(CAST(len(list_filter(w, x -> x IN {_STOPWORDS})) AS DOUBLE) / len(w)
        * 1000000 + 0.5) / 1000000 AS stopword_ratio,
  floor((0.5 * (CAST(len(list_distinct(w)) AS DOUBLE) / len(w))
      + 0.5 * (1.0 - CAST(len(list_filter(w, x -> x IN {_STOPWORDS})) AS DOUBLE)
                     / len(w))) * 1000000 + 0.5) / 1000000 AS quality_score
FROM t
"""


@register("q_text_quality_score", oracle=_QUALITY_ORACLE)
def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: length stats, vocabulary diversity,
    stopword density → weighted score (the length/punct/stopword family
    of pretraining-data filters)."""
    d = table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    nc = F.length("text")
    n_words = F.size(w)
    n_uniq = F.size(F.array_distinct(w))
    uniq_ratio = n_uniq.cast("double") / n_words
    avg_word_len = (nc - (n_words - 1)).cast("double") / n_words
    stop_ratio = (
        F.size(F.filter(w, lambda x: x.isin(*_STOPWORDS))).cast("double") / n_words
    )
    return d.select(
        "doc_id",
        "lang",
        nc.cast("long").alias("n_chars"),
        n_words.cast("long").alias("n_words"),
        n_uniq.cast("long").alias("n_uniq_words"),
        stable_round(uniq_ratio, 6).alias("uniq_ratio"),
        stable_round(avg_word_len, 6).alias("avg_word_len"),
        stable_round(stop_ratio, 6).alias("stopword_ratio"),
        stable_round(0.5 * uniq_ratio + 0.5 * (1.0 - stop_ratio), 6).alias(
            "quality_score"
        ),
    )


# ---------------------------------------------------------------------------
# token counting (whitespace + regex + BPE-ish estimate)
# ---------------------------------------------------------------------------

_TOKENS_ORACLE = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w, text FROM documents)
SELECT
  doc_id,
  CAST(len(w) AS BIGINT) AS ws_tokens,
  CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS regex_tokens,
  CAST(list_sum(list_transform(w, x -> (length(x) + 3) // 4)) AS BIGINT)
    AS bpe_est_tokens
FROM t
"""


@register("q_text_token_count", oracle=_TOKENS_ORACLE)
def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counts: whitespace split, regex word extraction, and a
    BPE-style estimate (⌈len/4⌉ pieces per word — the standard ~4
    chars/token heuristic), all in integer arithmetic."""
    d = table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    bpe = F.aggregate(
        w,
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.floor((F.length(x) + 3) / 4),
    )
    return d.select(
        "doc_id",
        F.size(w).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z]+"), 0))
        .cast("long")
        .alias("regex_tokens"),
        bpe.alias("bpe_est_tokens"),
    )


# ---------------------------------------------------------------------------
# document fingerprinting (rolling polynomial hash — cross-engine exact)
# ---------------------------------------------------------------------------

_FP_MOD = 1_000_000_007
_FP_BASE = 31
_FP_SEED = 7

_FP_ORACLE = f"""
SELECT
  doc_id,
  list_reduce(
    list_prepend(CAST({_FP_SEED} AS BIGINT),
      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
    (acc, x) -> (acc * {_FP_BASE} + x) % {_FP_MOD}
  ) AS fingerprint,
  CAST(length(text) AS BIGINT) AS n_chars
FROM documents
"""


@register("q_text_fingerprint", oracle=_FP_ORACLE)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic rolling polynomial hash over characters
    ((acc·31 + ascii) mod 1e9+7) — an engine-portable fingerprint
    (unlike xxhash64) usable for cross-system dedup reconciliation."""
    d = table(spark, sf_dir, "documents")
    fp = F.aggregate(
        F.split(F.col("text"), ""),
        F.lit(_FP_SEED).cast("long"),
        lambda acc, c: (acc * _FP_BASE + F.ascii(c)) % _FP_MOD,
    )
    return d.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.length("text").cast("long").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# language ID (stopword-lexicon n-gram heuristic)
# ---------------------------------------------------------------------------

# deterministic marker lexicon over the corpus vocabulary: in a real
# pipeline these are per-language stopword lists; here they partition the
# synthetic vocabulary so the operator's mechanics (explode → broadcast
# lexicon join → per-doc argmax) are exercised end-to-end
_LANG_LEXICON = [
    ("en", "the"), ("en", "fast"), ("en", "small"), ("en", "big"),
    ("de", "table"), ("de", "scan"), ("de", "row"),
    ("es", "query"), ("es", "join"), ("es", "merge"),
    ("fr", "window"), ("fr", "order"), ("fr", "sort"),
    ("zh", "hash"), ("zh", "stream"), ("zh", "batch"),
]

_LANG_ORACLE = f"""
WITH lex(lex_lang, word) AS (
  VALUES {", ".join(f"('{lang}', '{w}')" for lang, w in _LANG_LEXICON)}
), tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), hits AS (
  SELECT doc_id, lex_lang, count(*) AS n_hits
  FROM tok JOIN lex USING (word)
  GROUP BY doc_id, lex_lang
), ranked AS (
  SELECT doc_id, lex_lang, n_hits,
         row_number() OVER (PARTITION BY doc_id ORDER BY n_hits DESC, lex_lang)
           AS rn
  FROM hits
)
SELECT d.doc_id, d.lang AS labeled_lang,
       coalesce(r.lex_lang, 'unknown') AS predicted_lang,
       coalesce(r.n_hits, 0) AS n_hits
FROM documents d LEFT JOIN ranked r ON d.doc_id = r.doc_id AND r.rn = 1
"""


@register("q_text_lang_id", oracle=_LANG_ORACLE)
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by marker-word voting: explode tokens → broadcast
    lexicon join → per-doc argmax (ties broken by language code) —
    'unknown' when no marker hits."""
    d = table(spark, sf_dir, "documents")
    lex = F.broadcast(
        local_frame(spark, _LANG_LEXICON, "lex_lang string, word string")
    )
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("word"))
    hits = tok.join(lex, "word").groupBy("doc_id", "lex_lang").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    w = W.partitionBy("doc_id").orderBy(F.col("n_hits").desc(), F.col("lex_lang"))
    best = hits.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        d.select("doc_id", F.col("lang").alias("labeled_lang"))
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            "labeled_lang",
            F.coalesce("lex_lang", F.lit("unknown")).alias("predicted_lang"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        )
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms
# ---------------------------------------------------------------------------

_TFIDF_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), tf AS (
  SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY doc_id, word
), df AS (
  SELECT word, count(DISTINCT doc_id) AS df FROM tok GROUP BY word
), n AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.word,
         CAST(tf.tf AS BIGINT) AS tf,
         CAST(df.df AS BIGINT) AS df,
         floor(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df)
               * 1000000 + 0.5) / 1000000 AS tfidf
  FROM tf JOIN df USING (word) CROSS JOIN n
), ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rn
  FROM scored
)
SELECT doc_id, word, tf, df, tfidf FROM ranked WHERE rn <= 3
"""


@register("q_tfidf_top_terms", oracle=_TFIDF_ORACLE)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms. The document-frequency side is
    an aggregate of the same tokenized scan (self-agg + broadcast-join
    back); corpus size joins in as a 1-row broadcast, keeping the whole
    plan two shuffles (tokens→tf, tokens→df)."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("word"))
    tf = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    # df from tf, not from re-exploded tokens: tf is unique per
    # (doc, word), so count(*) ≡ countDistinct(doc) at a fraction of the
    # input (one explode+shuffle instead of two over the raw corpus)
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            "tf",
            "df",
            stable_round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("word"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# bigram-LM perplexity scoring (CCNet-style quality filter)
# ---------------------------------------------------------------------------

# The production corpus-quality filter (CCNet, Wenzek et al. 2020;
# RedPajama/Gopher pipelines): score each document by how surprising its
# text is under a language model trained on the corpus itself — here a
# bigram LM with add-one smoothing, trained and applied in one job.
#
# Cross-engine float discipline: ln() agrees between Spark and DuckDB at
# the tfidf precedent's rounding, so each bigram's negative log-prob is
# quantized to BIGINT micro-nats FIRST (round(-ln(p)*1e6)) and the
# per-document sum is then EXACT integer arithmetic — associative, no
# float-order caveat. The reported avg is a deterministic function of
# the two exact columns.

_PPL_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), uni AS (
  SELECT unnest(ws) AS word FROM w
), c1 AS (
  SELECT word, count(*) AS c FROM uni GROUP BY word
), vocab AS (
  SELECT count(DISTINCT word) AS v FROM uni
), big AS (
  SELECT doc_id, b.w1, b.w2 FROM (
    SELECT doc_id, unnest(list_transform(
      range(1, len(ws)),
      i -> struct_pack(w1 := ws[i], w2 := ws[i+1])
    )) AS b
    FROM w
  )
), c2 AS (
  SELECT w1, w2, count(*) AS c FROM big GROUP BY w1, w2
), terms AS (
  SELECT big.doc_id,
         CAST(round(-ln(
           (CAST(c2.c AS DOUBLE) + 1.0) / (c1.c + vocab.v)
         ) * 1000000) AS BIGINT) AS nll_micro
  FROM big
  JOIN c2 USING (w1, w2)
  JOIN c1 ON c1.word = big.w1
  CROSS JOIN vocab
)
SELECT doc_id,
       count(*) AS n_bigrams,
       CAST(sum(nll_micro) AS BIGINT) AS nll_micro_sum,
       floor(CAST(sum(nll_micro) AS DOUBLE) / count(*) / 1000000
             * 1000000 + 0.5) / 1000000 AS avg_nll
FROM terms
GROUP BY doc_id
"""


@register("q_text_perplexity", oracle=_PPL_ORACLE)
def q_text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity quality score (CCNet-shaped): train add-one
    smoothed bigram/unigram counts over the corpus, score every
    document's mean negative log-likelihood under them. Low avg_nll =
    fluent/templated text, high = noise — the filter threshold a
    curation pipeline applies.

    Scale shape: two token shuffles (bigram counts, unigram counts —
    both map-side combinable), then the scoring join back on the bigram
    key. The count tables are corpus-vocabulary-sized, NOT broadcast
    (at 100 TB the bigram vocabulary alone exceeds executor memory):
    scoring is a plain shuffled hash join on (w1, w2), linear in corpus
    bigrams. The vocabulary size rides in as a 1-row broadcast. Docs
    with fewer than 2 words have no bigrams and are (by definition)
    not scored.
    """
    d = table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    w = d.select("doc_id", ws.alias("ws"))
    uni = w.select(F.explode("ws").alias("word"))
    c1 = uni.groupBy("word").agg(F.count(F.lit(1)).alias("c1"))
    v = uni.agg(F.countDistinct("word").alias("v"))
    n1 = F.size("ws") - 1
    big = w.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("ws", 1, F.greatest(n1, F.lit(0))),
                F.slice("ws", 2, F.greatest(n1, F.lit(0))),
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
    return terms.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("nll_micro").cast("long").alias("nll_micro_sum"),
        stable_round(
            F.sum("nll_micro").cast("double") / F.count(F.lit(1)) / 1_000_000, 6
        ).alias("avg_nll"),
    )


# ---------------------------------------------------------------------------
# corpus n-gram frequency
# ---------------------------------------------------------------------------

_NGRAM_ORACLE = """
WITH grams AS (
  SELECT unnest(list_transform(
    range(1, greatest(len(string_split(text,' ')) - 1, 1) + 1),
    -- concat_ws skips NULLs (as Spark does): 1-word docs emit the bare
    -- word, not a NULL bigram
    i -> concat_ws(' ', string_split(text,' ')[i], string_split(text,' ')[i+1])
  )) AS bigram
  FROM documents
), counted AS (
  SELECT bigram, count(*) AS n FROM grams GROUP BY bigram
), ranked AS (
  SELECT bigram, n, row_number() OVER (ORDER BY n DESC, bigram) AS rnk
  FROM counted
)
SELECT bigram, n, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= 20
"""


@register("q_text_ngram_freq", oracle=_NGRAM_ORACLE)
def q_text_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 bigrams: shingle explode → count → global
    top-k with deterministic ties (the NGram + CountVectorizer shape
    without mllib overhead)."""
    d = table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - 2, F.lit(0)))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, 2)))
    counted = (
        d.select(F.explode(grams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # global top-k via orderBy+limit (TakeOrderedAndProject: distributed
    # per-partition top-N + merge) — an unpartitioned ranking window
    # would drag every distinct bigram to a single task at scale
    top = counted.orderBy(F.col("n").desc(), F.col("bigram")).limit(20)
    # the window below sees ONLY the k=20 TakeOrdered survivors — its
    # single-partition exec (WindowExec's warning) is bounded by k, not
    # by the vocabulary, at any corpus size (a foldable partitionBy
    # constant would not silence it: the optimizer folds it away)
    w = W.orderBy(F.col("n").desc(), F.col("bigram"))
    return top.withColumn("rnk", F.row_number().over(w)).select("bigram", "n", "rnk")


_HIST_ORACLE = """
SELECT (length(text) // 20) * 20 AS len_bucket,
       count(*) AS n_docs,
       CAST(min(length(text)) AS BIGINT) AS min_len,
       CAST(max(length(text)) AS BIGINT) AS max_len
FROM documents
GROUP BY 1
"""


@register("q_text_length_histogram", oracle=_HIST_ORACLE)
def q_text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram (20-char buckets) — the data-quality
    profile every corpus pipeline starts with."""
    d = table(spark, sf_dir, "documents")
    bucket = (F.floor(F.length("text") / 20) * 20).cast("long")
    return d.groupBy(bucket.alias("len_bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min(F.length("text")).cast("long").alias("min_len"),
        F.max(F.length("text")).cast("long").alias("max_len"),
    )


# ---------------------------------------------------------------------------
# lexicon sentiment
# ---------------------------------------------------------------------------

_SENT_LEXICON = [
    ("fast", 1), ("small", 1), ("spark", 1), ("merge", 1), ("vector", 1),
    ("slow", -1), ("dup", -1), ("big", -1), ("filter", -1),
]

_SENT_ORACLE = f"""
WITH lex(word, polarity) AS (
  VALUES {", ".join(f"('{w}', {p})" for w, p in _SENT_LEXICON)}
), tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), scores AS (
  SELECT t.doc_id, CAST(sum(l.polarity) AS BIGINT) AS polarity_sum,
         CAST(count(l.word) AS BIGINT) AS n_scored
  FROM tok t LEFT JOIN lex l USING (word)
  GROUP BY t.doc_id
), words AS (
  SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n_words
  FROM documents
)
SELECT s.doc_id,
       coalesce(s.polarity_sum, 0) AS polarity_sum,
       s.n_scored,
       floor(CAST(coalesce(s.polarity_sum, 0) AS DOUBLE) / w.n_words
             * 1000000 + 0.5) / 1000000 AS sentiment
FROM scores s JOIN words w ON s.doc_id = w.doc_id
"""


@register("q_text_sentiment", oracle=_SENT_ORACLE)
def q_text_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon sentiment (EDBT'16 Spark sentiment shape, PAPERS.md):
    token explode → broadcast polarity lexicon join → per-doc
    normalized score."""
    d = table(spark, sf_dir, "documents")
    lex = F.broadcast(
        local_frame(spark, _SENT_LEXICON, "word string, polarity int")
    )
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("word"))
    scores = (
        tok.join(lex, "word", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("polarity").cast("long").alias("polarity_sum"),
            F.count("polarity").alias("n_scored"),
        )
    )
    words = d.select("doc_id", F.size(F.split(F.col("text"), " ")).cast("long").alias("n_words"))
    return (
        scores.join(words, "doc_id")
        .select(
            "doc_id",
            F.coalesce("polarity_sum", F.lit(0)).alias("polarity_sum"),
            "n_scored",
            stable_round(
                F.coalesce("polarity_sum", F.lit(0)).cast("double")
                / F.col("n_words"),
                6,
            ).alias("sentiment"),
        )
    )


# ---------------------------------------------------------------------------
# Python UDTF surface (lateral table function)
# ---------------------------------------------------------------------------

_UDTF_ORACLE = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
           WHERE doc_id % 25 = 0)
SELECT doc_id, CAST(i AS INT) AS pos, words[i] AS token
FROM w, LATERAL (SELECT unnest(range(1, len(words) + 1)) AS i) t
"""


@register("q_udtf_tokenize", oracle=_UDTF_ORACLE)
def q_udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF via LATERAL join: one doc row in → one row per
    token out. The oracle recomputes the expansion relationally,
    proving the UDTF path agrees with posexplode semantics."""
    from end_to_end_aws_data_pipeline_spark.functions.udtfs import (
        HAVE_UDTF,
        register_udtfs,
    )

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    if not HAVE_UDTF:  # older Spark: native equivalent keeps the query alive
        return d.select(
            "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "token")
        ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")
    register_udtfs(spark)
    d.createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token
        FROM __udtf_docs d, LATERAL tokenize_udtf(d.text) t
        """
    )


# ---------------------------------------------------------------------------
# row-wise Python UDF (surface completeness — NOT a hot-path pattern)
# ---------------------------------------------------------------------------

_ROWUDF_ORACLE = """
SELECT doc_id,
       reverse(source) AS source_reversed,
       length(source) AS source_len
FROM documents WHERE doc_id % 50 = 0
"""


@register("q_udf_rowwise", oracle=_ROWUDF_ORACLE)
def q_udf_rowwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (SURVEY.md §2.B UDF surface row) on a
    deliberately tiny slice: every call crosses JVM↔Python per row, so
    this pattern exists for correctness parity only — Pandas UDFs /
    mapInPandas are the real Python escape hatch (10-100× faster), and
    every hot path in this engine stays on built-ins."""
    from pyspark.sql import types as T

    @F.udf(T.StringType())
    def py_reverse(s: str) -> str:
        return s[::-1] if s is not None else None

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 50 == 0)
    return d.select(
        "doc_id",
        py_reverse(F.col("source")).alias("source_reversed"),
        F.length("source").alias("source_len"),
    )


# ---------------------------------------------------------------------------
# Unicode normalization + text cleanup (NFC, control strip, ws collapse)
# ---------------------------------------------------------------------------

# The standard first pass of a multilingual ingestion pipeline: NFC so
# byte-identical dedup sees canonically-equal strings as equal, control
# characters stripped (PDF/OCR artifacts), whitespace collapsed. NFC has
# no Spark built-in — this is a legitimate Arrow-batched pandas-UDF use
# (unicodedata is C-accelerated; per-batch, not per-row, dispatch). The
# oracle recomputes with DuckDB's utf8proc nfc_normalize — two
# independent Unicode implementations agreeing per the UAX#15 stability
# policy.

_NORMALIZE_ORACLE = """
SELECT doc_id,
       trim(regexp_replace(
         regexp_replace(nfc_normalize(text), '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
         '[ \\t\\n\\r]+', ' ', 'g')) AS text_norm,
       CAST(length(text) AS BIGINT) AS len_raw,
       CAST(length(trim(regexp_replace(
         regexp_replace(nfc_normalize(text), '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
         '[ \\t\\n\\r]+', ' ', 'g'))) AS BIGINT) AS len_norm
FROM documents
"""


def nfc_clean(col: Column) -> Column:
    """NFC-compose + strip C0/C1 controls + collapse whitespace + trim
    (the q_text_normalize pipeline as a reusable column expression;
    Python appears only as the Arrow-batched NFC UDF)."""
    from pyspark.sql.functions import pandas_udf

    # no type annotations: `from __future__ import annotations` makes
    # them unresolvable strings for the UDF inspector; the returnType
    # argument carries the schema instead
    @pandas_udf("string")
    def nfc(c):
        import unicodedata

        return c.map(
            lambda s: unicodedata.normalize("NFC", s) if s is not None else None
        )

    return F.trim(
        F.regexp_replace(
            F.regexp_replace(nfc(col), "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""),
            "[ \\t\\n\\r]+",
            " ",
        )
    )


@register("q_text_normalize", oracle=_NORMALIZE_ORACLE)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization + cleanup: NFC-compose, strip C0/C1
    control characters (keeping \\t \\n \\r long enough to collapse
    them), collapse all whitespace runs to single spaces, trim.

    Python appears ONLY as an Arrow-batched pandas UDF for the NFC step
    (no Spark built-in exists); the strip/collapse/trim stages are JVM
    regexp expressions so codegen keeps the rest of the plan. At 100 TB
    this runs at scan speed — one narrow string column in, one out.
    """
    d = table(spark, sf_dir, "documents")
    cleaned = nfc_clean(F.col("text"))
    return d.select(
        "doc_id",
        cleaned.alias("text_norm"),
        F.length("text").cast("long").alias("len_raw"),
        F.length(cleaned).cast("long").alias("len_norm"),
    )


# ---------------------------------------------------------------------------
# vocabulary build + out-of-vocabulary rate (tokenizer-prep audit)
# ---------------------------------------------------------------------------

_VOCAB_V = 16  # vocabulary size: top-V words by corpus frequency

_VOCAB_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), vocab AS (
  SELECT w FROM (
    SELECT w, count(*) AS c FROM tok GROUP BY w
    ORDER BY c DESC, w LIMIT {_VOCAB_V}
  )
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       floor(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000
         AS oov_rate
FROM tok t LEFT JOIN vocab v ON v.w = t.w
GROUP BY t.doc_id
"""


@register("q_text_vocab_oov", oracle=_VOCAB_ORACLE)
def q_text_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency vocabulary build (top-V words, deterministic
    count-then-lexicographic tie-break) + per-document OOV rate against
    it — the audit a tokenizer-training run does first: how much of
    each document will a V-entry vocabulary actually cover?

    Two-pass shape, both scale-clean: pass 1 is a word-count aggregate
    (map-side combine; distinct-word state, not corpus-size state)
    topped with TakeOrderedAndProject (V rows off every executor, never
    a full sort); pass 2 re-scans, explodes, and broadcast-joins the
    V-row vocabulary — no shuffle of the token stream at all. The same
    two passes at any corpus size; vocab broadcast is V entries by
    construction. Real BPE vocab builds replace pass 1's unigram counts
    with merge-pair counts but keep exactly this dataflow."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
    vocab = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("w"))
        .limit(_VOCAB_V)
        .select("w", F.lit(1).alias("__in_vocab"))
    )
    j = tok.join(F.broadcast(vocab), "w", "left_outer")
    oov = F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(oov).cast("long").alias("n_oov"),
        stable_round(F.sum(oov) / F.count(F.lit(1)).cast("double"), 6).alias(
            "oov_rate"
        ),
    )


# ---------------------------------------------------------------------------
# BPE merge learning (Sennrich ACL'16): tokenizer training as an
# iterative Spark job with a fully unrolled DuckDB oracle replay
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 6


def _bpe_word_filter() -> str:
    # ASCII-only gate BEFORE lowercasing: A-Za-z lowercase is
    # bit-identical across engines, where full-Unicode lower() is not
    return "^[A-Za-z]{2,}$"


def _bpe_oracle() -> str:
    """Unrolled {_BPE_ROUNDS}-round BPE training: each round's CTE
    chain recomputes the pair counts, re-derives the argmax pair
    (count DESC, pair ASC — the same total order Spark uses), and
    applies the merge with gaps-and-islands window logic that matches
    the engine's greedy left-to-right fold exactly (within a run of
    consecutive matching positions, merges start at even offsets)."""
    parts = [
        f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS t FROM documents
), words AS (
  SELECT lower(t) AS word, CAST(count(*) AS BIGINT) AS cnt
  FROM toks WHERE regexp_matches(t, '{_bpe_word_filter()}')
  GROUP BY lower(t)
), v0 AS (
  SELECT word, cnt, string_split(word, '') AS s FROM words
)"""
    ]
    for r in range(1, _BPE_ROUNDS + 1):
        p = r - 1
        parts.append(
            f""", pos{r} AS (
  SELECT word, cnt, generate_subscripts(s, 1) AS i, unnest(s) AS sym
  FROM v{p}
), pr{r} AS (
  SELECT word, cnt, i, sym,
         lead(sym) OVER (PARTITION BY word ORDER BY i) AS nxt
  FROM pos{r}
), t{r} AS (
  SELECT sym AS a, nxt AS b, CAST(sum(cnt) AS BIGINT) AS pc
  FROM pr{r} WHERE nxt IS NOT NULL
  GROUP BY sym, nxt ORDER BY pc DESC, a, b LIMIT 1
), mk{r} AS (
  SELECT p.word, p.cnt, p.i, p.sym, t.a, t.b,
         coalesce(p.sym = t.a AND p.nxt = t.b, false) AS mtch,
         row_number() OVER (
           PARTITION BY p.word, coalesce(p.sym = t.a AND p.nxt = t.b, false)
           ORDER BY p.i) AS rnm
  FROM pr{r} p CROSS JOIN t{r} t
), st{r} AS (
  SELECT word, cnt, i, sym, a, b,
         CASE WHEN mtch THEN
           (i - min(i) OVER (PARTITION BY word, mtch, i - rnm)) % 2 = 0
         ELSE false END AS strt
  FROM mk{r}
), cv{r} AS (
  SELECT word, cnt, i, sym, a, b, strt,
         coalesce(lag(strt) OVER (PARTITION BY word ORDER BY i), false)
           AS covered
  FROM st{r}
), v{r} AS (
  SELECT word, cnt,
         list(CASE WHEN strt THEN a || b ELSE sym END ORDER BY i) AS s
  FROM cv{r} WHERE NOT covered GROUP BY word, cnt
)"""
        )
    return parts


def _bpe_oracle_from(parts: list[str]) -> str:
    unions = "\n  UNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS step, a AS lhs, b AS rhs, "
        f"a || b AS merged, pc AS pair_count FROM t{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    )
    return "".join(parts) + f"\n{unions}"


def _bpe_apply_merge(s: Column, a: str, b: str) -> Column:
    """Greedy left-to-right merge of adjacent (a, b) in a symbol array
    — one codegen'd fold, no shuffle, no UDF. The accumulator's last
    element can only equal ``a`` when it is an UNMERGED symbol (a
    merged token is strictly longer than ``a``), so a merge result
    never chains into another merge within the same round — exactly
    the non-overlapping semantics of Sennrich's reference BPE."""
    return F.aggregate(
        s,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _bpe_train(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple], DataFrame]:
    """Run the {ROUNDS}-round training loop; returns (merges, final
    vocab DataFrame (word, cnt, s)) — shared by the merges query and
    the encode query so both verify the same learned tokenizer."""
    from end_to_end_aws_data_pipeline_spark.cache import persisted

    toks = (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("t"))
        .filter(F.col("t").rlike(_bpe_word_filter()))
    )
    words = (
        toks.select(F.lower("t").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    vocab = persisted(words.select("word", "cnt", F.split("word", "").alias("s")))
    merges: list[tuple] = []
    for r in range(1, _BPE_ROUNDS + 1):
        pos = vocab.select(
            "word", "cnt", F.posexplode("s").alias("i", "sym")
        )
        pr = pos.withColumn(
            "nxt", F.lead("sym").over(W.partitionBy("word").orderBy("i"))
        )
        top = (
            pr.filter(F.col("nxt").isNotNull())
            .groupBy("sym", "nxt")
            .agg(F.sum("cnt").alias("pc"))
            .orderBy(F.col("pc").desc(), "sym", "nxt")
            .limit(1)
            .collect()
        )
        if not top:
            raise ValueError("BPE vocabulary exhausted before round "
                             f"{r} — corpus too small for {_BPE_ROUNDS} merges")
        a, b, pc = top[0]["sym"], top[0]["nxt"], int(top[0]["pc"])
        merges.append((r, a, b, a + b, pc))
        vocab = persisted(
            vocab.withColumn("s", _bpe_apply_merge(F.col("s"), a, b))
        )
    return merges, vocab


@register("q_text_bpe_merges", oracle=_bpe_oracle_from(_bpe_oracle()))
def q_text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first 6 BPE merge rules from the corpus — the
    tokenizer-training step of an LLM data pipeline, run as an
    iterative Spark job (the q_graph_pagerank playbook applied to
    subword learning).

    Shape: ONE corpus pass builds the word-frequency table (the only
    scan that grows with data); every training round then runs on the
    VOCABULARY (thousands of rows at any corpus size): posexplode →
    lead-window adjacent pairs → weighted pair counts → a 1-row argmax
    collect (bounded driver state, like the k-means centroid collects)
    → merge application as a per-word fold (no shuffle). Per-round
    persist keeps lineage linear in rounds.

    Determinism: counts are exact integers; the argmax tie-break is
    (count DESC, pair ASC); merge application is greedy
    left-to-right (within a run of identical overlapping matches,
    merges land at even offsets). The oracle unrolls all 6
    rounds as CTE chains and re-derives every argmax and every merge,
    so tokenizer TRAINING — not just application — is hash-verified.
    Output: (step, lhs, rhs, merged, pair_count) — the merges file a
    BPE tokenizer ships."""
    merges, _vocab = _bpe_train(spark, sf_dir)
    return local_frame(
        spark, merges, "step int, lhs string, rhs string, merged string, pair_count long"
    )


# ---------------------------------------------------------------------------
# hashed linear (fastText-style) quality classifier
# ---------------------------------------------------------------------------

CLF_BUCKET_MOD = 33  # weight domain: md5(bigram) % 33 - 16 ∈ [-16, 16]
CLF_BIAS = -3

_CLF_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
), scored AS (
  SELECT doc_id, source,
         {CLF_BIAS} + coalesce(list_sum(
           list_transform(
             range(1, len(w)),
             i -> CAST(('0x' || substr(md5(w[i] || '_' || w[i + 1]), 1, 15))
                       ::BIGINT % {CLF_BUCKET_MOD} - 16 AS BIGINT)
           )
         ), 0) AS score
  FROM t
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(score) AS BIGINT) AS score_checksum,
       CAST(min(score) AS BIGINT) AS min_score,
       CAST(max(score) AS BIGINT) AS max_score
FROM scored
GROUP BY source
"""


def clf_score() -> Column:
    """The hashed linear classifier's score of the token array ``w``:
    bias + the md5-derived weight of each token bigram."""
    bigrams = F.expr(
        "transform(sequence(1, size(w) - 1), "
        "i -> concat(element_at(w, i), '_', element_at(w, i + 1)))"
    )
    return F.lit(CLF_BIAS) + F.coalesce(
        F.aggregate(
            bigrams,
            F.lit(0).cast("long"),
            lambda acc, x: acc
            + (
                F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("long")
                % CLF_BUCKET_MOD
                - 16
            ),
        ),
        F.lit(0).cast("long"),
    )


@register("q_text_classifier", oracle=_CLF_ORACLE)
def q_text_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering with a hashed linear classifier —
    the fastText architecture every major LLM corpus uses for quality
    gating (CCNet, GPT-3's WebText classifier, RedPajama): score =
    bias + Σ weight[h(bigram)] over the document's token bigrams,
    keep if score > 0.

    Weights here are md5-derived integers in [-16, 16] standing in for
    trained parameters (the sandbox has no trained model), but the
    serving plumbing is the real thing and is what matters at 100 TB:
    the HASHING TRICK means there is no vocabulary table at all — no
    broadcast, no join, no OOV path; the weight of any bigram is a
    pure expression of its hash. Bigrams are built with
    transform(sequence(...)) over the split array and folded with
    aggregate(), so the whole classifier is one codegen'd projection
    over the scan: per-doc cost is O(tokens), cluster cost is exactly
    one pass over the corpus. A real deployment swaps the md5-mod
    expression for `weights[h]` lookups against a broadcast int array
    (a few MB for 2^21 buckets) — same plan shape.

    Integer weights keep the fold exact and order-independent, so the
    DuckDB oracle (same md5 arithmetic via list_transform/list_sum)
    hash-matches bit-for-bit; per-source score extrema and checksum
    pin every document's score, not just the keep decision.
    """
    d = table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    scored = d.select("doc_id", "source", w.alias("w")).select(
        "doc_id", "source", clf_score().alias("score")
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("score") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.sum("score").cast("long").alias("score_checksum"),
        F.min("score").cast("long").alias("min_score"),
        F.max("score").cast("long").alias("max_score"),
    )


# ---------------------------------------------------------------------------
# per-source KL divergence against the corpus (fixed-point log2)
# ---------------------------------------------------------------------------

_KL_B = 64  # hashed token buckets (shared recipe with q_curation_dsir)


def _kl_lw(div: str) -> str:
    """Fixed-point log2 of the smoothed source/corpus probability
    ratio for one bucket: L(cs+1) + L(n+B) - L(c+1) - L(ns+B)."""
    s = l2fp("cs + 1")
    g = l2fp("c + 1")
    ns = l2fp(f"ns + {_KL_B}")
    n = l2fp(f"n + {_KL_B}")
    return f"({s} + {n} - {g} - {ns})".replace("{div}", div)


def _kl_oracle() -> str:
    return f"""
WITH toks AS (
  SELECT source,
         ('0x' || substr(md5(t.t), 1, 15))::BIGINT % {_KL_B} AS b
  FROM documents, unnest(string_split(text, ' ')) AS t(t)
), hs AS (
  SELECT source, b, CAST(count(*) AS BIGINT) AS cs
  FROM toks GROUP BY source, b
), hg AS (
  SELECT b, CAST(sum(cs) AS BIGINT) AS c FROM hs GROUP BY b
), ts AS (
  SELECT source, CAST(sum(cs) AS BIGINT) AS ns FROM hs GROUP BY source
), tg AS (
  SELECT CAST(sum(c) AS BIGINT) AS n FROM hg
)
SELECT hs.source,
       CAST(ts.ns AS BIGINT) AS n_tokens,
       floor(CAST(sum(hs.cs * {_kl_lw("//")}) AS DOUBLE)
             / (16.0 * ts.ns) * 1000000 + 0.5) / 1000000 AS kl_bits
FROM hs
JOIN hg USING (b)
JOIN ts ON hs.source = ts.source
CROSS JOIN tg
GROUP BY hs.source, ts.ns
"""


@register("q_text_kl_divergence", oracle=_kl_oracle())
def q_text_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution drift: KL(source ∥ corpus) in bits over
    hashed unigram buckets — the corpus-health audit that flags a
    source whose token distribution diverges from the mixture (scraper
    rot, language drift, template spam) and the quantitative basis for
    mixture reweighting.

    Same cross-engine-exact recipe as q_curation_dsir: per-bucket
    log2-probability ratios in FIXED POINT (integer bit-length +
    interpolated mantissa, 4 fractional bits), weighted by the
    source's raw bucket counts and summed exactly as integers; the
    single final division to bits happens once per source on identical
    int64 operands, so the rounded double is bit-identical in both
    engines. Laplace smoothing (+1 per bucket) keeps empty buckets
    finite.

    Scale shape: one token pass → (source, bucket) histogram
    (map-side combined, |sources|·B rows), everything downstream is
    arithmetic on that tiny table: the bucket-global histogram and the
    per-source totals are second-level aggregates of it; joins touch
    at most |sources|·B rows. At 100 TB the corpus is read once,
    shuffles carry only histogram partials.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("t")
    ).select(
        "source",
        (
            F.conv(F.substring(F.md5(F.col("t")), 1, 15), 16, 10).cast("long")
            % _KL_B
        ).alias("b"),
    )
    hs = toks.groupBy("source", "b").agg(
        F.count(F.lit(1)).cast("long").alias("cs")
    )
    hg = hs.groupBy("b").agg(F.sum("cs").cast("long").alias("c"))
    ts = hs.groupBy("source").agg(F.sum("cs").cast("long").alias("ns"))
    tg = hg.agg(F.sum("c").cast("long").alias("n"))
    j = (
        hs.join(F.broadcast(hg), "b")
        .join(F.broadcast(ts), "source")
        .crossJoin(F.broadcast(tg))
    )
    contrib = F.col("cs") * F.expr(_kl_lw("div")).cast("long")
    return (
        j.groupBy("source", "ns")
        .agg(F.sum(contrib).cast("long").alias("klsum"))
        .select(
            "source",
            F.col("ns").cast("long").alias("n_tokens"),
            stable_round(
                F.col("klsum").cast("double") / (16.0 * F.col("ns")), 6
            ).alias("kl_bits"),
        )
    )


def _bpe_encode_oracle() -> str:
    """Training CTE prefix (which re-derives every merge) + encode:
    the per-source token stream left-joins the final vocabulary; a
    token that passes the word filter maps to its learned subword
    count, anything else stays one token."""
    parts = _bpe_oracle()
    flt = _bpe_word_filter()
    return "".join(parts) + f""",
stoks AS (
  SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
), enc AS (
  SELECT s.source,
         coalesce(CASE WHEN regexp_matches(s.t, '{flt}')
                       THEN len(v.s) END, 1) AS n_sub
  FROM stoks s LEFT JOIN v{_BPE_ROUNDS} v ON lower(s.t) = v.word
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(n_sub) AS BIGINT) AS n_subwords,
       floor(CAST(sum(n_sub) AS DOUBLE) / count(*) * 1000000 + 0.5)
         / 1000000 AS subwords_per_token
FROM enc GROUP BY source
"""


@register("q_text_bpe_encode", oracle=_bpe_encode_oracle())
def q_text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION: encode the corpus with the BPE merges
    just learned by `_bpe_train` (the q_text_bpe_merges loop) and
    report per-source token statistics — the pipeline step that sizes
    training shards and packing budgets after tokenizer training.

    The crucial scale property: encoding work is VOCABULARY-sized,
    not corpus-sized. The learned merges fold over the distinct-word
    table (thousands of rows at any corpus size); the corpus-sized
    token stream then BROADCAST-joins to (word → subword count) —
    one pass, no shuffle of text, no per-token Python. Tokens outside
    the trained word filter pass through as single tokens, decided by
    the same regexp in both engines BEFORE the join so an untrained
    token can never borrow a trained word's count.

    The oracle re-derives the full training (every argmax, every
    merge) AND the encoding join, so this is a second, independent
    hash check over the learned tokenizer — training and application
    must agree cross-engine simultaneously for this row to go green.
    """
    _merges, vocab = _bpe_train(spark, sf_dir)
    wc = vocab.select(
        "word", F.size("s").cast("long").alias("n_sub_trained")
    )
    stoks = table(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("t")
    )
    enc = stoks.join(
        F.broadcast(wc), F.lower(F.col("t")) == F.col("word"), "left"
    ).select(
        "source",
        F.coalesce(
            F.when(
                F.col("t").rlike(_bpe_word_filter()), F.col("n_sub_trained")
            ),
            F.lit(1),
        ).alias("n_sub"),
    )
    return enc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("n_sub").cast("long").alias("n_subwords"),
        stable_round(
            F.sum("n_sub").cast("double") / F.count(F.lit(1)), 6
        ).alias("subwords_per_token"),
    )


# ---------------------------------------------------------------------------
# unigram-LM (SentencePiece-style) tokenizer training — the EM sibling
# of BPE: a fixed candidate vocabulary re-scored by Viterbi hard-EM
# rounds, every score an exact int64 fixed-point -log2 so the oracle
# replays the full training bit-for-bit
# ---------------------------------------------------------------------------

_ULM_PLEN = 4  # max piece length (chars)
_ULM_MAXLEN = 12  # word char cap (bounds the unrolled DP; cf. max_sentence_length)
_ULM_SEED = 48  # multi-char seed pieces (top by count, tie piece asc)
_ULM_ROUNDS = 2  # Viterbi hard-EM rounds
_ULM_TOP = 15  # published pieces


def _ulm_viterbi(word: str, cost: dict) -> tuple:
    """Unique best segmentation minimizing (Σcost, n_pieces); at equal
    (cost, n) the LONGER candidate piece wins (lengths tried 4→1 with
    strict '<' replacement) — the same tie-break the oracle's
    row_number ORDER BY cost, np, len DESC encodes, so the chosen
    segmentation is identical in both engines by induction."""
    n = len(word)
    dp = [None] * (n + 1)
    dp[0] = (0, 0, ())
    for j in range(1, n + 1):
        best = None
        for ln in range(_ULM_PLEN, 0, -1):
            if ln > j:
                continue
            piece = word[j - ln : j]
            c = cost.get(piece)
            if c is None or dp[j - ln] is None:
                continue
            prev = dp[j - ln]
            key = (prev[0] + c, prev[1] + 1)
            if best is None or key < (best[0], best[1]):
                best = (key[0], key[1], prev[2] + (piece,))
        dp[j] = best
    return dp[n][2]


def _ulm_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct clean-word frequency table (the vocabulary-sized relation
    every EM pass runs over): ASCII words, lowercased, length-capped."""
    return (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("t"))
        .filter(
            F.col("t").rlike(_bpe_word_filter())
            & (F.length("t") <= _ULM_MAXLEN)
        )
        .select(F.lower("t").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def _ulm_train(spark: SparkSession, sf_dir: str) -> dict:
    """Run seed + EM; returns the final piece→count model.

    Scale shape: every distributed pass is over the DISTINCT-WORD
    table (vocabulary-sized at any corpus size), the model state on
    the driver is ≤ (seed + alphabet) entries, and the per-round
    E-step is one Arrow-batched mapInPandas (Viterbi DP is inherently
    per-word sequential — the legitimate Python case) followed by one
    bounded piece-count aggregate. The corpus-sized token stream is
    touched exactly once, in _ulm_words' groupBy."""
    import pandas as pd

    from end_to_end_aws_data_pipeline_spark.cache import persisted

    words = persisted(_ulm_words(spark, sf_dir))

    # substr over an index sequence — selectExpr keeps the spelling
    # identical to the oracle's substr/range form. The length filter is
    # load-bearing: Spark's sequence(1, stop) DESCENDS when stop < 1
    # (range() in DuckDB is empty), so short words must not reach the
    # explode at all.
    subs = [
        words.filter(F.length("word") >= ln).selectExpr(
            f"explode(transform(sequence(1, length(word) - {ln - 1}), "
            f"i -> substr(word, i, {ln}))) AS piece",
            "cnt",
        )
        for ln in range(2, _ULM_PLEN + 1)
    ]
    cand = (
        subs[0].unionByName(subs[1]).unionByName(subs[2])
        .groupBy("piece")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    seed = cand.orderBy(F.col("cnt").desc(), "piece").limit(_ULM_SEED).collect()
    chars = (
        words.selectExpr(
            "explode(transform(sequence(1, length(word)), "
            "i -> substr(word, i, 1))) AS piece",
            "cnt",
        )
        .groupBy("piece")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
        .collect()
    )
    model = {r["piece"]: int(r["cnt"]) for r in chars}
    for r in seed:
        model[r["piece"]] = int(r["cnt"])

    for _ in range(_ULM_ROUNDS):
        total = sum(model.values())
        l_t = l2hi(total)
        cost = {p: l_t - l2hi(c) for p, c in model.items()}

        def _estep(batches, cost=cost):
            for pdf in batches:
                out_p, out_c = [], []
                for word, cnt in zip(pdf["word"], pdf["cnt"]):
                    for piece in _ulm_viterbi(word, cost):
                        out_p.append(piece)
                        out_c.append(int(cnt))
                yield pd.DataFrame({"piece": out_p, "cnt": out_c})

        ec = (
            words.mapInPandas(_estep, schema="piece string, cnt long")
            .groupBy("piece")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
            .collect()
        )
        counts = {r["piece"]: int(r["cnt"]) for r in ec}
        new_model = {}
        for p in model:
            if len(p) == 1:
                new_model[p] = max(counts.get(p, 0), 1)
            elif counts.get(p, 0) > 0:
                new_model[p] = counts[p]
        model = new_model
    return model


def _ulm_oracle_core() -> str:
    """Unrolled-CTE replay of the full trainer (cf. _bpe_oracle): seed
    candidates, then per round a cost table and a {_ULM_MAXLEN}-stage
    Viterbi DP carrying each word's segmentation as a list. Every CTE
    is MATERIALIZED — default inlining re-expands the DP chain
    exponentially (dp_12 inlines dp_11..dp_8, each inlining four
    more), which exhausts file handles re-scanning the parquet view."""
    parts = [
        f"""
WITH toks AS MATERIALIZED (
  SELECT lower(t) AS w FROM (
    SELECT unnest(string_split(text, ' ')) AS t FROM documents
  ) WHERE regexp_matches(t, '{_bpe_word_filter()}')
    AND length(t) <= {_ULM_MAXLEN}
), words AS MATERIALIZED (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY w
), cand AS MATERIALIZED (
  SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
    {" UNION ALL ".join(
        f"SELECT substr(word, i, {ln}) AS piece, cnt FROM words, "
        f"unnest(range(1, length(word) - {ln - 1} + 1)) AS t(i)"
        for ln in range(2, _ULM_PLEN + 1))}
  ) GROUP BY piece
), seed AS MATERIALIZED (
  SELECT piece, cnt FROM cand ORDER BY cnt DESC, piece LIMIT {_ULM_SEED}
), chars AS MATERIALIZED (
  SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
    SELECT substr(word, i, 1) AS piece, cnt FROM words,
    unnest(range(1, length(word) + 1)) AS t(i)
  ) GROUP BY piece
), v1 AS MATERIALIZED (
  SELECT piece, cnt FROM chars UNION ALL SELECT piece, cnt FROM seed
)"""
    ]
    for r in range(1, _ULM_ROUNDS + 1):
        parts.append(
            f""", vc{r} AS MATERIALIZED (
  SELECT piece, ({l2hi_sql("t.tt")} - {l2hi_sql("cnt")}) AS cost
  FROM v{r}, (SELECT sum(cnt) AS tt FROM v{r}) t
), dp{r}_0 AS MATERIALIZED (
  SELECT word, cnt, CAST(0 AS BIGINT) AS cost, 0 AS np,
         CAST([] AS VARCHAR[]) AS seg
  FROM words
)"""
        )
        for j in range(1, _ULM_MAXLEN + 1):
            cands = " UNION ALL ".join(
                f"""SELECT d.word, d.cnt, d.cost + v.cost AS cost, d.np + 1 AS np,
       list_append(d.seg, v.piece) AS seg, {ln} AS len
FROM dp{r}_{j - ln} d JOIN vc{r} v
  ON v.piece = substr(d.word, {j - ln + 1}, {ln})
WHERE length(d.word) >= {j}"""
                for ln in range(1, _ULM_PLEN + 1)
                if ln <= j
            )
            parts.append(
                f""", dp{r}_{j} AS MATERIALIZED (
  SELECT word, cnt, cost, np, seg FROM (
    SELECT *, row_number() OVER (
      PARTITION BY word ORDER BY cost, np, len DESC) AS rn
    FROM ({cands})
  ) WHERE rn = 1
)"""
            )
        fin = " UNION ALL ".join(
            f"SELECT word, cnt, seg FROM dp{r}_{j} WHERE length(word) = {j}"
            for j in range(1, _ULM_MAXLEN + 1)
        )
        parts.append(
            f""", fin{r} AS MATERIALIZED ({fin})
, ec{r} AS MATERIALIZED (
  SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
    SELECT unnest(seg) AS piece, cnt FROM fin{r}
  ) GROUP BY piece
), v{r + 1} AS MATERIALIZED (
  SELECT v.piece,
         CASE WHEN length(v.piece) = 1 THEN greatest(coalesce(e.cnt, 0), 1)
              ELSE e.cnt END AS cnt
  FROM v{r} v LEFT JOIN ec{r} e USING (piece)
  WHERE length(v.piece) = 1 OR coalesce(e.cnt, 0) > 0
)"""
        )
    return "".join(parts)


def _ulm_train_oracle() -> str:
    return (
        _ulm_oracle_core()
        + f"""
SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece) AS INT) AS rank,
       piece, cnt AS piece_count
FROM v{_ULM_ROUNDS + 1} WHERE length(piece) > 1
ORDER BY cnt DESC, piece LIMIT {_ULM_TOP}"""
    )


@register("q_text_unigram_train", oracle=_ulm_train_oracle())
def q_text_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) tokenizer training — the EM
    sibling of q_text_bpe_merges (Kudo, "Subword Regularization",
    ACL'18): seed a candidate vocabulary with every ≤4-char
    substring of the clean-word table (top 48 by corpus count
    + the full alphabet), then run 2 Viterbi hard-EM
    rounds — E-step segments every distinct word by minimum total
    -log2 p(piece) (exact int64 fixed-point, aggs.l2hi), M-step
    re-counts pieces from the chosen segmentations.
    Published: the final top-15 multi-char pieces.

    Determinism: costs are integers, the DP tie-break is total
    ((cost, n_pieces), then longest piece), and seed selection ties
    break on the piece string — so the oracle's unrolled-CTE replay
    (seed → per-round cost table → 12-stage list-carrying
    DP → re-count) reproduces training EXACTLY, like the BPE oracle.

    100 TB: every distributed pass is vocabulary-sized (distinct clean
    words); driver state is ≤ seed+alphabet counts; the corpus stream
    is read once. Viterbi is per-word sequential — the legitimate
    Arrow-batched Python case — and never sees corpus rows."""
    model = _ulm_train(spark, sf_dir)
    rows = sorted(
        ((p, c) for p, c in model.items() if len(p) > 1),
        key=lambda kv: (-kv[1], kv[0]),
    )[:_ULM_TOP]
    return local_frame(
        spark,
        [(i + 1, p, c) for i, (p, c) in enumerate(rows)],
        "rank int, piece string, piece_count long",
    )


def _ulm_encode_oracle() -> str:
    core = _ulm_oracle_core()
    r = _ULM_ROUNDS
    return (
        core
        + f""", vcf AS MATERIALIZED (
  SELECT piece, ({l2hi_sql("t.tt")} - {l2hi_sql("cnt")}) AS cost
  FROM v{r + 1}, (SELECT sum(cnt) AS tt FROM v{r + 1}) t
), dpf_0 AS MATERIALIZED (
  SELECT word, cnt, CAST(0 AS BIGINT) AS cost, 0 AS np,
         CAST([] AS VARCHAR[]) AS seg
  FROM words
)"""
        + "".join(
            f""", dpf_{j} AS MATERIALIZED (
  SELECT word, cnt, cost, np, seg FROM (
    SELECT *, row_number() OVER (
      PARTITION BY word ORDER BY cost, np, len DESC) AS rn
    FROM ({" UNION ALL ".join(
        f'''SELECT d.word, d.cnt, d.cost + v.cost AS cost, d.np + 1 AS np,
       list_append(d.seg, v.piece) AS seg, {ln} AS len
FROM dpf_{j - ln} d JOIN vcf v
  ON v.piece = substr(d.word, {j - ln + 1}, {ln})
WHERE length(d.word) >= {j}'''
        for ln in range(1, _ULM_PLEN + 1) if ln <= j)})
  ) WHERE rn = 1
)"""
            for j in range(1, _ULM_MAXLEN + 1)
        )
        + f""", finf AS MATERIALIZED ({" UNION ALL ".join(
            f"SELECT word, np FROM dpf_{j} WHERE length(word) = {j}"
            for j in range(1, _ULM_MAXLEN + 1))})
SELECT source,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(n_sub) AS BIGINT) AS n_subwords,
       floor(CAST(sum(n_sub) AS DOUBLE) / count(*) * 1000000 + 0.5)
         / 1000000 AS subwords_per_token
FROM (
  SELECT d.source,
         CASE WHEN regexp_matches(d.t, '{_bpe_word_filter()}')
                   AND length(d.t) <= {_ULM_MAXLEN}
              THEN f.np ELSE 1 END AS n_sub
  FROM (
    SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
  ) d LEFT JOIN finf f ON lower(d.t) = f.word
)
GROUP BY source"""
    )


@register("q_text_unigram_encode", oracle=_ulm_encode_oracle())
def q_text_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the just-trained unigram-LM model to the corpus and report
    per-source token statistics — the exact twin of q_text_bpe_encode's
    role for BPE, and a second independent cross-engine check that the
    TRAINED MODEL (not just its top pieces) matches: every distinct
    word's optimal piece count under the final model must agree.

    Scale shape (same as BPE encode): segmentation runs once per
    DISTINCT word (vocabulary-sized mapInPandas), the corpus-sized
    token stream broadcast-joins to (word → n_pieces); untrained
    tokens pass through as single pieces, decided by the same filter
    in both engines before the join."""
    import pandas as pd

    model = _ulm_train(spark, sf_dir)
    total = sum(model.values())
    l_t = l2hi(total)
    cost = {p: l_t - l2hi(c) for p, c in model.items()}

    def _seg_count(batches, cost=cost):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "np": [
                        len(_ulm_viterbi(w, cost)) for w in pdf["word"]
                    ],
                }
            )

    wc = _ulm_words(spark, sf_dir).mapInPandas(
        _seg_count, schema="word string, np int"
    )
    stoks = table(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("t")
    )
    enc = stoks.join(
        F.broadcast(wc), F.lower(F.col("t")) == F.col("word"), "left"
    ).select(
        "source",
        F.coalesce(
            F.when(
                F.col("t").rlike(_bpe_word_filter())
                & (F.length("t") <= _ULM_MAXLEN),
                F.col("np"),
            ),
            F.lit(1),
        ).alias("n_sub"),
    )
    return enc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("n_sub").cast("long").alias("n_subwords"),
        stable_round(
            F.sum("n_sub").cast("double") / F.count(F.lit(1)), 6
        ).alias("subwords_per_token"),
    )


# ---------------------------------------------------------------------------
# source-pair vocabulary overlap (exact Jaccard matrix)
# ---------------------------------------------------------------------------

_OVERLAP_ORACLE = """
WITH st AS (
  SELECT DISTINCT source, t.t AS tok
  FROM documents, unnest(string_split(text, ' ')) AS t(t)
), sizes AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_vocab FROM st GROUP BY source
), inter AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(count(*) AS BIGINT) AS n_common
  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT src_a, src_b, n_common,
       sa.n_vocab AS vocab_a, sb.n_vocab AS vocab_b,
       floor(CAST(n_common AS DOUBLE)
             / (sa.n_vocab + sb.n_vocab - n_common) * 1000000 + 0.5)
         / 1000000 AS jaccard
FROM inter
JOIN sizes sa ON sa.source = src_a
JOIN sizes sb ON sb.source = src_b
"""


@register("q_text_source_overlap", oracle=_OVERLAP_ORACLE)
def q_text_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between SOURCES — the corpus-level
    dedup signal (two feeds scraping the same sites share vocabulary
    long before they share exact documents) and the redundancy input
    to mixture design.

    Scale shape — the reason this is safe at 100 TB: the self-join
    runs on the DISTINCT (source, token) table, and a token's bucket
    is bounded by the number of SOURCES carrying it (≤ |sources|,
    here 20), not by its corpus frequency — so join work is
    O(|vocab| · |sources|²) worst case and typically far less, never
    O(corpus²). Distinct-ing first also means the hot shuffle carries
    each (source, token) once. Counts are exact integers; the single
    Jaccard division runs on identical operands in both engines.
    """
    d = table(spark, sf_dir, "documents")
    st = d.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).distinct()
    sizes = st.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_vocab")
    )
    a = st.select(F.col("source").alias("src_a"), "tok")
    b = st.select(F.col("source").alias("src_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    sa = sizes.select(
        F.col("source").alias("src_a"), F.col("n_vocab").alias("vocab_a")
    )
    sb = sizes.select(
        F.col("source").alias("src_b"), F.col("n_vocab").alias("vocab_b")
    )
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            "vocab_a",
            "vocab_b",
            stable_round(
                F.col("n_common").cast("double")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Arrow-optimized Python UDF (useArrow=True — the middle rung of the
# Python UDF ladder: row semantics, Arrow-batched transport)
# ---------------------------------------------------------------------------

_ARROWUDF_ORACLE = """
SELECT doc_id,
       CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS BIGINT)
         AS n_consonant_chars,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents WHERE doc_id % 25 = 0
"""


@register("q_udf_arrow", oracle=_ARROWUDF_ORACLE)
def q_udf_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized scalar Python UDF (`@udf(..., useArrow=True)`,
    SPARK-40307) — completes the Python-UDF ladder this repo covers:
    row-wise pickled UDF (q_udf_rowwise, the anti-pattern) → THIS
    (row-call semantics, Arrow-batched transport: one serialization
    round per batch instead of per row) → pandas_udf vectorized →
    mapInPandas / applyInPandas / GROUPED_AGG / UDTF.

    Still a deliberately tiny slice: the function body executes per
    ROW in Python, so even Arrow transport leaves ~10× on the table
    vs a vectorized pandas_udf, and ~100× vs the built-in regexp the
    oracle uses — the ladder exists in the repo precisely to make
    that routing decision legible.
    """
    from pyspark.sql import types as T

    @F.udf(T.LongType(), useArrow=True)
    def consonant_chars(s: str) -> int:
        if s is None:
            return None
        return sum(1 for ch in s if ch not in "aeiou")

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    return d.select(
        "doc_id",
        consonant_chars(F.col("text")).alias("n_consonant_chars"),
        F.length("text").cast("long").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# classifier evaluation: language-ID confusion matrix + per-class PRF
# ---------------------------------------------------------------------------


def _langid_confusion_oracle() -> str:
    lex = ", ".join(f"('{lang}', '{w}')" for lang, w in _LANG_LEXICON)
    return f"""
WITH lex(lex_lang, word) AS (
  VALUES {lex}
), tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), hits AS (
  SELECT doc_id, lex_lang, count(*) AS n_hits
  FROM tok JOIN lex USING (word)
  GROUP BY doc_id, lex_lang
), ranked AS (
  SELECT doc_id, lex_lang,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY n_hits DESC, lex_lang) AS rn
  FROM hits
), pred AS (
  SELECT d.doc_id, d.lang AS labeled,
         coalesce(r.lex_lang, 'unknown') AS predicted
  FROM documents d LEFT JOIN ranked r ON d.doc_id = r.doc_id AND r.rn = 1
), cm AS (
  SELECT labeled, predicted, CAST(count(*) AS BIGINT) AS n
  FROM pred GROUP BY labeled, predicted
)
SELECT labeled, predicted, n,
       floor(CAST(n AS DOUBLE) /
             sum(n) OVER (PARTITION BY labeled) * 1000000 + 0.5) / 1000000
         AS recall_share,
       floor(CAST(n AS DOUBLE) /
             sum(n) OVER (PARTITION BY predicted) * 1000000 + 0.5) / 1000000
         AS precision_share
FROM cm
"""


@register("q_text_langid_confusion", oracle=_langid_confusion_oracle())
def q_text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier EVALUATION in-engine: the labeled-vs-predicted
    confusion matrix for the marker-word language identifier, with
    each cell's share of its true-label row (recall direction) and
    predicted column (precision direction) — the quality-monitoring
    twin of q_ann_recall: the pipeline measures its own heuristics
    instead of shipping them on faith, and a drifting upstream corpus
    shows up as matrix mass moving off the diagonal.

    Everything reuses the production prediction path (same lexicon
    broadcast join + argmax), then aggregates to a |langs|² matrix;
    the share divisions run on exact counts over the tiny matrix.
    """
    d = table(spark, sf_dir, "documents")
    lex = F.broadcast(
        local_frame(
            spark, _LANG_LEXICON, "lex_lang string, word string"
        )
    )
    tok = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    hits = tok.join(lex, "word").groupBy("doc_id", "lex_lang").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    w = W.partitionBy("doc_id").orderBy(
        F.col("n_hits").desc(), F.col("lex_lang")
    )
    best = hits.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    pred = (
        d.select("doc_id", F.col("lang").alias("labeled"))
        .join(best, "doc_id", "left")
        .select(
            "labeled",
            F.coalesce("lex_lang", F.lit("unknown")).alias("predicted"),
        )
    )
    cm = pred.groupBy("labeled", "predicted").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return cm.select(
        "labeled",
        "predicted",
        "n",
        stable_round(
            F.col("n").cast("double")
            / F.sum("n").over(W.partitionBy("labeled")),
            6,
        ).alias("recall_share"),
        stable_round(
            F.col("n").cast("double")
            / F.sum("n").over(W.partitionBy("predicted")),
            6,
        ).alias("precision_share"),
    )


# ---------------------------------------------------------------------------
# Zipf-law audit: log-log rank-frequency slope in fixed-point integers
# ---------------------------------------------------------------------------

_ZIPF_TOP = 64  # fit over the head of the distribution


def _zipf_oracle() -> str:
    lx = l2fp("rk").replace("{div}", "//")
    ly = l2fp("freq").replace("{div}", "//")
    return f"""
WITH tf AS (
  SELECT t.t AS tok, CAST(count(*) AS BIGINT) AS freq
  FROM documents, unnest(string_split(text, ' ')) AS t(t)
  GROUP BY t.t
), ranked AS (
  SELECT tok, freq,
         row_number() OVER (ORDER BY freq DESC, tok) AS rk
  FROM tf
), pts AS (
  SELECT CAST({lx} AS BIGINT) AS x, CAST({ly} AS BIGINT) AS y
  FROM ranked WHERE rk <= {_ZIPF_TOP}
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM pts
)
SELECT n AS n_points,
       floor((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
             * 1000000 + 0.5) / 1000000 AS zipf_slope,
       floor((CAST(sy AS DOUBLE)
              - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * sx) / (16.0 * n) * 1000000 + 0.5) / 1000000
         AS intercept_log2
FROM m
"""


@register("q_text_zipf", oracle=_zipf_oracle())
def q_text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law audit: the OLS slope of log2(frequency) against
    log2(rank) over the head of the token distribution — natural text
    sits near −1; template spam, deduplication failures, and
    synthetic filler push it far off, which makes the slope a cheap
    single-number corpus-health monitor per crawl snapshot.

    Both logs are the fixed-point integer log2 (the DSIR/KL recipe:
    bit-length + interpolated mantissa), so the fitted points are
    exact integers, the OLS moments are exact sums, and the two final
    divisions run on identical operands — the regression itself is the
    q_agg_regression shape applied to a derived log-log space.
    One token pass (combinable counts), a 64-row head via ranked
    window over the aggregated frequency table, then literal
    arithmetic.
    """
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    # global top-k FIRST via orderBy+limit (TakeOrderedAndProject:
    # per-partition top-N + merge) — ranking the whole vocabulary in an
    # unpartitioned window would drag every distinct token to one task
    # at web scale; the rank window then sees only the {TOP} survivors,
    # so its single-partition execution (WindowExec's warning) is
    # bounded by k at any corpus size
    top = tf.orderBy(F.col("freq").desc(), "tok").limit(_ZIPF_TOP)
    ranked = top.withColumn(
        "rk",
        F.row_number().over(W.orderBy(F.col("freq").desc(), "tok")),
    )
    pts = ranked.select(
        F.expr(l2fp("rk").replace("{div}", "div")).cast("long").alias("x"),
        F.expr(l2fp("freq").replace("{div}", "div")).cast("long").alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / (16.0 * n)
    return m.select(
        F.col("n").alias("n_points"),
        stable_round(slope, 6).alias("zipf_slope"),
        stable_round(intercept, 6).alias("intercept_log2"),
    )


# ---------------------------------------------------------------------------
# character-entropy quality signal (fixed-point, cross-engine exact)
# ---------------------------------------------------------------------------

def _ent_expr(div: str) -> str:
    """Entropy in 1/16-bit units from per-char counts:
    H*16 = L(N) - (Σ n_c·L(n_c)) div N, all-integer."""
    return f"({l2fp('n_total')} - s_nl {{div}} n_total)".replace(
        "{div}", div
    )


_ENT_L_NC_DUCK = l2fp("n_c").replace("{div}", "//")

_ENTROPY_ORACLE = f"""
WITH ch AS (
  SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
), hist AS (
  SELECT doc_id, c, CAST(count(*) AS BIGINT) AS n_c
  FROM ch GROUP BY doc_id, c
), doc AS (
  SELECT doc_id,
         CAST(sum(n_c) AS BIGINT) AS n_total,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(sum(n_c * {_ENT_L_NC_DUCK}) AS BIGINT) AS s_nl
  FROM hist GROUP BY doc_id
)
SELECT doc_id, n_total, n_distinct,
       CAST({_ent_expr('//')} AS BIGINT) AS entropy_x16,
       floor(CAST({_ent_expr('//')} AS DOUBLE) / 16.0 * 10000 + 0.5)
         / 10000 AS entropy_bits
FROM doc
"""


@register("q_text_char_entropy", oracle=_ENTROPY_ORACLE)
def q_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy — the classic
    cheap gibberish/low-quality detector (runs of one character or
    base64 blobs sit far from natural text's ~4 bits/char; used
    alongside length/stopword signals in C4/Gopher-style filters).

    H = log2 N - (Σ n_c·log2 n_c)/N over the per-char counts, computed
    entirely in the engine's fixed-point integer log2 (16ths of a bit,
    worst case ~0.149 bit) so partial-aggregation order and engine
    float libraries can't move the answer: counts are exact integers,
    every log2 is an integer expression, and the one division is
    integer division by N — bit-identical in Spark and DuckDB.

    Scale shape: explode to (doc, char) pairs → combinable two-level
    hash aggregate (per-doc-char counts, then per-doc). The first
    groupBy's map-side combine collapses each task's pairs to at most
    |alphabet| rows per doc before any shuffle, so shuffle bytes are
    ∝ docs·alphabet, not corpus bytes."""
    d = spread(table(spark, sf_dir, "documents").select("doc_id", "text"))
    ch = d.select("doc_id", F.explode(F.split(F.col("text"), "")).alias("c"))
    hist = ch.groupBy("doc_id", "c").agg(
        F.count(F.lit(1)).cast("long").alias("n_c")
    )
    l_nc = F.expr(l2fp("n_c").replace("{div}", " div "))
    doc = hist.groupBy("doc_id").agg(
        F.sum("n_c").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.col("n_c") * l_nc).cast("long").alias("s_nl"),
    )
    ent = F.expr(_ent_expr(" div "))
    return doc.select(
        "doc_id",
        "n_total",
        "n_distinct",
        ent.cast("long").alias("entropy_x16"),
        stable_round(ent.cast("double") / 16.0, 4).alias("entropy_bits"),
    )


# ---------------------------------------------------------------------------
# collocation mining: PMI-scored adjacent bigrams (fixed-point log2)
# ---------------------------------------------------------------------------

_COLL_MIN_PAIR = 5
_COLL_TOP = 25


def _coll_oracle() -> str:
    pmi = (
        f"({l2fp('cab')} + {l2fp('n')} - {l2fp('ca')} - {l2fp('cb')})"
    ).replace("{div}", "//")
    return f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
), uni AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY w
), tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n FROM uni
), pairs AS (
  SELECT string_split(text, ' ')[i] AS w1, string_split(text, ' ')[i+1] AS w2
  FROM documents, unnest(range(1, len(string_split(text, ' ')))) AS r(i)
), pc AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cab
  FROM pairs GROUP BY w1, w2
  HAVING count(*) >= {_COLL_MIN_PAIR}
), scored AS (
  SELECT w1 || ' ' || w2 AS bigram, cab,
         ua.c AS ca, ub.c AS cb,
         CAST({pmi} AS BIGINT) AS pmi_fp
  FROM pc JOIN uni ua ON pc.w1 = ua.w
          JOIN uni ub ON pc.w2 = ub.w, tot
)
SELECT bigram, cab AS pair_count, ca AS cnt_a, cb AS cnt_b, pmi_fp
FROM scored
ORDER BY pmi_fp DESC, bigram
LIMIT {_COLL_TOP}
"""


@register("q_text_collocations", oracle=_coll_oracle())
def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: the corpus's top-25 adjacent word pairs by
    pointwise mutual information — the classic "new york"/"machine
    learning" phrase detector (Church & Hanks 1990), and the statistic
    behind phrase-vocabulary induction for tokenizers.

    PMI = log2(P(ab) / (P(a)P(b))) is scored as the same 4-fractional-
    bit integer log2 used by DSIR/KL/Zipf (aggs.l2fp): pmi_fp =
    L(cab) + L(N) - L(ca) - L(cb). Pure integer in both engines — a
    float log would make the top-k boundary engine-dependent.

    Shape: one vocab-sized unigram agg, one bigram-vocab-sized pair agg
    (both map-side combinable), two equi-joins of the support-pruned
    pair table against unigram counts, then TakeOrdered for the global
    top-k — no corpus-sized window anywhere.
    """
    d = table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    toks = d.select(F.explode(words).alias("w"))
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = uni.agg(F.sum("c").cast("long").alias("n"))
    pair_structs = F.transform(
        F.sequence(F.lit(1), F.size(words) - 1),
        lambda i: F.struct(
            F.element_at(words, i).alias("w1"),
            F.element_at(words, i + 1).alias("w2"),
        ),
    )
    pc = (
        d.filter(F.size(words) >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("cab"))
        .filter(F.col("cab") >= _COLL_MIN_PAIR)
    )
    ua = uni.select(F.col("w").alias("w1"), F.col("c").alias("ca"))
    ub = uni.select(F.col("w").alias("w2"), F.col("c").alias("cb"))
    pmi = (
        f"({l2fp('cab')} + {l2fp('n')} - {l2fp('ca')} - {l2fp('cb')})"
    ).replace("{div}", "div")
    scored = (
        pc.join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            F.col("cab").alias("pair_count"),
            F.col("ca").alias("cnt_a"),
            F.col("cb").alias("cnt_b"),
            F.expr(pmi).cast("long").alias("pmi_fp"),
        )
    )
    return scored.orderBy(
        F.col("pmi_fp").desc(), F.col("bigram")
    ).limit(_COLL_TOP)


# ---------------------------------------------------------------------------
# BM25 keyword search: the retrieval scorer behind every lexical search
# and retrieval-augmented data-curation pass
# ---------------------------------------------------------------------------

_BM25_TERMS = ("hash", "join", "merge")
_BM25_TOP = 10

# shared CTE chain (tokenize -> tf/df -> per-(doc,term) micro score ->
# per-doc sum); the lexical top-10 below and the RRF hybrid oracle in
# operators/similarity.py both build on `bm25` defined here
BM25_SCORED_SQL = """d AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), dl AS (
  SELECT doc_id, len(ws) AS dl FROM d
), corpus AS (
  SELECT count(*) AS n_docs, sum(dl) AS n_tokens FROM dl
), tok AS (
  SELECT doc_id, unnest(ws) AS word FROM d
), tf AS (
  SELECT doc_id, word, count(*) AS tf FROM tok
  WHERE word IN ('hash', 'join', 'merge') GROUP BY doc_id, word
), df AS (
  SELECT word, count(*) AS df FROM tf GROUP BY word
), scored AS (
  SELECT tf.doc_id,
         CAST(floor(
           (ln((CAST(corpus.n_docs AS DOUBLE) - df.df + 0.5)
               / (df.df + 0.5) + 1.0)
            * (CAST(tf.tf AS DOUBLE) * 2.2))
           / (CAST(tf.tf AS DOUBLE) + 0.3
              + 0.9 * ((CAST(dl.dl AS DOUBLE) * corpus.n_docs)
                       / corpus.n_tokens))
           * 1000000 + 0.5) AS BIGINT) AS term_micro
  FROM tf
  JOIN df USING (word)
  JOIN dl USING (doc_id)
  CROSS JOIN corpus
), bm25 AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_terms_hit,
         CAST(sum(term_micro) AS BIGINT) AS bm25_micro
  FROM scored
  GROUP BY doc_id
)"""

_BM25_ORACLE = f"""
WITH {BM25_SCORED_SQL}
SELECT doc_id, n_terms_hit, bm25_micro
FROM bm25
ORDER BY bm25_micro DESC, doc_id
LIMIT 10
"""


@register("q_text_bm25_search", oracle=_BM25_ORACLE)
def q_text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 retrieval for a fixed keyword query — the
    lexical-search scorer (Robertson/Sparck-Jones; Lucene's default)
    every retrieval-augmented curation pass starts from.

    Scale shape: the term filter lands BEFORE the tf groupBy, so the
    only corpus-sized work is the tokenize scan — tf/df/scoring run on
    query-matching postings only (|terms| × matching docs). Corpus
    stats (N, total tokens) and the |terms|-row df table broadcast.
    The final top-10 is orderBy+limit → TakeOrderedAndProject: per-
    partition heaps, no global sort, no single-partition window.

    Cross-engine float discipline: k1=1.2 / b=0.75 folded to literal
    constants; per-(doc,term) score is one fixed parse tree of
    correctly-rounded IEEE ops (ln, *, /) evaluated identically in
    both engines, quantized to BIGINT micro-units via the tie-free
    floor(x*1e6 + 0.5) stabilizer; the per-doc sum is then exact
    integer arithmetic — associative, merge-order-free."""
    return (
        bm25_scores(spark, sf_dir)
        .orderBy(F.col("bm25_micro").desc(), "doc_id")
        .limit(_BM25_TOP)
    )


def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unranked BM25 scores (doc_id, n_terms_hit, bm25_micro) for the
    fixed keyword query — shared by the lexical top-10 above and the
    RRF hybrid fusion in operators/similarity.py."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("ws")
    )
    dl = d.select("doc_id", F.size("ws").alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("n_tokens")
    )
    tf = (
        d.select("doc_id", F.explode("ws").alias("word"))
        .filter(F.col("word").isin(*_BM25_TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("df") + 0.5)
        / (F.col("df") + 0.5)
        + 1.0
    )
    denom = (
        F.col("tf").cast("double")
        + 0.3
        + 0.9
        * ((F.col("dl").cast("double") * F.col("n_docs")) / F.col("n_tokens"))
    )
    scored = (
        tf.join(F.broadcast(df), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            F.floor(
                (idf * (F.col("tf").cast("double") * 2.2)) / denom * 1000000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("term_micro"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        F.sum("term_micro").cast("long").alias("bm25_micro"),
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction: stopword-delimited candidate phrases scored
# by word degree/frequency — the classic unsupervised keyword extractor
# ---------------------------------------------------------------------------

_RAKE_STOPS = ("a", "the")
_RAKE_TOP = 15

_RAKE_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, i, w,
         CASE WHEN w IN {_RAKE_STOPS!r} THEN 1 ELSE 0 END AS is_stop
  FROM (
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS w,
           generate_subscripts(string_split(text, ' '), 1) AS i
    FROM documents
  )
), marked AS (
  SELECT doc_id, i, w, pid FROM (
    SELECT doc_id, i, w, is_stop,
           sum(is_stop) OVER (PARTITION BY doc_id ORDER BY i) AS pid
    FROM tok
  ) WHERE is_stop = 0
), phrases AS (
  SELECT doc_id, pid,
         string_agg(w, ' ' ORDER BY i) AS phrase,
         CAST(count(*) AS BIGINT) AS len
  FROM marked GROUP BY doc_id, pid
), occur AS (
  SELECT m.doc_id, m.pid, m.w, p.len
  FROM marked m JOIN phrases p
    ON p.doc_id = m.doc_id AND p.pid = m.pid
), wscore AS (
  SELECT w,
         (CAST(sum(len) AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT)
           AS score_micro
  FROM occur GROUP BY w
), pscore AS (
  SELECT o.doc_id, o.pid,
         CAST(sum(ws.score_micro) AS BIGINT) AS score_micro
  FROM occur o JOIN wscore ws ON ws.w = o.w
  GROUP BY o.doc_id, o.pid
)
SELECT p.phrase,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(max(s.score_micro) AS BIGINT) AS score_micro
FROM phrases p
JOIN pscore s ON s.doc_id = p.doc_id AND s.pid = p.pid
GROUP BY p.phrase
ORDER BY score_micro DESC, phrase
LIMIT {_RAKE_TOP}
"""


@register("q_text_rake_keywords", oracle=_RAKE_ORACLE)
def q_text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs; each word scores
    deg(w)/freq(w) (degree = summed length of the phrases its
    occurrences sit in), and a phrase scores the sum of its words'
    scores — the classic unsupervised keyword extractor every corpus
    exploration pass reaches for before anything model-based.

    Determinism: word scores are integer micro-units (deg * 1e6 div
    freq — integer division in both engines); phrase scores are exact
    integer sums; the top-15 order (score desc, phrase) is
    total. Identical phrases always contain identical words, so max()
    over their per-occurrence scores is exact, not a tie-break.

    Scale shape: phrase segmentation is a per-DOCUMENT running sum
    (window partitioned by doc_id — never corpus-global); word scores
    are one combinable aggregate over the vocabulary; the phrase-score
    join broadcasts the vocabulary-sized score table; the final top-k
    is TakeOrderedAndProject."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("ws")
    )
    tok = d.select(
        "doc_id", F.posexplode("ws").alias("i", "w")
    ).withColumn("is_stop", F.col("w").isin(*_RAKE_STOPS).cast("int"))
    from pyspark.sql import Window as W

    pid = F.sum("is_stop").over(
        W.partitionBy("doc_id").orderBy("i")  # per-document: bounded
    )
    marked = (
        tok.withColumn("pid", pid)
        .filter(F.col("is_stop") == 0)
        .select("doc_id", "pid", "i", "w")
    )
    phrases = marked.groupBy("doc_id", "pid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "w"))),
                lambda x: x["w"],
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).cast("long").alias("len"),
    )
    # everything downstream runs on DISTINCT phrases with an occurrence
    # count — identical phrases always contain identical words, so deg/
    # freq contributions factor as n_occurrences x (per-phrase words),
    # and NO join back to the corpus-sized token table is needed (the
    # first cut joined marked x phrases on (doc_id, pid) twice; this
    # factoring measured 31.4 s -> lower at sf10 and removes both
    # corpus-sized shuffle joins — the fuzzy-join multiplicity lesson)
    dph = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.max("len").cast("long").alias("len"),
    )
    occur = dph.select(
        "phrase",
        "n_occurrences",
        "len",
        F.explode(F.split(F.col("phrase"), " ")).alias("w"),
    )
    wscore = occur.groupBy("w").agg(
        F.expr(
            "(sum(len * n_occurrences) * 1000000) div sum(n_occurrences)"
        )
        .cast("long")
        .alias("score_micro")
    )
    pscore = (
        occur.join(F.broadcast(wscore), "w")
        .groupBy("phrase", "n_occurrences")
        .agg(F.sum("score_micro").cast("long").alias("score_micro"))
    )
    return (
        pscore.select("phrase", "n_occurrences", "score_micro")
        .orderBy(F.col("score_micro").desc(), "phrase")
        .limit(_RAKE_TOP)
    )


# ---------------------------------------------------------------------------
# TextRank keywords: integer PageRank over the word co-occurrence graph
# ---------------------------------------------------------------------------

_TR_ITERS = 3
_TR_R0 = 1_000_000_000
_TR_TELEPORT = 150_000_000  # (1-0.85) * R0
_TR_TOP = 10

_TR_EDGES_SQL = f"""
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS wt FROM (
    SELECT CASE WHEN a < b THEN a ELSE b END AS w1,
           CASE WHEN a < b THEN b ELSE a END AS w2
    FROM (
      SELECT bg['a'] AS a, bg['b'] AS b FROM (
        SELECT unnest(list_transform(range(1, len(ws)),
                      i -> {{'a': ws[i], 'b': ws[i + 1]}})) AS bg
        FROM (SELECT string_split(text, ' ') AS ws FROM documents)
      )
    )
    WHERE a NOT IN {_RAKE_STOPS!r} AND b NOT IN {_RAKE_STOPS!r}
      AND a <> b
  ) GROUP BY w1, w2
"""


def _textrank_oracle() -> str:
    parts = [
        f"""
WITH e0 AS ({_TR_EDGES_SQL}
), edges AS (
  SELECT w1 AS src, w2 AS dst, wt FROM e0
  UNION ALL SELECT w2, w1, wt FROM e0
), wdeg AS (
  SELECT src, CAST(sum(wt) AS BIGINT) AS wd FROM edges GROUP BY src
), r0 AS (
  SELECT src AS node, CAST({_TR_R0} AS BIGINT) AS rank FROM wdeg
)"""
    ]
    prev = "r0"
    for i in range(1, _TR_ITERS + 1):
        parts.append(
            f""", c{i} AS (
  SELECT e.dst AS node, CAST(sum((r.rank * e.wt) // d.wd) AS BIGINT)
           AS contrib
  FROM edges e
  JOIN {prev} r ON r.node = e.src
  JOIN wdeg d ON d.src = e.src
  GROUP BY e.dst
), r{i} AS (
  SELECT node,
         CAST({_TR_TELEPORT} + (85 * contrib) // 100 AS BIGINT) AS rank
  FROM c{i}
)"""
        )
        prev = f"r{i}"
    parts.append(
        f"""
SELECT node AS word, rank AS rank_q
FROM {prev}
ORDER BY rank DESC, node
LIMIT {_TR_TOP}"""
    )
    return "".join(parts)


@register("q_text_textrank", oracle=_textrank_oracle())
def q_text_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keywords (Mihalcea & Tarau 2004): PageRank over the
    word co-occurrence graph (adjacent non-stopword pairs, edge weight
    = corpus co-occurrence count) — the graph-based complement to
    RAKE's frequency scoring above, and a direct composition of this
    engine's integer-PageRank machinery (operators/graph.py) with its
    text surface.

    Weighted integer PageRank: per-edge contribution is
    (rank * weight) div weighted_degree — exact int64 (rank ≤ R0=1e9,
    weight/wdeg ratios ≤ 1), damping is the integer (85·x) div 100,
    so the DuckDB oracle replays all 3 unrolled rounds
    bit-for-bit, exactly like q_graph_pagerank.

    Scale shape: the co-occurrence build is one corpus scan + one
    vocabulary²-bounded aggregate; iteration state is VOCABULARY-sized
    (node ranks), each round one join + combinable aggregate. At any
    corpus size the iteration cost is bounded by the word-pair
    vocabulary, not the corpus."""
    d = table(spark, sf_dir, "documents").select(
        F.split(F.col("text"), " ").alias("ws")
    )
    pairs = d.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1), "
                "i -> struct(element_at(ws, i) AS a, "
                "element_at(ws, i + 1) AS b))"
            )
        ).alias("p")
    ).select("p.a", "p.b")
    pairs = pairs.filter(
        (~F.col("a").isin(*_RAKE_STOPS))
        & (~F.col("b").isin(*_RAKE_STOPS))
        & (F.col("a") != F.col("b"))
    ).select(
        F.least("a", "b").alias("w1"), F.greatest("a", "b").alias("w2")
    )
    e0 = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("wt")
    )
    from end_to_end_aws_data_pipeline_spark.cache import persisted

    edges = persisted(
        e0.select(
            F.col("w1").alias("src"), F.col("w2").alias("dst"), "wt"
        ).unionAll(
            e0.select(
                F.col("w2").alias("src"), F.col("w1").alias("dst"), "wt"
            )
        )
    )
    wdeg = edges.groupBy("src").agg(F.sum("wt").cast("long").alias("wd"))
    edges_d = persisted(edges.join(wdeg, "src").select("src", "dst", "wt", "wd"))
    ranks = wdeg.select(
        F.col("src").alias("node"), F.lit(_TR_R0).cast("long").alias("rank")
    )
    for _ in range(_TR_ITERS):
        contrib = (
            edges_d.join(ranks, edges_d["src"] == ranks["node"])
            .select("dst", F.expr("(rank * wt) div wd").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").cast("long").alias("contrib"))
        )
        ranks = persisted(
            contrib.select(
                F.col("dst").alias("node"),
                (F.lit(_TR_TELEPORT) + F.expr("(85 * contrib) div 100"))
                .cast("long")
                .alias("rank"),
            )
        )
    return (
        ranks.select(F.col("node").alias("word"), F.col("rank").alias("rank_q"))
        .orderBy(F.col("rank_q").desc(), "word")
        .limit(_TR_TOP)
    )


# ---------------------------------------------------------------------------
# lexical diversity: Yule's K from the frequency spectrum
# ---------------------------------------------------------------------------

_YULE_ORACLE = """
WITH tf AS MATERIALIZED (
  SELECT source, lower(t) AS w, CAST(count(*) AS BIGINT) AS m
  FROM (
    SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
  ) WHERE regexp_matches(t, '^[A-Za-z]{2,}$')
  GROUP BY source, lower(t)
), spec AS (
  SELECT source, m, CAST(count(*) AS BIGINT) AS v_m
  FROM tf GROUP BY source, m
)
SELECT source,
       CAST(sum(m * v_m) AS BIGINT) AS n_tokens,
       CAST(sum(v_m) AS BIGINT) AS n_types,
       CAST(sum(m * m * v_m) - sum(m * v_m) AS BIGINT) AS k_num,
       floor(10000.0 * (sum(m * m * v_m) - sum(m * v_m))
             / (CAST(sum(m * v_m) AS DOUBLE) * sum(m * v_m))
             * 1000000 + 0.5) / 1000000 AS yule_k
FROM spec GROUP BY source
"""


@register("q_text_yule_k", oracle=_YULE_ORACLE)
def q_text_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's K lexical-diversity characteristic per source —
    K = 10⁴·(Σ m²·V_m − N)/N² over the word frequency SPECTRUM (V_m =
    types occurring m times, N = tokens). Unlike type/token ratio, K
    is length-insensitive, which is why stylometry and corpus-quality
    monitors use it: a source whose K jumps grew repetitive
    (template/boilerplate injection), one whose K collapses went
    random. Completes the diversity suite next to Zipf slope (head
    shape) and char entropy (symbol level).

    Shape: token pass → (source, word) counts → frequency-of-
    frequencies (vocabulary-sized, then SPECTRUM-sized: one row per
    distinct count m) → one exact-integer aggregate; the numerator is pure int64
    and the single division publishes via the stabilizer."""
    from end_to_end_aws_data_pipeline_spark.functions.aggs import stable_round

    tf = (
        table(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("t"))
        .filter(F.col("t").rlike(_bpe_word_filter()))
        .groupBy("source", F.lower("t").alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
    )
    spec = tf.groupBy("source", "m").agg(
        F.count(F.lit(1)).cast("long").alias("v_m")
    )
    n = F.sum(F.col("m") * F.col("v_m"))
    num = F.sum(F.col("m") * F.col("m") * F.col("v_m")) - n
    return spec.groupBy("source").agg(
        n.cast("long").alias("n_tokens"),
        F.sum("v_m").cast("long").alias("n_types"),
        num.cast("long").alias("k_num"),
        stable_round(
            10000.0 * num / (n.cast("double") * n), 6
        ).alias("yule_k"),
    )
