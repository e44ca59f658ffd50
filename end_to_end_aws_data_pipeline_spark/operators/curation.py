"""Training-data curation operators: deterministic splits, corpus
mixing, contamination checks, PII redaction, repetition filters, and
token-budget packing.

These are the steps between "raw corpus" and "training shards" that the
dedup/similarity/text modules don't cover. Everything is expression-only
(no UDFs) and keyed on *deterministic arithmetic hashes* rather than
engine RNG, so results are reproducible across engines, retries, and
cluster sizes — the property that matters when a split assignment must
never change under re-runs (val-set leakage). Each query has an exact
DuckDB oracle.

Scale notes: every op here is a narrow projection + one hash-partition
aggregate, no self-joins except contamination (an inverted-index
semi-join, output-bound like dedup). Packing is stratified — each of
``_PACK_STRATA`` strata packs independently with a per-stratum window,
so the sequential cumsum never concentrates on one partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.catalog import table
from end_to_end_aws_data_pipeline_spark.functions.aggs import l2fp, stable_round
from end_to_end_aws_data_pipeline_spark.registry import register

# Knuth multiplicative hash: maps a BIGINT key to a pseudo-uniform
# bucket in [0, 1000). Pure integer arithmetic → bit-identical in any
# engine, unlike rand(seed) which is engine-specific.
_KNUTH = 2654435761
# Reduce the key into [0, 2^31-1) BEFORE the multiply: (2^31-2)*_KNUTH
# ≈ 5.7e18 fits int64, whereas a raw key above ~3.47e9 would overflow —
# Spark wraps silently while DuckDB raises, breaking the bit-identical
# cross-engine guarantee exactly where it matters (huge key spaces).
_KEY_MOD = 2147483647


def hash_bucket(key):
    """Deterministic pseudo-uniform bucket in [0, 1000) for a
    non-negative integral key column (pure arithmetic, engine-neutral,
    overflow-free for the full BIGINT key range)."""
    reduced = F.pmod(F.col(key).cast("long"), F.lit(_KEY_MOD))
    return F.pmod(reduced * F.lit(_KNUTH), F.lit(1000))


def _bucket_sql(key: str) -> str:
    # CAST the modulus to BIGINT: DuckDB types the bare literal INT32
    # and would overflow on the `+ _KEY_MOD` pmod step
    m = f"CAST({_KEY_MOD} AS BIGINT)"
    reduced = f"(({key} % {m} + {m}) % {m})"
    return f"(({reduced} * {_KNUTH}) % 1000 + 1000) % 1000"


# ---------------------------------------------------------------------------
# deterministic train/val/test split
# ---------------------------------------------------------------------------

_SPLIT_BOUNDS = (("train", 0, 800), ("val", 800, 900), ("test", 900, 1000))


def assign_split(df: DataFrame, key: str) -> DataFrame:
    """Add a ``split`` column (train/val/test 80/10/10) keyed on a
    deterministic hash of ``key`` — stable under re-runs, retries,
    repartitioning, and engine version changes."""
    b = hash_bucket(key)
    expr = F.lit("test")
    for name, lo, hi in reversed(_SPLIT_BOUNDS[:-1]):
        expr = F.when(b < hi, F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


_SPLIT_ORACLE = f"""
WITH b AS (
  SELECT doc_id, n_chars, {_bucket_sql("doc_id")} AS bkt FROM documents
)
SELECT CASE WHEN bkt < 800 THEN 'train'
            WHEN bkt < 900 THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM b GROUP BY 1
"""


@register("q_curation_split", oracle=_SPLIT_ORACLE)
def q_curation_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 deterministic split of the documents corpus; the
    id_checksum proves the exact same documents land in each split in
    both engines (not just the same counts)."""
    d = assign_split(table(spark, sf_dir, "documents"), "doc_id")
    return d.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    )


# ---------------------------------------------------------------------------
# weighted corpus mixing
# ---------------------------------------------------------------------------

# per-source sampling rates (per-mille). A training mix keeps
# high-quality sources at full weight and downsamples the rest.
_MIX_RATES = {
    "src0": 1000, "src1": 750, "src2": 500, "src3": 500, "src4": 250,
    "src5": 250, "src6": 100, "src7": 100, "src8": 50, "src9": 50,
}


def sample_by_rate(df: DataFrame, key: str, rate_col):
    """Keep rows whose deterministic hash bucket falls under the
    row's per-mille rate: exact, reproducible weighted sampling with no
    RNG state (a row is kept or not independent of partitioning)."""
    return df.filter(hash_bucket(key) < rate_col)


_MIX_CASE = " ".join(
    f"WHEN source = '{s}' THEN {r}" for s, r in _MIX_RATES.items()
)

_MIX_ORACLE = f"""
WITH rated AS (
  SELECT doc_id, source, n_chars,
         {_bucket_sql("doc_id")} AS bkt,
         CASE {_MIX_CASE} ELSE 0 END AS rate
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM rated WHERE bkt < rate
GROUP BY source
"""


@register("q_curation_mix", oracle=_MIX_ORACLE)
def q_curation_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus mix: per-source deterministic downsampling
    (src0 kept at 100%, long tail at 5%); checksums prove the exact
    row selection matches across engines."""
    d = table(spark, sf_dir, "documents")
    rate = F.lit(0)
    for s, r in _MIX_RATES.items():
        rate = F.when(F.col("source") == s, F.lit(r)).otherwise(rate)
    kept = sample_by_rate(d, "doc_id", rate)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


# ---------------------------------------------------------------------------
# benchmark contamination (train/eval n-gram overlap)
# ---------------------------------------------------------------------------

_EVAL_MOD, _EVAL_REM = 97, 3  # deterministic synthetic "benchmark" slice

_CONTAM_ORACLE = f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(string_split(text,' ')) - 2, 1) + 1),
           -- concat_ws skips NULLs (same as Spark), so docs with <3
           -- words emit the truncated window instead of a NULL shingle
           i -> concat_ws(' ', string_split(text,' ')[i],
                string_split(text,' ')[i+1], string_split(text,' ')[i+2])
         )) AS s
  FROM documents
), tok AS (
  SELECT doc_id, unnest(s) AS shingle FROM sh
), bench AS (
  SELECT doc_id, shingle FROM tok WHERE doc_id % {_EVAL_MOD} = {_EVAL_REM}
), train AS (
  SELECT doc_id, shingle FROM tok WHERE doc_id % {_EVAL_MOD} != {_EVAL_REM}
)
SELECT t.doc_id,
       CAST(count(DISTINCT t.shingle) AS BIGINT) AS n_overlapping_shingles,
       CAST(count(DISTINCT b.doc_id) AS BIGINT) AS n_bench_docs_hit
FROM train t JOIN bench b ON t.shingle = b.shingle
GROUP BY t.doc_id
"""


@register("q_curation_contamination", oracle=_CONTAM_ORACLE)
def q_curation_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination scan: which training docs share any
    3-shingle with the held-out benchmark slice (doc_id ≡ 3 mod 97),
    with overlap volume. Inverted-index join on the shingle — the same
    output-bound shape as near-dup detection, never all-pairs.

    On a real pipeline the bench side is a small curated eval set —
    broadcastable — so the scan is one pass over the corpus.
    """
    from end_to_end_aws_data_pipeline_spark.operators.dedup import shingles

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(shingles(F.col("text"))).alias("shingle")
    )
    is_bench = F.pmod(F.col("doc_id"), F.lit(_EVAL_MOD)) == _EVAL_REM
    bench = d.filter(is_bench).select(
        F.col("doc_id").alias("bench_id"), "shingle"
    )
    train = d.filter(~is_bench)
    return (
        train.join(bench, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("shingle").alias("n_overlapping_shingles"),
            F.count_distinct("bench_id").alias("n_bench_docs_hit"),
        )
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

_EMAIL_RE = r"[a-z0-9#._-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PHONE_RE = r"\([0-9]{3}\) [0-9]{3}-[0-9]{4}"

_PII_ORACLE = f"""
WITH contact AS (
  SELECT c_custkey, c_mktsegment,
         lower(c_name) || '@example.com call (' ||
         lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || ') 555-' ||
         lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS contact
  FROM customer
), red AS (
  SELECT c_custkey, c_mktsegment,
         regexp_replace(regexp_replace(contact, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                        '{_PHONE_RE}', '[PHONE]', 'g') AS redacted
  FROM contact
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN redacted LIKE '%[EMAIL]%' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_email_redacted,
       CAST(sum(CASE WHEN redacted LIKE '%[PHONE]%' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_phone_redacted,
       CAST(sum(length(redacted)) AS BIGINT) AS redacted_len_checksum
FROM red GROUP BY c_mktsegment
"""


@register("q_curation_pii_redact", oracle=_PII_ORACLE)
def q_curation_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: email + US-phone regex redaction. The contact string
    is synthesized deterministically from customer fields (the sandbox
    corpus carries no real PII), then each engine runs its own regex
    engine over identical inputs — redaction counts and a redacted
    length checksum must agree, a genuine cross-dialect regex check."""
    c = table(spark, sf_dir, "customer")
    contact = F.concat(
        F.lower("c_name"),
        F.lit("@example.com call ("),
        F.lpad(F.pmod(F.col("c_custkey"), F.lit(1000)).cast("string"), 3, "0"),
        F.lit(") 555-"),
        F.lpad(F.pmod(F.col("c_custkey"), F.lit(10000)).cast("string"), 4, "0"),
    )
    red = F.regexp_replace(
        F.regexp_replace(contact, _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
    )
    return (
        c.select("c_mktsegment", red.alias("redacted"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("redacted").contains("[EMAIL]").cast("long")).alias(
                "n_email_redacted"
            ),
            F.sum(F.col("redacted").contains("[PHONE]").cast("long")).alias(
                "n_phone_redacted"
            ),
            F.sum(F.length("redacted")).cast("long").alias(
                "redacted_len_checksum"
            ),
        )
    )


# ---------------------------------------------------------------------------
# repetition filter (Gopher-style quality signal)
# ---------------------------------------------------------------------------

_REP_TAU = 0.35  # flag docs where >35% of word occurrences are repeats

_REP_ORACLE = f"""
WITH w AS (
  SELECT doc_id, lang,
         len(string_split(text, ' ')) AS n_words,
         len(list_distinct(string_split(text, ' '))) AS n_distinct
  FROM documents
)
SELECT doc_id, lang, CAST(n_words AS BIGINT) AS n_words,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       floor((1.0 - CAST(n_distinct AS DOUBLE) / n_words)
             * 1000000 + 0.5) / 1000000 AS rep_ratio
FROM w
WHERE n_words > 0 AND 1.0 - CAST(n_distinct AS DOUBLE) / n_words > {_REP_TAU}
"""


@register("q_curation_repetition", oracle=_REP_ORACLE)
def q_curation_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition filter: flag docs whose duplicate-word
    mass exceeds 0.35 (Gopher-style repetition signal, the cheap
    first-pass quality gate before any cross-doc dedup). Expression-only
    single pass, no shuffle until the (tiny) flagged set."""
    d = table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_words = F.size(words)
    n_distinct = F.size(F.array_distinct(words))
    ratio = F.lit(1.0) - n_distinct.cast("double") / n_words
    # filter on the UNROUNDED ratio (matching the oracle's WHERE); round
    # only in the output projection — filtering post-round would keep /
    # drop differently from DuckDB for ratios within 5e-7 of the cutoff
    return (
        d.select(
            "doc_id",
            "lang",
            n_words.cast("long").alias("n_words"),
            n_distinct.cast("long").alias("n_distinct"),
            stable_round(ratio, 6).alias("rep_ratio"),
            ratio.alias("_raw_ratio"),
        )
        .filter((F.col("n_words") > 0) & (F.col("_raw_ratio") > _REP_TAU))
        .drop("_raw_ratio")
    )


# ---------------------------------------------------------------------------
# token-budget packing (context-window sharding)
# ---------------------------------------------------------------------------

_PACK_BUDGET = 2048  # tokens per context window
_PACK_STRATA = 32  # independent packing streams (scale knob)

_PACK_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         doc_id % {_PACK_STRATA} AS stratum,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, stratum, n_tokens,
         sum(n_tokens) OVER (PARTITION BY stratum ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
), binned AS (
  SELECT stratum,
         -- floor(), not a bare CAST: DuckDB casts double->int by
         -- ROUNDING, Spark floors
         CAST(floor((cum - n_tokens) / {_PACK_BUDGET}) AS BIGINT)
           AS bin_in_stratum,
         n_tokens, doc_id
  FROM c
)
SELECT stratum, bin_in_stratum,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM binned GROUP BY stratum, bin_in_stratum
"""


@register("q_curation_pack", oracle=_PACK_ORACLE)
def q_curation_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget packing: assign docs to ~2048-token context
    windows by running-cumsum binning, stratified 32 ways so the
    inherently sequential cumsum runs as independent per-stratum
    windows (no global single-partition WindowExec; raise the stratum
    count with the cluster). A doc starts a new bin when the previous
    one has no room for its first token — same greedy rule both
    engines compute exactly."""
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(_PACK_STRATA)).alias("stratum"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    w = (
        W.partitionBy("stratum")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    binned = d.select(
        "stratum",
        "doc_id",
        "n_tokens",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / _PACK_BUDGET
        ).alias("bin_in_stratum"),
    )
    return binned.groupBy("stratum", "bin_in_stratum").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.sum("doc_id").alias("id_checksum"),
    )


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, arXiv:2112.11446 Table A1)
# ---------------------------------------------------------------------------

# published thresholds, unmodified; each rule emits its own flag so a
# pipeline can loosen one rule without re-deriving the rest
_G_MIN_WORDS, _G_MAX_WORDS = 50, 100_000
_G_MIN_MWL, _G_MAX_MWL = 3.0, 10.0
_G_MAX_SYMBOL_RATIO = 0.10        # '#' or '...' per word; Gopher A1 drops > 0.1, so keep is <=
_G_MAX_BULLET_RATIO = 0.90        # lines starting with a bullet
_G_MAX_ELLIPSIS_RATIO = 0.30      # lines ending with '...'
_G_MIN_ALPHA_WORD_RATIO = 0.80    # words containing >= 1 alphabetic char
_G_REQUIRED_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
_G_MIN_REQUIRED_HITS = 2

_GOPHER_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         string_split(text, ' ') AS w,
         string_split(text, chr(10)) AS lines,
         text
  FROM documents
), m AS (
  SELECT doc_id,
         len(w) AS n_words,
         CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
           / len(w) AS mwl,
         (length(text) - length(replace(text, '#', ''))
          + len(regexp_extract_all(text, '\\.\\.\\.'))) AS n_symbols,
         len(list_filter(lines,
             l -> l LIKE '-%' OR l LIKE '*%' OR l LIKE chr(8226) || '%'))
           AS n_bullet,
         len(list_filter(lines, l -> l LIKE '%...')) AS n_ellipsis,
         len(lines) AS n_lines,
         len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
           AS n_alpha_words,
         len(list_filter([{", ".join(f"'{x}'" for x in _G_REQUIRED_WORDS)}],
             r -> list_contains(w, r))) AS required_hits
  FROM t
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       floor(mwl * 1000000 + 0.5) / 1000000 AS mean_word_len,
       (n_words BETWEEN {_G_MIN_WORDS} AND {_G_MAX_WORDS}) AS ok_word_count,
       (mwl >= {_G_MIN_MWL} AND mwl <= {_G_MAX_MWL}) AS ok_mean_word_len,
       (CAST(n_symbols AS DOUBLE) / n_words <= {_G_MAX_SYMBOL_RATIO})
         AS ok_symbol_ratio,
       (CAST(n_bullet AS DOUBLE) / n_lines <= {_G_MAX_BULLET_RATIO})
         AS ok_bullets,
       (CAST(n_ellipsis AS DOUBLE) / n_lines <= {_G_MAX_ELLIPSIS_RATIO})
         AS ok_ellipsis,
       (CAST(n_alpha_words AS DOUBLE) / n_words >= {_G_MIN_ALPHA_WORD_RATIO})
         AS ok_alpha_words,
       (required_hits >= {_G_MIN_REQUIRED_HITS}) AS ok_required_words,
       ((n_words BETWEEN {_G_MIN_WORDS} AND {_G_MAX_WORDS})
        AND (mwl >= {_G_MIN_MWL} AND mwl <= {_G_MAX_MWL})
        AND (CAST(n_symbols AS DOUBLE) / n_words <= {_G_MAX_SYMBOL_RATIO})
        AND (CAST(n_bullet AS DOUBLE) / n_lines <= {_G_MAX_BULLET_RATIO})
        AND (CAST(n_ellipsis AS DOUBLE) / n_lines <= {_G_MAX_ELLIPSIS_RATIO})
        AND (CAST(n_alpha_words AS DOUBLE) / n_words
             >= {_G_MIN_ALPHA_WORD_RATIO})
        AND (required_hits >= {_G_MIN_REQUIRED_HITS})) AS keep
FROM m
"""


@register("q_curation_gopher_rules", oracle=_GOPHER_ORACLE)
def q_curation_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule filter (Rae et al. 2021, Table A1 — the
    published heuristic gate most pretraining pipelines start from):
    word-count bounds, mean word length 3-10, symbol-to-word ratio
    (# / ellipsis), bullet-line and ellipsis-line ratios, >=80%
    alphabetic words, and >=2 of the 8 required English stopwords.
    Emits one flag per rule plus the conjunctive `keep` verdict, so a
    pipeline can tune each threshold independently.

    Everything is a single-pass expression plan — no shuffle at all:
    the filter runs at scan speed and composes with any downstream
    operator's exchange. (Asserted shuffle-free in
    tests/test_plans.py.)"""
    d = table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    lines = F.split(F.col("text"), "\n")
    n_words = F.size(w)
    mwl = (
        F.aggregate(w, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
        .cast("double")
        / n_words
    )
    n_symbols = (
        F.length("text") - F.length(F.regexp_replace(F.col("text"), "#", ""))
    ) + F.size(F.expr(r"regexp_extract_all(text, '\\.\\.\\.', 0)"))
    n_bullet = F.size(
        F.filter(
            lines,
            lambda line: line.startswith("-")
            | line.startswith("*")
            | line.startswith("•"),
        )
    )
    n_ellipsis = F.size(F.filter(lines, lambda line: line.endswith("...")))
    n_lines = F.size(lines)
    n_alpha = F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]")))
    req = F.array(*[F.lit(x) for x in _G_REQUIRED_WORDS])
    hits = F.size(F.filter(req, lambda r: F.array_contains(w, r)))

    ok_wc = (n_words >= _G_MIN_WORDS) & (n_words <= _G_MAX_WORDS)
    ok_mwl = (mwl >= _G_MIN_MWL) & (mwl <= _G_MAX_MWL)
    ok_sym = n_symbols.cast("double") / n_words <= _G_MAX_SYMBOL_RATIO
    ok_bul = n_bullet.cast("double") / n_lines <= _G_MAX_BULLET_RATIO
    ok_ell = n_ellipsis.cast("double") / n_lines <= _G_MAX_ELLIPSIS_RATIO
    ok_alpha = n_alpha.cast("double") / n_words >= _G_MIN_ALPHA_WORD_RATIO
    ok_req = hits >= _G_MIN_REQUIRED_HITS
    return d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        stable_round(mwl, 6).alias("mean_word_len"),
        ok_wc.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_sym.alias("ok_symbol_ratio"),
        ok_bul.alias("ok_bullets"),
        ok_ell.alias("ok_ellipsis"),
        ok_alpha.alias("ok_alpha_words"),
        ok_req.alias("ok_required_words"),
        (
            ok_wc & ok_mwl & ok_sym & ok_bul & ok_ell & ok_alpha & ok_req
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# per-source quota capping (domain caps)
# ---------------------------------------------------------------------------

_SOURCE_CAP = 10  # max docs retained per source

_SOURCE_CAP_ORACLE = f"""
WITH ranked AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents
)
SELECT doc_id, source, n_chars, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {_SOURCE_CAP}
"""


@register("q_curation_source_cap", oracle=_SOURCE_CAP_ORACLE)
def q_curation_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document quota: keep at most 10 docs per source,
    preferring the longest (content-richest) ones, deterministic
    doc_id tie-break — the domain-capping step web-corpus pipelines
    apply so no single site dominates the training mix (the C4/RefinedWeb
    "most-common-domains" guard expressed as an operator).

    Shape: one window over (source), row_number <= cap. At 100 TB the
    stratum key is a *domain* — cardinality in the millions — so the
    hash partition spreads evenly and each group's ranking state is a
    handful of rows; this is the opposite regime from few-stratum
    partitionBy (see q_sample_stratified's note, where per-stratum
    windows are the anti-pattern). A known-hot tail (a domain with
    billions of pages) would need a salted two-phase top-k instead:
    per-salt row_number <= cap, merge, re-rank — same result, bounded
    reducer input.
    """
    d = table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        d.select("doc_id", "source", F.col("n_chars").cast("long").alias("n_chars"))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _SOURCE_CAP)
    )


# ---------------------------------------------------------------------------
# DSIR: data selection via importance resampling (Xie et al., NeurIPS
# 2023) over hashed unigram features, in exact fixed-point arithmetic
# ---------------------------------------------------------------------------

DSIR_B = 64  # hashed feature buckets
DSIR_TARGET = "de"  # target distribution: the minority-language slice
_DSIR_TOP = 25


def dsir_lw(div: str) -> str:
    """The per-bucket log importance weight
    L(ct+1) + L(Nr+B) - L(cr+1) - L(Nt+B)  ~  16*log2 of the smoothed
    target/raw probability ratio."""
    t = l2fp(f"ct + 1")
    r = l2fp(f"cr + 1")
    nt = l2fp(f"nt + {DSIR_B}")
    nr = l2fp(f"nr + {DSIR_B}")
    return f"({t} + {nr} - {r} - {nt})".replace("{div}", div)


def dsir_token_weights(docs: DataFrame, words: Column) -> DataFrame:
    """(b, doc_id, is_t, w) per token of ``docs`` (doc_id, lang): the
    token's md5 bucket of DSIR_B, whether its document is in the target
    slice, and the bucket's log importance weight :func:`dsir_lw` from
    the token histogram of ``docs`` itself. ``words`` is each
    document's token array."""
    toks = docs.select(
        "doc_id",
        F.explode(words).alias("t"),
        F.when(F.col("lang") == DSIR_TARGET, 1).otherwise(0).alias("is_t"),
    ).select(
        "doc_id",
        (
            F.conv(F.substring(F.md5(F.col("t")), 1, 15), 16, 10).cast("long")
            % DSIR_B
        ).alias("b"),
        "is_t",
    )
    hist = toks.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("cr"),
        F.sum("is_t").cast("long").alias("ct"),
    )
    tot = hist.agg(
        F.sum("cr").cast("long").alias("nr"), F.sum("ct").cast("long").alias("nt")
    )
    lw = hist.crossJoin(F.broadcast(tot)).select(
        "b", F.expr(dsir_lw("div")).cast("long").alias("w")
    )
    return toks.join(F.broadcast(lw), "b")


_DSIR_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         ('0x' || substr(md5(t.t), 1, 15))::BIGINT % {DSIR_B} AS b,
         CASE WHEN lang = '{DSIR_TARGET}' THEN 1 ELSE 0 END AS is_t
  FROM documents, unnest(string_split(text, ' ')) AS t(t)
), hist AS (
  SELECT b, CAST(count(*) AS BIGINT) AS cr,
         CAST(sum(is_t) AS BIGINT) AS ct
  FROM toks GROUP BY b
), tot AS (
  SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt
  FROM hist
), lw AS (
  SELECT b, {dsir_lw("//")} AS w FROM hist, tot
), docw AS (
  SELECT doc_id, CAST(sum(w) AS BIGINT) AS weight,
         CAST(count(*) AS BIGINT) AS n_tokens
  FROM toks JOIN lw USING (b)
  GROUP BY doc_id
)
SELECT doc_id, n_tokens, weight FROM docw
ORDER BY weight DESC, doc_id
LIMIT {_DSIR_TOP}
"""


@register("q_curation_dsir", oracle=_DSIR_ORACLE)
def q_curation_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection: score every document by the
    log-likelihood ratio of a hashed bag-of-words model of the TARGET
    distribution (here the 'de' slice) against the RAW corpus, and
    keep the top-weighted documents — the importance-resampling recipe
    of Xie et al. (NeurIPS 2023) used to select web data that "looks
    like" a trusted corpus.

    Cross-engine exactness: instead of float log-probabilities (whose
    sums are order-dependent and libm-dependent), the log2 of each
    smoothed bucket probability is computed in FIXED POINT — 16 *
    floor(log2 x) plus a linearly-interpolated mantissa, all from
    integer bit-length arithmetic (length(bin(x))). Per-token weights
    are integers, so document scores are exact sums, and the DuckDB
    oracle replays the whole pipeline (md5 bucketing, histograms,
    fixed-point logs, top-k) bit-for-bit. Worst-case error vs true
    log2 is ~0.149 bit per term (0.086-bit linear-interpolation error
    plus 1/16-bit quantization from 4 fractional bits) - far below the
    inter-document spread that drives selection.

    Scale shape: one pass builds the 64-bucket histogram
    (hash-partition aggregate over tokens, map-side combined); the
    per-bucket weight table is tiny and broadcasts back onto the token
    stream; one more aggregate sums per-doc weights; a
    TakeOrderedAndProject keeps the global top-k without a full sort.
    The corpus is scanned twice (histogram + scoring) exactly like the
    two-model pass of the published pipeline; at 100 TB both passes
    are embarrassingly parallel and the only shuffled payloads are
    (bucket, count) partials and (doc_id, weight_sum) partials.

    On this synthetic corpus all languages draw from one shared
    vocabulary, so the target/raw ratio sits near 1 and the selection
    uplift is mild (target share roughly 1.4x its base rate in the
    top-k) — the point here is the exact, replayable plumbing; on a
    real corpus the n-gram distributions differ and the ratio bites.
    """
    docw = (
        dsir_token_weights(table(spark, sf_dir, "documents"), F.split("text", " "))
        .groupBy("doc_id")
        .agg(
            F.sum("w").cast("long").alias("weight"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
        )
    )
    return (
        docw.orderBy(F.col("weight").desc(), "doc_id")
        .limit(_DSIR_TOP)
        .select("doc_id", "n_tokens", "weight")
    )


# ---------------------------------------------------------------------------
# temperature-based mixture quotas (alpha = 0.5 via exact integer sqrt)
# ---------------------------------------------------------------------------

_TMIX_BUDGET = 1000  # total documents to sample across sources
_TMIX_SCALE = 1_000_000  # w = isqrt(n * SCALE) = 1000*sqrt(n) as an integer


def _isqrt_sql(x: str) -> str:
    """Exact integer sqrt in portable SQL: floor of the double sqrt,
    then ±1 integer corrections (a correctly-rounded double sqrt is at
    most one off after floor for x < 2^52)."""
    s = f"CAST(floor(sqrt(CAST({x} AS DOUBLE))) AS BIGINT)"
    return (
        f"({s} - CAST({s} * {s} > ({x}) AS INT)"
        f" + CAST(({s} + 1) * ({s} + 1) <= ({x}) AS INT))"
    )


_TMIX_ORACLE = f"""
WITH n AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents
  GROUP BY source
), w AS (
  SELECT source, n_docs,
         {_isqrt_sql(f"n_docs * {_TMIX_SCALE}")} AS weight
  FROM n
), tot AS (
  SELECT CAST(sum(weight) AS BIGINT) AS wsum FROM w
), base AS (
  SELECT source, n_docs, weight,
         {_TMIX_BUDGET} * weight // wsum AS q0,
         {_TMIX_BUDGET} * weight % wsum AS rem
  FROM w, tot
), ranked AS (
  SELECT *,
         row_number() OVER (ORDER BY rem DESC, source) AS rk,
         (SELECT {_TMIX_BUDGET} - sum(q0) FROM base) AS shortfall
  FROM base
)
SELECT source, n_docs, CAST(weight AS BIGINT) AS weight,
       CAST(q0 + CASE WHEN rk <= shortfall THEN 1 ELSE 0 END AS BIGINT)
         AS quota
FROM ranked
"""


@register("q_curation_temperature_mix", oracle=_TMIX_ORACLE)
def q_curation_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture quotas (the T5/mT5 recipe, α = 0.5):
    per-source sampling budgets proportional to n^α, flattening the
    source distribution so head sources stop drowning the tail —
    computed EXACTLY: w = isqrt(n·10⁶) is an integer 1000·√n (double
    sqrt floored, then ±1 integer corrections, so the value is
    provably the integer square root in both engines), floor quotas
    by integer division, and the remaining budget assigned by
    largest-remainder ranking (deterministic tie-break on source) so
    quotas sum to the budget exactly.

    Shape: one count aggregate over the corpus; everything after runs
    on the |sources|-row table. The quota table then drives the
    deterministic hash samplers (q_sample_stratified) — quota/n is
    each source's Bernoulli rate.
    """
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    n = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    sx = F.floor(F.sqrt((F.col("n_docs") * _TMIX_SCALE).cast("double"))).cast(
        "long"
    )
    x = F.col("n_docs") * _TMIX_SCALE
    isq = (
        sx
        - (sx * sx > x).cast("int")
        + ((sx + 1) * (sx + 1) <= x).cast("int")
    )
    w = n.select("source", "n_docs", isq.cast("long").alias("weight"))
    tot = w.agg(F.sum("weight").cast("long").alias("wsum"))
    base = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "weight",
        F.expr(f"{_TMIX_BUDGET} * weight div wsum").alias("q0"),
        F.expr(f"{_TMIX_BUDGET} * weight % wsum").alias("rem"),
    )
    short = base.agg(
        (F.lit(_TMIX_BUDGET) - F.sum("q0")).cast("long").alias("shortfall")
    )
    # largest-remainder apportionment needs ONE global rank over the
    # strata — `base` is one row per SOURCE (mixture strata: tens, not
    # corpus-sized), so the single-partition window (WindowExec's
    # warning) is bounded by design
    rk = F.row_number().over(
        W.orderBy(F.col("rem").desc(), "source")
    )
    return (
        base.crossJoin(F.broadcast(short))
        .withColumn("rk", rk)
        .select(
            "source",
            "n_docs",
            "weight",
            (
                F.col("q0")
                + F.when(F.col("rk") <= F.col("shortfall"), 1).otherwise(0)
            )
            .cast("long")
            .alias("quota"),
        )
    )
