"""Deduplication suite for LLM training-data pipelines (BASELINE.json
mandate): exact, n-gram-Jaccard, MinHash+LSH, SimHash, embedding-cosine.

Design at 100 TB:
- exact dedup is one hash shuffle on the dedup key (here: the text
  itself; for long documents, ``sha2(text, 256)`` first so the shuffle
  moves 32-byte digests, not documents).
- exact pairwise Jaccard is quadratic in the worst case; the inverted-
  index join below is output-bound (only docs sharing a shingle meet),
  which is fine for natural corpora and is exactly the candidate
  structure MinHash/LSH approximates when even that is too big.
- MinHash+LSH and SimHash banding are the sub-quadratic scale paths:
  candidate generation is an equi-join on (band, band-hash) buckets —
  a plain shuffled hash join, linear in candidates, no cross product.

Everything is built-in expressions (higher-order array functions +
xxhash64) — no Python in the hot path.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.catalog import local_frame, spread, table
from end_to_end_aws_data_pipeline_spark.functions.aggs import stable_round
from end_to_end_aws_data_pipeline_spark.operators.iterate import (
    LOCAL_MAX_EDGES,
    fixpoint,
    fused_ckpt,
    min_label_step,
)
from end_to_end_aws_data_pipeline_spark.operators.vecbatch import (
    Q_SCALE,
    SCALE_SQ,
    int_matrix,
    quantized,
)
from end_to_end_aws_data_pipeline_spark.registry import register

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

_EXACT_ORACLE = """
SELECT
  min(doc_id) AS keeper_doc_id,
  count(*) AS n_copies,
  CAST(min(n_chars) AS BIGINT) AS n_chars
FROM documents
GROUP BY text
"""


@register("q_dedup_exact", oracle=_EXACT_ORACLE)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one representative (min doc_id) per distinct text +
    copy count (generalizes ref delta_load.py:98 drop_duplicates to a
    keyed, count-preserving form)."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min("n_chars").alias("n_chars"),
    ).drop("text")


# ---------------------------------------------------------------------------
# shingling helpers (shared by jaccard / minhash)
# ---------------------------------------------------------------------------


def shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-shingles of a text column (array<string>).

    Pure expression: split → slide a k-window via transform over an
    index sequence → concat — stays in codegen, no UDF.
    """
    # Two equivalent forms with a k-dependent crossover (HOF lambdas
    # are interpreted, so total per-element expression work is what
    # matters):
    # - small k: k-1 shifted slices zipped element-wise — each zip_with
    #   pass is one cheap concat per element; the transform form's
    #   slice/join chain measured ~8-10x slower at k=3.
    # - large k: ONE transform with a k-wide slice+join per window —
    #   the zip_with form pays k-1 full-array passes and loses by k≈13
    #   (measured 1.71 s vs 1.31 s for the corpus explode at sf0.1).
    # Both truncate short docs identically (zip_with pads with NULL and
    # concat_ws skips NULLs; slice stops at the array end), keeping
    # max(W-k+1, 1) windows.
    words = F.split(text, " ")
    n = F.size(words)
    if k > 6:
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
                lambda i: F.array_join(F.slice(words, i, k), " "),
            )
        )
    tri = words
    for j in range(1, k):
        shifted = F.slice(words, j + 1, F.greatest(n - j, F.lit(0)))
        tri = F.zip_with(tri, shifted, lambda x, y: F.concat_ws(" ", x, y))
    return F.array_distinct(F.slice(tri, 1, F.greatest(n - k + 1, F.lit(1))))


_JACCARD_TAU = 0.6

_JACCARD_ORACLE = f"""
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
), sizes AS (
  SELECT doc_id, len(s) AS n FROM sh
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM tok a JOIN tok b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       floor(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared)
             * 1000000 + 0.5) / 1000000 AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= {_JACCARD_TAU}
"""


_DIRECT_SUMDF2_MAX = 50_000_000
# adaptive routing (direct_sumdf2_max=None): direct while Σdf² stays
# within this many candidate rows PER TOKEN.  Σdf²/tokens is the mean
# candidate fan-out of one posting entry — scale-FREE, unlike the
# absolute cap: a corpus 10× bigger with the same df distribution keeps
# the same ratio (direct cost grows linearly with the data, exactly
# what a cluster absorbs), while boilerplate blow-up sends the ratio to
# the thousands no matter the corpus size.  Crossover measured at sf10
# (23.7M tokens): direct 27 s at ratio 10.7 vs PPJoin's ~114 s
# token-bound fixed cost → direct stays ahead until ratio ≈ 40-50.
_DIRECT_DF_RATIO = 40


def ngram_jaccard_pairs(
    docs: DataFrame,
    direct_sumdf2_max: int | None = None,
) -> DataFrame:
    """Exact near-dup pairs ``(doc_a, doc_b, jaccard)`` by 3-shingle
    Jaccard ≥ ``_JACCARD_TAU`` over a ``(doc_id, text)`` corpus.

    Both strategies below compute the SAME exact answer; a cheap probe
    picks between them per-corpus:

    - **direct**: inverted-index self-join on hashed shingles + count
      shared per pair. Join output is exactly Σ df² rows (df = per-
      shingle document frequency), so the probe — one aggregate over
      the token index — *is* the cost model. Fewer stages, no window;
      wins whenever boilerplate shingles don't blow Σ df² up.
    - **PPJoin prefix filtering** (SSJoin/PPJoin family — Xiao et al.,
      WWW'08): under a global rarest-first token order, any pair with
      J ≥ τ must share a token within each side's first
      ``n - ⌈τ·n⌉ + 1`` tokens, so only those PREFIX tokens are
      indexed; high-df boilerplate sorts to the suffixes and never
      generates candidates, so this is the path for corpora whose
      global boilerplate frequency grows with corpus size (where
      Σ df² is superlinear and the direct join drowns). A length
      filter (τ·|b| ≤ |a|) prunes inside the join, and the PPJoin
      POSITION filter prunes aggregated candidates before
      verification.

    Either way, survivors verify EXACT Jaccard by COUNTING shared
    hashed shingles (map-side-combinable aggregation over 8-byte
    longs) rather than intersecting string arrays — the r3
    array_intersect verify cost 13x at bench scale on low-precision
    candidate sets. ``direct_sumdf2_max=None`` (default) routes
    adaptively on the scale-free candidate DENSITY Σdf²/tokens (plus
    an absolute small-corpus floor); ``direct_sumdf2_max=0`` forces the PPJoin path,
    a huge value forces direct (tests use both to pin equivalence).
    """
    from pyspark.sql import Window as W

    from end_to_end_aws_data_pipeline_spark.cache import persisted

    # index on xxhash64(shingle), not the string: 8-byte longs shuffle
    # and compare cheaper; a collision only matters if two DISTINCT
    # shingles alias within the same candidate pair (P ~ pair_vocab^2 /
    # 2^64, negligible); per-doc shingles are distinct so counts stay
    # exact. persist: tok feeds the dfreq build, the prefix build, AND
    # both verification sides — unpersisted, the shingle explode (the
    # dominant per-doc cost) re-runs 4x.
    # spread() first: the sf corpora scan as ONE row group (one task),
    # which would serialize the interpreted HOF shingling on one core of
    # 32 (measured 3.2 s -> 1.2 s at sf0.1); at production scale this is
    # a cheap rebalance against skewed upstream writers.
    tok = persisted(
        spread(docs.select("doc_id", "text"))
        .select("doc_id", shingles(F.col("text")).alias("s"))
        .select("doc_id", F.size("s").alias("n"), F.explode("s").alias("sh_str"))
        .select("doc_id", "n", F.xxhash64("sh_str").alias("shingle"))
    )
    dfreq = tok.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # the probe: Σ df² = the direct join's exact output row count, and
    # Σ df = the token count, both from ONE map-side-combinable
    # aggregate over the (persisted) token index — sub-second, and it
    # decides between strategies whose costs differ by an order of
    # magnitude in each direction at the extremes.
    probe = dfreq.agg(
        F.sum(F.col("df") * F.col("df")).alias("s2"),
        F.sum("df").alias("s1"),
    ).first()
    sumdf2, n_tokens = probe["s2"] or 0, probe["s1"] or 0
    if direct_sumdf2_max is None:
        # adaptive: scale-free density criterion (see _DIRECT_DF_RATIO)
        # with the absolute floor keeping small corpora on the
        # fewer-stages direct path regardless of ratio
        direct_sumdf2_max = max(
            _DIRECT_SUMDF2_MAX, _DIRECT_DF_RATIO * n_tokens
        )

    jac = F.col("n_shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_shared")
    )
    ta = tok.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), "shingle")
    tb = tok.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), "shingle")

    if sumdf2 <= direct_sumdf2_max:
        # DIRECT: one self-join on the hashed token index + pair count.
        # Output bounded by the probed Σ df²; the τ length-ratio filter
        # prunes inside the join.
        shared = (
            ta.join(tb, "shingle")
            .filter(
                (F.col("doc_a") < F.col("doc_b"))
                & (F.col("na") * F.lit(_JACCARD_TAU) <= F.col("nb"))
                & (F.col("nb") * F.lit(_JACCARD_TAU) <= F.col("na"))
            )
            .groupBy("doc_a", "doc_b", "na", "nb")
            .agg(F.count(F.lit(1)).alias("n_shared"))
        )
        return shared.filter(jac >= _JACCARD_TAU).select(
            "doc_a", "doc_b", stable_round(jac, 6).alias("jaccard")
        )

    # PPJoin path: rarest-first global order (ties by hash value — any
    # total order works as long as it's consistent corpus-wide)
    w = W.partitionBy("doc_id").orderBy("df", "shingle")
    prefix_len = F.col("n") - F.ceil(F.lit(_JACCARD_TAU) * F.col("n")) + 1
    # persist: pref is BOTH sides of the self-join below, and its
    # dfreq-join + per-doc row_number window make it the most expensive
    # subtree in the query — unpersisted it evaluates at least twice
    # (half of the r3 bench regression was exactly that).
    pref = persisted(
        tok.join(dfreq, "shingle")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
        .select("doc_id", "n", "shingle", "rn")
    )
    a, b = pref.alias("a"), pref.alias("b")
    raw_cand = a.join(
        b,
        (F.col("a.shingle") == F.col("b.shingle"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        # J ≥ τ bounds the size ratio: τ·max ≤ min
        & (F.col("a.n") * F.lit(_JACCARD_TAU) <= F.col("b.n"))
        & (F.col("b.n") * F.lit(_JACCARD_TAU) <= F.col("a.n")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("a.n").alias("na"),
        F.col("a.rn").alias("ia"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("b.n").alias("nb"),
        F.col("b.rn").alias("jb"),
    )
    # PPJoin POSITION filter (Xiao et al. WWW'08 §3.2), aggregated form:
    # prefix positions follow the same global token order in every doc,
    # so among a pair's prefix-shared tokens the minimum i and minimum j
    # belong to the SAME (first) token t0 — and no shared token can
    # precede t0 (a shared earlier token would sort before t0 in both
    # prefixes). Hence overlap ≤ 1 + min(na - i0, nb - j0). The min/min
    # aggregate replaces the r3 dropDuplicates shuffle one-for-one, and
    # the bound kills near-miss pairs that share prefix tokens late in
    # both lists — the blowup mode plain prefix filtering cannot prune
    # (measured at the 10x sf: 49.6M raw candidates → the bound admits
    # only pairs that can still reach τ).
    overlap_needed = F.lit(_JACCARD_TAU / (1.0 + _JACCARD_TAU)) * (
        F.col("na") + F.col("nb")
    )
    cand = (
        raw_cand.groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.min("ia").alias("i0"), F.min("jb").alias("j0"))
        .filter(
            F.lit(1) + F.least(F.col("na") - F.col("i0"), F.col("nb") - F.col("j0"))
            >= overlap_needed
        )
        .select("doc_a", "na", "doc_b", "nb")
    )
    # count-based verification: explode each candidate pair by doc_a's
    # hashed shingles, keep the ones doc_b also has (hash equi-join on
    # longs), count shared per pair. Work is bounded by |cand| x avg
    # shingles/doc — linear in candidates, no arrays materialized.
    shared = (
        cand.join(ta.drop("na"), "doc_a")
        .join(tb.drop("nb"), ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return shared.filter(jac >= _JACCARD_TAU).select(
        "doc_a", "doc_b", stable_round(jac, 6).alias("jaccard")
    )


@register("q_dedup_ngram_jaccard", oracle=_JACCARD_ORACLE)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs over the documents table (r4: adaptive
    direct/PPJoin routing + count-based verification; see
    :func:`ngram_jaccard_pairs`)."""
    return ngram_jaccard_pairs(
        table(spark, sf_dir, "documents").select("doc_id", "text")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (sub-quadratic candidate generation; md5-derived hashes →
# the DuckDB oracle replays signatures → bands → candidates → verified
# pairs EXACTLY, so the driver check is full rows/schema/hash)
# ---------------------------------------------------------------------------

# banding math at the J=0.6 operating point: P(candidate) = 1-(1-J^r)^b.
# b=8, r=2 → 97% at J=0.6 (and 35% at J=0.3, filtered by exact verify);
# r=4 would need twice the hashes for LESS recall (67%) at this τ.
_MINHASH_K = 16  # signature length
_LSH_BANDS = 8  # bands of 2 rows
# signature pre-screen: require ≥ ceil(0.4·k)+ε matching positions
# (E[matches] = k·J; Binomial(16,.6) tail below 7 ≈ 1%)
_MINHASH_SCREEN_MIN = int(0.4 * _MINHASH_K) + 1

# Broder-style minwise permutations: ONE base hash per shingle (md5,
# which DuckDB recomputes identically), then k universal-hash
# permutations h_i(x) = (a_i·x + b_i) mod p over the base value — 16×
# fewer string hashes per token than md5-per-seed, and every step is
# exact int64 arithmetic both engines replay (a·x < 2^62 for p = 2^31-1).
# Coefficients are fixed md5-derived constants, embedded as literals in
# the Spark expressions AND the generated oracle from this one list.
_MH_P = (1 << 31) - 1


def _mh_coef(tag: str) -> int:
    import hashlib

    return int(hashlib.md5(tag.encode()).hexdigest()[:15], 16)


_MH_AB = [
    (_mh_coef(f"a{i}") % (_MH_P - 1) + 1, _mh_coef(f"b{i}") % _MH_P)
    for i in range(_MINHASH_K)
]


def _mh_base(s: Column) -> Column:
    """60-bit integer from a shingle's md5, reduced mod p — the shared
    base value every permutation rehashes (replayed by DuckDB as
    ('0x' || substr(md5(s),1,15))::BIGINT % p)."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long") % _MH_P


def _minhash_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The MinHash LSH index of the documents table: ``(d, sig,
    bands)`` — each doc's shingle array ``s``, its persisted k-hash
    signature ``sig``, and its (doc_id, band, bucket) band rows."""
    from end_to_end_aws_data_pipeline_spark.cache import persisted

    r = _MINHASH_K // _LSH_BANDS
    # spread BEFORE shingling: the single-row-group sf scan would
    # otherwise run the interpreted HOF shingling AND the partial
    # 32-hash MIN aggregation on one core (see ngram_jaccard_pairs)
    d = spread(table(spark, sf_dir, "documents").select("doc_id", "text")).select(
        "doc_id", shingles(F.col("text")).alias("s")
    )
    # signature via explode + 32 codegen'd MIN aggregates: higher-order
    # folds run interpreted, but hash aggregation is whole-stage
    # codegen'd with map-side partials — ~3× faster at equal hash count
    tok = d.select("doc_id", F.explode("s").alias("sh")).select(
        "doc_id", _mh_base(F.col("sh")).alias("x")
    )
    sig = persisted(  # feeds bands + both screen sides
        tok.groupBy("doc_id").agg(
            F.array(
                *[
                    F.min((F.lit(a) * F.col("x") + F.lit(b)) % _MH_P)
                    for a, b in _MH_AB
                ]
            ).alias("sig")
        )
    )
    # bands carry only (doc_id, band, bucket) — never the shingle arrays:
    # the band self-join shuffles 8 small rows per doc, and the (much
    # rarer) candidates fetch their shingles back afterwards. The bucket
    # is md5 of the band's signature slice — replayable by the oracle
    # (F.hash is Spark-private Murmur3, md5 is universal).
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[
                                    F.element_at("sig", b * r + 1 + j).cast(
                                        "string"
                                    )
                                    for j in range(r)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(_LSH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    return d, sig, bands


def _minhash_oracle_ctx() -> tuple[str, str]:
    """The DuckDB replay both MinHash oracles start from: the shingle,
    token, signature and band CTEs (identical shingles proven by the
    green _JACCARD_ORACLE, identical md5-derived signatures and band
    buckets), and the signature-screen sum over ``sa``/``sb``."""
    k, b_, r = _MINHASH_K, _LSH_BANDS, _MINHASH_K // _LSH_BANDS
    sig_cols = ",\n         ".join(
        f"min(({a} * x + {b}) % {_MH_P}) AS h{i}"
        for i, (a, b) in enumerate(_MH_AB[:k])
    )
    band_selects = "\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(CAST(h{b * r} AS VARCHAR)"
        + "".join(f" || '|' || CAST(h{b * r + j} AS VARCHAR)" for j in range(1, r))
        + ") AS bucket FROM sig"
        for b in range(b_)
    )
    screen = " + ".join(f"CAST(sa.h{i} = sb.h{i} AS INT)" for i in range(k))
    return f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(string_split(text,' ')) - 2, 1) + 1),
           i -> concat_ws(' ', string_split(text,' ')[i],
                string_split(text,' ')[i+1], string_split(text,' ')[i+2])
         )) AS s
  FROM documents
), tok AS (
  SELECT doc_id,
         ('0x' || substr(md5(unnest(s)), 1, 15))::BIGINT % {_MH_P} AS x
  FROM sh
), sig AS (
  SELECT doc_id,
         {sig_cols}
  FROM tok GROUP BY doc_id
), bands AS (
  {band_selects}
""", screen


def _minhash_oracle() -> str:
    """DuckDB replay of q_dedup_minhash_lsh: the shared signature and
    band CTEs, then band-bucket candidates, the screen and the
    exact-Jaccard verification."""
    ctx, screen = _minhash_oracle_ctx()
    return ctx + f"""), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
), screened AS (
  SELECT doc_a, doc_b FROM cand
  JOIN sig sa ON sa.doc_id = doc_a
  JOIN sig sb ON sb.doc_id = doc_b
  WHERE {screen} >= {_MINHASH_SCREEN_MIN}
)
SELECT s.doc_a, s.doc_b,
       floor(CAST(len(list_intersect(da.s, db.s)) AS DOUBLE) /
             (len(da.s) + len(db.s) - len(list_intersect(da.s, db.s)))
             * 1000000 + 0.5) / 1000000 AS jaccard
FROM screened s
JOIN sh da ON da.doc_id = s.doc_a
JOIN sh db ON db.doc_id = s.doc_b
WHERE CAST(len(list_intersect(da.s, db.s)) AS DOUBLE) /
      (len(da.s) + len(db.s) - len(list_intersect(da.s, db.s))) >= {_JACCARD_TAU}
"""


@register("q_dedup_minhash_lsh", oracle=_minhash_oracle())
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs: signature → band → bucket equi-join →
    exact-Jaccard verification of candidates only.

    The verification step makes output precision exact; recall vs the
    full O(n²) ground truth is probabilistic (tests assert it on the
    small SF). At 100 TB this is the only tractable shape: candidate
    count ≈ duplicate count, not n².

    Hashes are md5-derived (see _mh_base) so the DuckDB oracle
    replays the ENTIRE pipeline — including which candidate pairs LSH
    surfaces — and the driver records a full hash-green row, not
    rows-only. Cost: ONE md5 per shingle (the Broder base hash) + k
    integer mod-p permutations — the same hash count per token as the
    original xxhash-free design at 100 TB, with cross-engine replay.
    """
    d, sig, bands = _minhash_index(spark, sf_dir)
    a, b = bands.alias("a"), bands.alias("b")
    cand = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    # SIGNATURE pre-screen before the expensive exact verification.
    # Boilerplate/common shingles give many docs the same global-minimum
    # hash in some positions, so band buckets balloon with low-Jaccard
    # pairs (measured: 19M candidates → 2.5k true pairs at sf1). The
    # MinHash estimator itself is nearly free — k codegen'd element
    # comparisons on the already-computed signatures — and E[matches] =
    # k·J, so requiring ≥ 7/16 (Ĵ ≥ 0.4) keeps essentially every true
    # τ=0.6 pair (Binomial(16,.6) tail below 7 ≈ 1%, and real near-dups
    # sit at J≈0.9) while discarding the junk BEFORE the dedup shuffle
    # and the string-array intersection join.
    ga = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("siga"))
    gb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sigb"))
    sig_matches = sum(
        (
            F.element_at("siga", i + 1) == F.element_at("sigb", i + 1)
        ).cast("int")
        for i in range(_MINHASH_K)
    )
    screened = (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .filter(sig_matches >= _MINHASH_SCREEN_MIN)
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])  # AFTER the screen: dedup
        # shuffles the few k survivors, never the raw candidate stream
    )
    sa = d.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    sb = d.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    verified = screened.join(sa, "doc_a").join(sb, "doc_b")
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    jac = inter.cast("double") / union
    return verified.filter(jac >= _JACCARD_TAU).select(
        "doc_a", "doc_b", stable_round(jac, 6).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash (Hamming-space near-dup; md5-derived bits → the DuckDB oracle
# replays fingerprints → bands → candidates exactly: full hash check)
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 64
_SIMHASH_BAND_BITS = 16  # 4 bands → catches hamming ≤ 3 pairs


def _simhash_by_agg(tokens: DataFrame) -> DataFrame:
    """tokens(doc_id, w) → (doc_id, sh): per-bit ±1 vote sums as
    codegen'd aggregates (map-side combinable), then pack the sign
    vector into one long.

    The two 60-bit md5 halves are projected ONCE per token, then the 64
    vote aggregates read bits off those two longs — two conv() calls
    per token instead of sixteen.

    The 64 vote aggregates and the sign-packing fold are TWO parsed SQL
    expressions, not ~1,000 chained Column calls: the listcomp form
    cost that many py4j round trips of driver latency per invocation
    (the hyperanf plan-construction lesson; results hash-equal, the
    physical aggregate is the same 64 map-side-combined sums).
    shiftleft(1L, 63) wraps to BIGINT min exactly like the oracle's
    -(1 << 63) weight, so the packed value is bit-identical."""
    h = F.md5(F.col("w"))
    halves = tokens.select(
        "doc_id",
        F.conv(F.substring(h, 1, 15), 16, 10).cast("long").alias("w1"),
        F.conv(F.substring(h, 16, 15), 16, 10).cast("long").alias("w2"),
    )
    vote = (
        lambda i: "sum(IF((shiftright(%s, %d) & 1) = 1, 1, -1))"
        % (("w1", i) if i < 60 else ("w2", i - 60))
    )
    votes = halves.groupBy("doc_id").agg(
        F.expr(
            "array("
            + ", ".join(vote(i) for i in range(_SIMHASH_BITS))
            + ") AS votes"
        )
    )
    return votes.select(
        "doc_id",
        F.expr(
            f"aggregate(sequence(0, {_SIMHASH_BITS - 1}), CAST(0 AS BIGINT), "
            "(acc, i) -> acc + IF(element_at(votes, i + 1) > 0, "
            "shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))"
        ).alias("sh"),
    )


def _simhash_oracle() -> str:
    """DuckDB replay of q_dedup_simhash: same tokenization, same
    md5-digit bit extraction, same ±1 vote sums, same signed-64 packing
    (bit 63 = BIGINT min), same 4×16-bit band join and Hamming gate."""
    bits, band_bits = _SIMHASH_BITS, _SIMHASH_BAND_BITS
    n_bands, mask = bits // band_bits, (1 << band_bits) - 1
    vote_cols = ",\n         ".join(
        "sum(CASE WHEN ("
        + (f"w1 >> {i}" if i < 60 else f"w2 >> {i - 60}")
        + f") & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(bits)
    )
    weights = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN CAST({1 << i if i < 63 else -(1 << 63)} AS BIGINT) ELSE 0 END)"
        for i in range(bits)
    )
    band_selects = "\n  UNION ALL ".join(
        f"SELECT doc_id, sh, {b} AS band, (sh >> {b * band_bits}) & {mask} AS bucket FROM fp"
        for b in range(n_bands)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), halves AS (
  SELECT doc_id,
         ('0x' || substr(md5(w), 1, 15))::BIGINT AS w1,
         ('0x' || substr(md5(w), 16, 15))::BIGINT AS w2
  FROM tok
), votes AS (
  SELECT doc_id,
         {vote_cols}
  FROM halves GROUP BY doc_id
), fp AS (
  SELECT doc_id, CAST({weights} AS BIGINT) AS sh FROM votes
), bands AS (
  {band_selects}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 3
"""


@register("q_dedup_simhash", oracle=_simhash_oracle())
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 64-bit fingerprint banded 4×16 bits,
    join on any equal band, verify Hamming distance ≤ 3 via
    bit_count(xor). 16-bit bands keep coincidental bucket collisions
    ~1/65536 per band, so candidates ≈ true near-dups at any corpus
    size."""
    # spread: the 64 per-bit partial SUM aggregates run in the scan
    # stage, which is one task on the single-row-group sf fixture
    docs = spread(table(spark, sf_dir, "documents").select("doc_id", "text"))
    tokens = docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
    d = _simhash_by_agg(tokens)
    n_bands = _SIMHASH_BITS // _SIMHASH_BAND_BITS
    mask = (1 << _SIMHASH_BAND_BITS) - 1
    bands = d.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("sh", b * _SIMHASH_BAND_BITS)
                        .bitwiseAND(F.lit(mask))
                        .alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "sh", "bb.band", "bb.bucket")
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= 3)
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup (exact; quadratic baseline — the LSH/IVF
# scale path lives in operators/similarity.py)
# ---------------------------------------------------------------------------

# synthetic embeddings top out around cosine 0.48 (no true dups);
# 0.35 marks the ~99.9th percentile → "near-dup" pairs exist at every SF
_COS_TAU = 0.35


from end_to_end_aws_data_pipeline_spark.functions.vector import dot_raw as _dot_plain


_COS_PAIR_ORACLE = f"""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) /
           sqrt(list_sum(list_transform(embedding,
                y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS e
  FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       floor(list_sum(list_transform(range(1, len(a.e)+1),
             i -> a.e[i] * b.e[i])) * 1000000 + 0.5) / 1000000 AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE list_sum(list_transform(range(1, len(a.e)+1), i -> a.e[i] * b.e[i]))
      >= {_COS_TAU}
"""


_EXACT_PAIRS_MAX_ROWS = 100_000  # ~5e9 pairs: past this the unblocked
# cartesian is a foot-gun; the blocked Gram path below has the same
# exact semantics with bounded per-task memory


@register("q_dedup_embedding_cosine", oracle=_COS_PAIR_ORACLE)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding near-dup pairs (cosine ≥ τ), brute pairwise.

    Each vector is unit-normalized ONCE before the pair join, so the
    O(n²) stage runs a single dot-product fold per pair instead of
    dot + two norms (3× fewer interpreted fold evaluations; the oracle
    mirrors the exact same computation shape for bit-equality).
    Correctness baseline for the approximate paths; guarded by a size
    check — above _EXACT_PAIRS_MAX_ROWS rows it refuses and points at
    q_dedup_cosine_blocked (same exact answer, scale-safe layout) or
    the IVF/LSH variants in operators/similarity.py.
    """
    from end_to_end_aws_data_pipeline_spark.functions.vector import l2_normalize

    src = table(spark, sf_dir, "embeddings")
    n = src.count()  # parquet-metadata count: cheap
    if n > _EXACT_PAIRS_MAX_ROWS:
        raise ValueError(
            f"q_dedup_embedding_cosine is the unblocked O(n²) exactness "
            f"baseline; refusing {n} rows (> {_EXACT_PAIRS_MAX_ROWS}). "
            f"Use q_dedup_cosine_blocked (exact, bounded per-task memory) "
            f"or the LSH/IVF paths in operators/similarity.py."
        )
    e = src.select("vec_id", l2_normalize(F.col("embedding")).alias("en"))
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("en").alias("ea"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("en").alias("eb"))
    pairs = a.join(b, F.col("vec_a") < F.col("vec_b"))
    cos = _dot_plain(F.col("ea"), F.col("eb"))
    return (
        pairs.select("vec_a", "vec_b", cos.alias("__raw"))
        .filter(F.col("__raw") >= _COS_TAU)
        .select("vec_a", "vec_b", stable_round("__raw", 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# blocked all-pairs cosine (the exact-at-scale path: integer-quantized
# Gram blocks computed by numpy matmul, deterministic by construction)
# ---------------------------------------------------------------------------

_TARGET_BLOCK_ROWS = 4096  # per-block row bound → constant per-task memory
_MIN_BLOCKS = 8  # parallelism floor: ≥ B(B+1)/2 = 36 block-pair tasks


def n_blocks_for(n_rows: int) -> int:
    """Block count for the blocked Gram join: enough blocks that no
    block exceeds _TARGET_BLOCK_ROWS rows (each block travels as ONE
    collect_list row through Arrow — its size must stay bounded no
    matter the corpus), with a floor for small-input parallelism."""
    import math

    return max(_MIN_BLOCKS, math.ceil(max(n_rows, 1) / _TARGET_BLOCK_ROWS))

_COS_BLOCKED_ORACLE = f"""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(
           (CAST(x AS DOUBLE) /
             sqrt(list_sum(list_transform(embedding,
                  y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))
           ) * {Q_SCALE}) AS BIGINT)) AS q
  FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       floor(CAST(list_sum(list_transform(range(1, len(a.q)+1),
             i -> a.q[i] * b.q[i])) AS DOUBLE) / {SCALE_SQ}.0
             * 1000000 + 0.5) / 1000000 AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE CAST(list_sum(list_transform(range(1, len(a.q)+1),
      i -> a.q[i] * b.q[i])) AS DOUBLE) / {SCALE_SQ}.0 >= {_COS_TAU}
"""


@register("q_dedup_cosine_blocked", oracle=_COS_BLOCKED_ORACLE)
def q_dedup_cosine_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine via blocked Gram matrices.

    Vectors are unit-normalized, quantized to int64 (×1e8 — exact,
    associative arithmetic ⇒ engine/plan-order independent), grouped
    into blocks, and every block *pair* computes its sub-Gram with one
    numpy int64 matmul inside one mapInArrow. Work is B(B+1)/2
    independent block pairs — the classic distributed all-pairs layout:
    each task touches two blocks, compute is a dense matmul
    (cache-friendly), and nothing quadratic ever sits in one task's
    memory at scale. Each row carries two ``list<struct<vec_id, q>>``
    blocks rather than one ``q`` column, so this pass keeps its own
    ``mapInArrow`` and decodes each block with ``vecbatch.int_matrix``.

    The block count adapts to the corpus: B = ceil(N / 4096), so a
    block never exceeds 4096 vectors (~2 MB at dim 64) regardless of N
    — per-task memory is constant; only the task COUNT grows with the
    corpus, which is exactly what a cluster absorbs.

    Same semantics as q_dedup_embedding_cosine at 1e-8 quantization.
    """
    import numpy as np
    import pyarrow as pa

    e = table(spark, sf_dir, "embeddings")
    n_blocks = n_blocks_for(e.count())  # parquet-metadata count: cheap
    v = e.select(
        "vec_id",
        quantized(F.col("embedding")).alias("q"),
        (F.col("vec_id") % n_blocks).alias("blk"),
    )
    blocks = v.groupBy("blk").agg(
        F.collect_list(F.struct("vec_id", "q")).alias("vecs")
    )
    bp = (
        blocks.alias("a")
        .join(blocks.alias("b"), F.col("a.blk") <= F.col("b.blk"))
        .select(
            F.col("a.blk").alias("blk_a"),
            F.col("b.blk").alias("blk_b"),
            F.col("a.vecs").alias("va"),
            F.col("b.vecs").alias("vb"),
        )
    )

    def _block(cell):
        vecs = cell.values  # the row's struct<vec_id, q> array
        return vecs.field("vec_id").to_numpy(), int_matrix(vecs.field("q"))

    def _gram(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            blk_a, blk_b = batch.column("blk_a").to_pylist(), batch.column("blk_b").to_pylist()
            out = ([], [], [])
            for r in range(batch.num_rows):
                ids_a, qa = _block(batch.column("va")[r])
                ids_b, qb = _block(batch.column("vb")[r])
                g = qa @ qb.T  # exact int64 sub-Gram
                # compared on dot/SCALE² as double, like the oracle
                keep = g.astype(np.float64) / SCALE_SQ >= _COS_TAU
                if blk_a[r] == blk_b[r]:
                    # diagonal block: each unordered pair appears once
                    keep &= ids_a[:, None] < ids_b[None, :]
                else:
                    # off-diagonal: ids interleave across blocks — emit
                    # every pair once, canonicalized to (min, max) below
                    keep &= ids_a[:, None] != ids_b[None, :]
                ii, jj = np.nonzero(keep)
                out[0].append(np.minimum(ids_a[ii], ids_b[jj]))
                out[1].append(np.maximum(ids_a[ii], ids_b[jj]))
                out[2].append(g[ii, jj])
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.concatenate(c)) for c in out],
                names=["vec_a", "vec_b", "dot_q"],
            )

    pairs = bp.mapInArrow(_gram, "vec_a long, vec_b long, dot_q long")
    return pairs.select(
        "vec_a",
        "vec_b",
        stable_round(F.col("dot_q").cast("double") / SCALE_SQ, 6).alias("cosine"),
    )


# ---------------------------------------------------------------------------
# duplicate clustering: near-dup pairs -> transitive duplicate GROUPS
# (connected components), the step that turns pairwise dedup output into
# keep-one-per-cluster decisions for a training corpus
# ---------------------------------------------------------------------------

_CLUSTER_ORACLE = f"""
WITH RECURSIVE sh AS (
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
), sizes AS (
  SELECT doc_id, len(s) AS n FROM sh
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM tok a JOIN tok b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), pairs AS (
  SELECT doc_a, doc_b FROM shared
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= {_JACCARD_TAU}
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
), walk(node, label) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst AS node, w.label FROM walk w JOIN edges e ON e.src = w.node
), labeled AS (
  SELECT node AS doc_id, min(label) AS cluster_id FROM walk GROUP BY node
)
SELECT doc_id, cluster_id,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
FROM labeled
"""


def _driver_union_find(fwd: DataFrame) -> DataFrame:
    """Union-find (path halving + union by min-root) over a collected
    edge list; returns (node, label=min reachable id) with the input's
    node type. Caller guarantees the edge count is bounded."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    t = fwd.toArrow()
    for a, b in zip(t.column(0).to_pylist(), t.column(1).to_pylist()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # min id wins the root so labels match the distributed
            # algorithms' min-label contract without a second pass
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    node_t = fwd.schema["src"].dataType.simpleString()
    rows = [(n, find(n)) for n in parent]
    return local_frame(fwd.sparkSession, rows, f"node {node_t}, label {node_t}")


def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    local_max_edges: int = LOCAL_MAX_EDGES,
) -> DataFrame:
    """Label every node of an undirected edge list ``(src, dst)`` with
    the minimum node id reachable from it (its connected component).

    Pregel-style min-label propagation: each round every node takes the
    min of its own label and its neighbors' labels — one shuffle per
    round, converging in graph-diameter rounds. Near-dup graphs have
    tiny components (a duplicate family), so the diameter is small and
    this beats the O(log n)-round star-contraction algorithms
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) in constant factors; ``connected_components_star`` below
    is that variant, for corpora with large-diameter components (and
    the documented fallback this function's non-convergence error
    points at). ``localCheckpoint`` truncates the lineage each round so
    the plan does not grow unboundedly.

    Graphs at or under ``local_max_edges`` symmetrized edges short-cut
    to a driver-side union-find (``_driver_union_find``): at that size
    the problem is single-node and one distributed round costs more
    than the whole exact answer. Set ``local_max_edges=0`` to force the
    distributed path regardless of size.
    """
    both = edges.toDF("src", "dst")
    # materialize the symmetrized edge list ONCE: without this every
    # iteration's neighbor join AND convergence count would re-run the
    # full upstream pair-generation plan (for near-dup input, the whole
    # shingle-explode + self-join pipeline) per round
    fwd = (
        both.union(both.select(F.col("dst"), F.col("src")))
        .toDF("src", "dst")
        .localCheckpoint(eager=True)
    )
    # adaptive routing: a graph this small is a driver problem, not a
    # cluster problem (the checkpoint count is already materialized, so
    # this probe is cheap); pass local_max_edges=0 to force the
    # distributed path (tests do, to exercise it at any size)
    if local_max_edges and fwd.count() <= local_max_edges:
        return _driver_union_find(fwd)
    labels = (
        fwd.select(F.col("src").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    labels, _, converged = fixpoint(
        labels, min_label_step(fwd), max_iterations
    )
    if not converged:
        # returning silently here would hand back SPLIT components —
        # wrong cluster_ids with no signal. A graph whose diameter
        # exceeds the round budget needs the O(log n)-round variant.
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "rounds: component diameter exceeds the round budget — use "
            "connected_components_star (large-star/small-star, "
            "O(log n) rounds) or raise max_iterations"
        )
    return labels


def connected_components_star(
    edges: DataFrame,
    max_iterations: int = 50,
    local_max_edges: int = LOCAL_MAX_EDGES,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14): converges in O(log n) rounds regardless of
    component DIAMETER, vs diameter rounds for min-label propagation.
    Same output contract as ``connected_components``: (node, label)
    with label = min node id in the component.

    Use this for corpora whose near-dup graphs form long chains (e.g.
    chained paraphrases), where propagation's per-round frontier walk
    would need thousands of rounds. Each star round is two
    groupBy-min + join shuffles over the current edge set — no
    collect_list, so an arbitrarily high-degree hub never materializes
    its neighborhood in one task.
    """

    def sym(df: DataFrame) -> DataFrame:
        return (
            df.union(df.select(F.col("dst"), F.col("src")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    e0 = edges.toDF("src", "dst")
    e = sym(e0).localCheckpoint(eager=True)
    e_cnt = e.count()
    # same adaptive routing as connected_components above: a graph at
    # or under the cap is a driver problem — a SINGLE star round costs
    # more in fixed job overhead than the whole exact answer (the
    # checkpointed count makes the probe free). local_max_edges=0
    # forces the distributed contraction (tests do, at any size).
    if local_max_edges and e_cnt <= local_max_edges:
        return _driver_union_find(e)
    # every input node must appear in the output even if its edges
    # contract away mid-run (they don't, but cheap insurance)
    all_nodes = e.select(F.col("src").alias("node")).distinct().localCheckpoint(
        eager=True
    )

    def star_mins(ed: DataFrame) -> DataFrame:
        # m(u) = min(Γ(u) ∪ {u}) via groupBy-min — never a neighborhood
        # list in memory
        return (
            ed.groupBy("src")
            .agg(F.min("dst").alias("_mn"))
            .select("src", F.least(F.col("src"), F.col("_mn")).alias("m"))
        )

    def step(
        state: tuple[DataFrame, int], _round: int
    ) -> tuple[tuple[DataFrame, int], bool]:
        e, e_cnt = state
        # large-star: every neighbor v > u links to m(u)
        mins = star_mins(e)
        large = (
            e.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        # NOT checkpointed: e_mid appears twice in the fused small-star
        # plan below, but its shuffles are identical subtrees, so
        # ReuseExchange computes them once; fusing halves the per-round
        # fixed job cost (one checkpoint per L+S round, not two), and
        # the round-end checkpoint still truncates lineage
        e_mid = sym(large)
        # small-star: every neighbor v < u links to m(u), and u itself
        mins = star_mins(e_mid)
        small = (
            e_mid.join(mins, "src")
            .filter(F.col("dst") < F.col("src"))
            .select(F.col("dst").alias("src2"), F.col("m").alias("dst2"))
            .toDF("src", "dst")
            .union(mins.select(F.col("src"), F.col("m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
        )
        # fused_ckpt: materializes inside the fixpoint count below
        new_e = fused_ckpt(sym(small))
        # fixpoint = identical edge set (both sides are distinct sets,
        # so equal counts + empty difference ⇒ equality); the previous
        # round's count is carried in the state, and the subtract job
        # only runs on a count tie — most rounds cost ONE count action
        new_cnt = new_e.count()
        done = new_cnt == e_cnt and new_e.subtract(e).limit(1).count() == 0
        return (new_e, new_cnt), done

    (e, _), _, converged = fixpoint((e, e_cnt), step, max_iterations)
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in "
            f"{max_iterations} rounds — this bounds O(log n) rounds, so "
            "the input is pathological; inspect the edge list"
        )
    # star forest: every node's component min is min(Γ(u) ∪ {u})
    labels = (
        e.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("_mn")).alias("label"),
        )
    )
    return all_nodes.join(labels, "node", "left").select(
        "node", F.coalesce(F.col("label"), F.col("node")).alias("label")
    )


def _cluster_docs(spark: SparkSession, sf_dir: str, cc_fn) -> DataFrame:
    from pyspark.sql import Window as W

    from end_to_end_aws_data_pipeline_spark.cache import persisted

    # digest once into a spread + persisted projection: it feeds THREE
    # consumers (group, membership, representative texts), and without
    # spread() the single-row-group sf scan would serialize the sha2
    # pass on one core per consumer
    docs = persisted(
        spread(table(spark, sf_dir, "documents").select("doc_id", "text"))
        .withColumn("__h", F.sha2("text", 256))
    )
    # one representative (min doc_id) per distinct text; group on the
    # 256-bit digest so the exact-dedup shuffle moves 32 bytes, not the
    # full text
    grp = persisted(
        docs.groupBy("__h").agg(
            F.min("doc_id").alias("rep_id"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )
    reps = docs.join(
        grp.select(F.col("rep_id").alias("doc_id")).distinct(), "doc_id"
    ).select("doc_id", "text")
    pairs = ngram_jaccard_pairs(reps).select("doc_a", "doc_b")
    labels = cc_fn(pairs)  # rep_id -> component label
    # a rep is clustered if it has a near-dup edge (in `labels`) or its
    # text occurs more than once (clones are J=1 edges by definition);
    # component label = min doc_id = min rep_id in the component
    rep_label = (
        grp.select("rep_id", "n_members")
        .join(labels, F.col("rep_id") == F.col("node"), "left")
        .select(
            "rep_id",
            "n_members",
            F.coalesce(F.col("label"), F.col("rep_id")).alias("cluster_id"),
            F.col("label").isNotNull().alias("has_edge"),
        )
        .filter(F.col("has_edge") | (F.col("n_members") > 1))
    )
    # membership expansion joins the corpus against CLUSTERED groups
    # only (grp ⋈ rep_label first): algebraically identical to
    # member ⋈ rep_label but the corpus-sized join output shrinks from
    # all docs to clustered docs, and AQE broadcasts the clustered-group
    # side whenever the near-dup census is small — with no broadcast
    # hint, so a 100 TB corpus whose clustered share is large degrades
    # to a plain shuffle join instead of an OOM.
    clustered = grp.select("__h", "rep_id").join(rep_label, "rep_id")
    w = W.partitionBy("cluster_id")
    return (
        docs.select("doc_id", "__h")
        .join(clustered.select("__h", "cluster_id"), "__h")
        .select("doc_id", "cluster_id")
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
    )


@register("q_dedup_clusters", oracle=_CLUSTER_ORACLE)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: the 3-shingle Jaccard pairs (same edge
    set as q_dedup_ngram_jaccard) closed under transitivity, labeling
    each clustered doc with min-doc_id-in-component + the cluster size.

    This is the operator a curation pipeline actually acts on — "keep
    cluster_id, drop the rest" — rather than raw pairs. (r4: the pair
    generation underneath is the adaptive direct/PPJoin design.) The oracle
    computes the identical labeling with a recursive CTE in DuckDB, so
    the distributed fixpoint is checked against an independent
    single-node graph traversal.

    Scale shape: exact duplicates are collapsed FIRST — identical texts
    have identical shingle sets, so they share every neighbor and are
    pairwise J=1 edges; clustering one representative per distinct text
    and expanding membership afterwards is exactly equivalent to running
    on the full corpus, while shrinking the inverted-index posting lists
    (whose pair-join cost is quadratic in per-shingle document
    frequency). This is the standard exact-then-near dedup order of a
    production curation pipeline; on a clone-heavy corpus it turns a
    superlinear blowup back into ~linear work.

    Components are labeled by min-label propagation (diameter-bounded
    rounds — near-dup families are small); ``q_dedup_clusters_star`` is
    the same pipeline over the O(log n)-round star contraction.
    """
    return _cluster_docs(spark, sf_dir, connected_components)


@register("q_dedup_clusters_star", oracle=_CLUSTER_ORACLE)
def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering (r4 adaptive pair generation) with
    large-star/small-star connected
    components (Kiveris et al. SoCC'14) instead of min-label
    propagation: identical labels — checked against the same recursive-
    CTE oracle — in O(log n) rounds independent of component diameter.
    This is the variant to run on corpora whose duplicate families chain
    (paraphrase cascades), where propagation's round count equals the
    chain length.

    Both variants share the audited adaptive routing: a near-dup graph
    at or under the edge cap short-cuts to the bounded driver
    union-find (a few hundred edges is a driver problem — one star
    round costs more in fixed job overhead than the exact answer),
    while anything larger runs the distributed contraction, which the
    property suite forces at every size via local_max_edges=0."""
    return _cluster_docs(spark, sf_dir, connected_components_star)


# ---------------------------------------------------------------------------
# incremental dedup: new batch vs existing corpus
# ---------------------------------------------------------------------------

# deterministic batch split: docs with doc_id % 10 >= 8 play the "newly
# arrived batch"; the rest are the already-ingested corpus
_BATCH_MOD, _BATCH_MIN = 10, 8

_INCR_ORACLE = f"""
WITH corpus AS (
  SELECT DISTINCT sha256(text) AS digest FROM documents
  WHERE doc_id % {_BATCH_MOD} < {_BATCH_MIN}
), batch AS (
  -- batch-internal exact dedup first: keep the min doc_id per digest
  SELECT min(doc_id) AS doc_id, min(source) AS source,
         min(n_chars) AS n_chars, sha256(text) AS digest
  FROM documents
  WHERE doc_id % {_BATCH_MOD} >= {_BATCH_MIN}
  GROUP BY text
)
SELECT source,
       count(*) AS n_new_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM batch
WHERE NOT EXISTS (SELECT 1 FROM corpus WHERE corpus.digest = batch.digest)
GROUP BY source
"""


@register("q_dedup_incremental", oracle=_INCR_ORACLE)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: a newly-arrived batch is deduplicated
    internally, then anti-joined against the digests of the existing
    corpus — only genuinely-new documents survive. This is the daily
    operation of a production corpus (reference repo's whole premise of
    delta loads — delta_load.py:104 — re-expressed for content
    identity): NEVER re-dedup the accumulated corpus per batch, only
    join the delta against its digest index.

    Scale shape: both sides shuffle 32-byte sha256 digests, not text
    (the same digest-vs-text choice as q_dedup_exact); the corpus side
    projects exactly one column, so at 100 TB the anti-join reads a
    digest index, and the work is proportional to the BATCH, not the
    corpus. With the corpus digest set bucketed/persisted by digest
    (ingest/merge.py layout ops), the per-batch cost is one
    partition-local probe."""
    docs = table(spark, sf_dir, "documents")
    is_batch = F.pmod(F.col("doc_id"), F.lit(_BATCH_MOD)) >= _BATCH_MIN
    corpus_digests = (
        docs.filter(~is_batch).select(F.sha2("text", 256).alias("digest")).distinct()
    )
    batch = (
        docs.filter(is_batch)
        .groupBy(F.sha2("text", 256).alias("digest"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min("source").alias("source"),
            F.min("n_chars").alias("n_chars"),
        )
    )
    fresh = batch.join(corpus_digests, "digest", "left_anti")
    return fresh.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_new_docs"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


# ---------------------------------------------------------------------------
# bloom-filtered incremental dedup (the 100 TB shape of the anti-join)
# ---------------------------------------------------------------------------

_BLOOM_BITS_PER_ELEM = 10  # with k=7 hashes -> ~0.8% false-positive rate
_BLOOM_K = 7


def digest_bloom(corpus_digests: DataFrame, n_elements: int):
    """Build a Bloom filter over a digest column as (bitmap, m_bits):
    k=7 positions per digest via seeded xxhash64, per-64-bit-word OR
    aggregation (map-side combinable), sparse driver collect of the set
    words only. Spark's own `bloom_filter_agg` is not in the public
    function registry, so this is the same construction in userland —
    and unlike `DataFrameStatFunctions.bloomFilter` (JVM-only object)
    the result is a plain array<long> that broadcasts into expressions.

    Sizing: 10 bits/element ≈ 0.8% fpp. The bitmap is m/8 bytes —
    125 MB at 10^8 corpus digests, the practical ceiling for a single
    broadcast; beyond that, shard by digest prefix and build one bloom
    per shard (noted in q_dedup_incremental_bloom's docstring)."""
    m_bits = max(64, ((n_elements * _BLOOM_BITS_PER_ELEM + 63) // 64) * 64)
    pos = corpus_digests.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col("digest"), F.lit(i)), F.lit(m_bits))
                    for i in range(_BLOOM_K)
                ]
            )
        ).alias("p")
    )
    words = (
        pos.select(
            (F.col("p") / 64).cast("long").alias("widx"),
            F.expr("shiftleft(1L, cast(pmod(p, 64) as int))").alias("w"),
        )
        .groupBy("widx")
        .agg(F.expr("bit_or(w)").alias("w"))
        .collect()
    )
    bitmap = [0] * (m_bits // 64)
    for r in words:
        bitmap[r["widx"]] = r["w"]
    return bitmap, m_bits


def bloom_might_contain(m_bits: int) -> Column:
    """Membership expression against a broadcast ``bloom`` array<long>
    column for a ``digest`` column: all k seeded positions set."""
    cond = F.lit(True)
    for i in range(_BLOOM_K):
        p = F.pmod(F.xxhash64(F.col("digest"), F.lit(i)), F.lit(m_bits))
        word = F.element_at("bloom", ((p / 64).cast("long") + 1).cast("int"))
        bit = F.expr(
            f"shiftleft(1L, cast(pmod(pmod(xxhash64(digest, {i}), {m_bits}),"
            " 64) as int))"
        )
        cond = cond & (word.bitwiseAND(bit) != 0)
    return cond


@register("q_dedup_incremental_bloom", oracle=_INCR_ORACLE)
def q_dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup through a Bloom-filter pre-screen — IDENTICAL
    output to q_dedup_incremental (same oracle), different physical
    shape: the corpus digest set folds into a ~10-bits-per-element
    bitmap ONCE; batch rows whose digests miss the bloom are provably
    new (no false negatives) and skip the anti-join entirely; only the
    bloom HITS — true duplicates plus ~0.8% false positives — verify
    against the corpus. At 100 TB the anti-join's corpus-side shuffle
    is the dominant cost of the exact variant; here it shrinks to the
    duplicate-rate-sized subset, which is the semi-join reduction
    Catalyst's runtime bloom filter applies to joins, made explicit and
    reusable across batches (build once, screen every arriving batch).
    Beyond ~10^8 corpus digests (125 MB bitmap), shard the bloom by
    digest prefix and union the screens."""
    from end_to_end_aws_data_pipeline_spark.cache import persisted

    docs = table(spark, sf_dir, "documents")
    is_batch = F.pmod(F.col("doc_id"), F.lit(_BATCH_MOD)) >= _BATCH_MIN
    corpus_digests = persisted(
        docs.filter(~is_batch).select(F.sha2("text", 256).alias("digest")).distinct()
    )
    bitmap, m_bits = digest_bloom(corpus_digests, corpus_digests.count())
    bloom_df = F.broadcast(
        local_frame(docs.sparkSession, [(bitmap,)], "bloom array<long>")
    )
    batch = (
        docs.filter(is_batch)
        .groupBy(F.sha2("text", 256).alias("digest"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min("source").alias("source"),
            F.min("n_chars").alias("n_chars"),
        )
    )
    screened = batch.crossJoin(bloom_df).withColumn(
        "__maybe", bloom_might_contain(m_bits)
    )
    definite_new = screened.filter(~F.col("__maybe")).drop("bloom", "__maybe")
    verified_new = (
        screened.filter(F.col("__maybe"))
        .drop("bloom", "__maybe")
        .join(corpus_digests, "digest", "left_anti")
    )
    fresh = definite_new.unionByName(verified_new)
    return fresh.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_new_docs"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


# ---------------------------------------------------------------------------
# sharded bloom (the >10^8-element shape the single bitmap can't reach)
# ---------------------------------------------------------------------------

_BLOOM_N_SHARDS = 8


def _bloom_shard(n_shards: int) -> Column:
    """Shard assignment for a ``digest`` column: the digest's leading
    hex byte modulo n_shards — a PREFIX shard, so a corpus stored
    digest-sorted (or bucketed by digest) builds each shard's filter
    from a contiguous key range."""
    return F.pmod(F.conv(F.substring("digest", 1, 2), 16, 10).cast("long"),
                  F.lit(n_shards))


def digest_bloom_sharded(corpus_digests: DataFrame, n_elements: int):
    """Sharded Bloom build: the digest space splits by leading-byte
    prefix into ``_BLOOM_N_SHARDS`` independent filters, each sized for
    its expected share of elements — so no single bitmap needs to fit a
    broadcast, only the per-shard slice a row actually consults.  All
    shards build in ONE aggregation pass (groupBy (shard, word-index)
    with bit_or, map-side combinable); the driver holds exactly the
    same total set-word count as the single-bitmap build, just keyed.

    This is the >10^8-element continuation of digest_bloom: at 10^9
    corpus digests, 10 bits/elem is a 1.25 GB bitmap — unbroadcastable
    as one array but fine as 16+ shards of ~78 MB that join to the
    batch on the shard key (a broadcast of the shard TABLE, each row
    one shard's array).  sha2 digests are uniform, so prefix shards
    balance to n/_BLOOM_N_SHARDS within noise and the per-shard fpp
    stays at the 10-bits-per-element ~0.8%."""
    per_shard = max(1, -(-n_elements // _BLOOM_N_SHARDS))
    m_bits = max(64, ((per_shard * _BLOOM_BITS_PER_ELEM + 63) // 64) * 64)
    pos = corpus_digests.select(
        _bloom_shard(_BLOOM_N_SHARDS).alias("shard"),
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col("digest"), F.lit(i)), F.lit(m_bits))
                    for i in range(_BLOOM_K)
                ]
            )
        ).alias("p"),
    )
    words = (
        pos.select(
            "shard",
            (F.col("p") / 64).cast("long").alias("widx"),
            F.expr("shiftleft(1L, cast(pmod(p, 64) as int))").alias("w"),
        )
        .groupBy("shard", "widx")
        .agg(F.expr("bit_or(w)").alias("w"))
        .collect()
    )
    bitmaps = {s: [0] * (m_bits // 64) for s in range(_BLOOM_N_SHARDS)}
    for r in words:
        bitmaps[r["shard"]][r["widx"]] = r["w"]
    return bitmaps, m_bits


@register("q_dedup_incremental_bloom_sharded", oracle=_INCR_ORACLE)
def q_dedup_incremental_bloom_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sharded-bloom twin of q_dedup_incremental_bloom — IDENTICAL
    output (same oracle as the exact anti-join), but the corpus filter
    is _BLOOM_N_SHARDS independent per-prefix bitmaps delivered as a
    broadcast shard TABLE the batch equi-joins on its digest prefix,
    instead of one monolithic array.  Exercises the documented ceiling
    plan: past ~10^8 corpus digests a single 125 MB+ bitmap stops
    broadcasting as one literal, while shard rows scale out — the
    shard count is the knob that keeps every individual array
    comfortably under executor/broadcast limits at any corpus size.
    No false negatives per shard (property-tested), so bloom misses
    skip the anti-join exactly as in the single-bitmap variant."""
    from end_to_end_aws_data_pipeline_spark.cache import persisted

    docs = table(spark, sf_dir, "documents")
    is_batch = F.pmod(F.col("doc_id"), F.lit(_BATCH_MOD)) >= _BATCH_MIN
    corpus_digests = persisted(
        docs.filter(~is_batch).select(F.sha2("text", 256).alias("digest")).distinct()
    )
    bitmaps, m_bits = digest_bloom_sharded(corpus_digests, corpus_digests.count())
    bloom_df = F.broadcast(
        local_frame(
            spark,
            [(int(s), bm) for s, bm in sorted(bitmaps.items())],
            "shard long, bloom array<long>",
        )
    )
    batch = (
        docs.filter(is_batch)
        .groupBy(F.sha2("text", 256).alias("digest"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min("source").alias("source"),
            F.min("n_chars").alias("n_chars"),
        )
        .withColumn("shard", _bloom_shard(_BLOOM_N_SHARDS))
    )
    screened = batch.join(bloom_df, "shard").withColumn(
        "__maybe", bloom_might_contain(m_bits)
    )
    definite_new = screened.filter(~F.col("__maybe")).drop(
        "shard", "bloom", "__maybe"
    )
    verified_new = (
        screened.filter(F.col("__maybe"))
        .drop("shard", "bloom", "__maybe")
        .join(corpus_digests, "digest", "left_anti")
    )
    fresh = definite_new.unionByName(verified_new)
    return fresh.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_new_docs"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


# ---------------------------------------------------------------------------
# Cross-document repeated passages (exact shared-8-gram count)
# ---------------------------------------------------------------------------

_REP_N = 8  # words per passage window
_REP_MIN = 3  # pairs must share at least this many distinct 8-grams

_REP_ORACLE = f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(string_split(text,' ')) - {_REP_N - 1}, 1) + 1),
           i -> md5(concat_ws(' ',
             {", ".join(f"string_split(text,' ')[i+{j}]" for j in range(_REP_N))}))
         )) AS s
  FROM documents
), tok AS (
  SELECT doc_id, unnest(s) AS g FROM sh
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM tok a JOIN tok b ON a.g = b.g AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= {_REP_MIN}
"""


@register("q_dedup_repeated_ngrams", oracle=_REP_ORACLE)
def q_dedup_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-passage detection: pairs of documents
    sharing ≥ 3 distinct 8-word windows — the exact substring-level
    duplication signal (Lee et al., "Deduplicating Training Data Makes
    Language Models Better", ACL'22 — there at 50-token granularity
    over suffix arrays; here at passage granularity over an inverted
    index, the join-friendly distributed shape).

    Distinct from 3-gram Jaccard: no normalization by document length,
    so a long document quoting one paragraph of another still fires —
    the boilerplate/quotation detector rather than the whole-document
    near-dup detector. Windows join on md5 digests (32 B fixed keys the
    oracle recomputes identically; an 8-word string key would shuffle
    ~2× the bytes). 8-grams are rare — df is near 1 for normal text —
    so the inverted-index join output stays close to the true pair
    count at any corpus size; the Σ df² probe logic of the Jaccard
    path is unnecessary here by construction.
    """
    d = spread(table(spark, sf_dir, "documents").select("doc_id", "text")).select(
        "doc_id", shingles(F.col("text"), k=_REP_N).alias("s")
    )
    tok = d.select("doc_id", F.explode("s").alias("gram")).select(
        "doc_id", F.md5("gram").alias("g")
    )
    a = tok.select(F.col("doc_id").alias("doc_a"), "g")
    b = tok.select(F.col("doc_id").alias("doc_b"), "g")
    return (
        a.join(b, "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _REP_MIN)
    )


# ---------------------------------------------------------------------------
# longest shared token run per pair (suffix-array-style substring dedup
# at ARBITRARY overlap length, via anchors + gaps-and-islands)
# ---------------------------------------------------------------------------

_RUN_ANCHOR = 8  # anchor k-gram width (detection floor)
_RUN_MIN = 20  # report runs of at least this many shared tokens
# hot-anchor guard: an anchor shared by d documents emits d(d-1)/2
# candidate pairs, so one boilerplate 8-gram in millions of documents
# is a quadratic bomb. Anchors with df beyond the cap are boilerplate,
# not passage duplication — dropped identically in both engines (the
# fixtures' max df is 8, so the cap is semantics-neutral there).
_RUN_DF_CAP = 1000


def positional_shingles(text: Column, k: int) -> Column:
    """Word k-shingles of a text column WITH positions preserved —
    element i of the result is the k-gram starting at word i (1-based
    after posexplode+1). Unlike shingles(), duplicates are kept and
    order is positional, so consecutive equal anchors across two
    documents reconstruct shared runs exactly."""
    words = F.split(text, " ")
    n = F.size(words)
    tri = words
    for j in range(1, k):
        shifted = F.slice(words, j + 1, F.greatest(n - j, F.lit(0)))
        tri = F.zip_with(tri, shifted, lambda x, y: F.concat_ws(" ", x, y))
    return F.slice(tri, 1, F.greatest(n - k + 1, F.lit(1)))


_RUN_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), anch AS (
  SELECT doc_id, i AS pos,
         md5(concat_ws(' ',
           {", ".join(f"toks[i+{j}]" for j in range(_RUN_ANCHOR))})) AS g
  FROM w, unnest(range(1, greatest(len(toks) - {_RUN_ANCHOR - 1}, 0) + 1))
       AS t(i)
), grp AS (
  SELECT g FROM anch GROUP BY g
  HAVING count(*) >= 2 AND count(*) <= {_RUN_DF_CAP}
), hit AS (
  SELECT a.* FROM anch a JOIN grp USING (g)
), m AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.pos AS pa, a.pos - b.pos AS off
  FROM hit a JOIN hit b ON a.g = b.g AND a.doc_id < b.doc_id
), isl AS (
  SELECT doc_a, doc_b, off,
         pa - row_number() OVER (
           PARTITION BY doc_a, doc_b, off ORDER BY pa) AS isl_id
  FROM m
), runs AS (
  SELECT doc_a, doc_b, count(*) + {_RUN_ANCHOR - 1} AS run_len
  FROM isl GROUP BY doc_a, doc_b, off, isl_id
)
SELECT doc_a, doc_b,
       CAST(max(run_len) AS BIGINT) AS longest_run,
       CAST(count(*) AS BIGINT) AS n_runs,
       CAST(sum(run_len) AS BIGINT) AS dup_tokens
FROM runs
WHERE run_len >= {_RUN_MIN}
GROUP BY doc_a, doc_b
"""


def _shared_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-run detection core: (doc_a, doc_b, off, run_len, pa_lo,
    pa_hi) for every exactly-shared token run of >= _RUN_MIN tokens —
    the engine behind q_dedup_longest_run (pair statistics) and
    q_dedup_run_removal (per-document span coverage).

    Suffix-style exact substring dedup at ARBITRARY overlap length
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better", ACL'22 — there via suffix arrays at 50-token granularity):
    for every document pair, the LONGEST exactly-shared token run, plus
    how many distinct runs of ≥ {_RUN_MIN} tokens they share and the
    total duplicated token volume. Unlike q_dedup_repeated_ngrams
    (which counts fixed 8-token chunks), the detected overlap length is
    exact for any run ≥ the anchor width: a shared run of L tokens
    produces exactly L-k+1 consecutive k-gram anchor matches at one
    (doc_a - doc_b) position offset, so run length reconstructs as
    (consecutive anchors) + k - 1.

    Distributed shape (the suffix array's join-friendly equivalent):
    positional k-gram anchors -> md5 digest equi-join (digests shuffle,
    text never does) -> gaps-and-islands per (pair, offset): island id
    = pos - row_number, one bounded window per (pair, offset) group —
    never per-corpus. Anchor df is ~1 for natural text, so join output
    tracks true duplicated-passage volume; the threshold applies to
    reconstructed run length, so raising the report floor ({_RUN_MIN})
    needs no re-anchoring. At 100 TB the same plan holds: the anchor
    index is the only shuffled relation and islands are local to
    matched pairs."""
    d = spread(table(spark, sf_dir, "documents").select("doc_id", "text"))
    anch = d.select(
        "doc_id",
        F.posexplode(
            positional_shingles(F.col("text"), k=_RUN_ANCHOR)
        ).alias("pos0", "gram"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), F.md5("gram").alias("g"))
    # Pair generation via ONE digest groupBy, not a self-join: the
    # self-join form recomputes the corpus-sized explode+md5 for both
    # sides (measured 45.6 s at sf10); grouping computes anchors once,
    # shuffles once, and expands i<j pairs inside each (tiny, df-capped)
    # group with pure expressions. collect_list state per group is
    # bounded by _RUN_DF_CAP occurrences.
    grp = (
        anch.groupBy("g")
        .agg(F.collect_list(F.struct("doc_id", "pos")).alias("xs"))
        .filter((F.size("xs") >= 2) & (F.size("xs") <= _RUN_DF_CAP))
    )
    pair = F.explode(
        F.expr(
            "flatten(transform(xs, (x, i) ->"
            " filter(transform(slice(xs, i + 2, size(xs)), y ->"
            " struct(if(x.doc_id < y.doc_id, x, y) AS lo,"
            "        if(x.doc_id < y.doc_id, y, x) AS hi)),"
            " p -> p.lo.doc_id != p.hi.doc_id)))"
        )
    ).alias("p")
    m = grp.select(pair).select(
        F.col("p.lo.doc_id").alias("doc_a"),
        F.col("p.hi.doc_id").alias("doc_b"),
        F.col("p.lo.pos").alias("pa"),
        (F.col("p.lo.pos") - F.col("p.hi.pos")).alias("off"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_a", "doc_b", "off").orderBy("pa")
    isl = m.select(
        "doc_a",
        "doc_b",
        "off",
        "pa",
        (F.col("pa") - F.row_number().over(w)).alias("isl_id"),
    )
    return (
        isl.groupBy("doc_a", "doc_b", "off", "isl_id")
        .agg(
            (F.count(F.lit(1)) + F.lit(_RUN_ANCHOR - 1)).alias("run_len"),
            F.min("pa").alias("pa_lo"),
            F.max("pa").alias("pa_hi"),
        )
        .filter(F.col("run_len") >= _RUN_MIN)
    )


@register("q_dedup_longest_run", oracle=_RUN_ORACLE)
def q_dedup_longest_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    runs = _shared_runs(spark, sf_dir)
    return runs.groupBy("doc_a", "doc_b").agg(
        F.max("run_len").cast("long").alias("longest_run"),
        F.count(F.lit(1)).cast("long").alias("n_runs"),
        F.sum("run_len").cast("long").alias("dup_tokens"),
    )


_REMOVAL_ORACLE = f"""
WITH w AS MATERIALIZED (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), anch AS MATERIALIZED (
  SELECT doc_id, i AS pos,
         md5(concat_ws(' ',
           {", ".join(f"toks[i+{j}]" for j in range(_RUN_ANCHOR))})) AS g
  FROM w, unnest(range(1, greatest(len(toks) - {_RUN_ANCHOR - 1}, 0) + 1))
       AS t(i)
), grp AS MATERIALIZED (
  SELECT g FROM anch GROUP BY g
  HAVING count(*) >= 2 AND count(*) <= {_RUN_DF_CAP}
), hit AS MATERIALIZED (
  SELECT a.* FROM anch a JOIN grp USING (g)
), m AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.pos AS pa, a.pos - b.pos AS off
  FROM hit a JOIN hit b ON a.g = b.g AND a.doc_id < b.doc_id
), isl AS MATERIALIZED (
  SELECT doc_a, doc_b, off, pa,
         pa - row_number() OVER (
           PARTITION BY doc_a, doc_b, off ORDER BY pa) AS isl_id
  FROM m
), runs AS MATERIALIZED (
  SELECT doc_a, doc_b, off,
         count(*) + {_RUN_ANCHOR - 1} AS run_len,
         min(pa) AS pa_lo, max(pa) AS pa_hi
  FROM isl GROUP BY doc_a, doc_b, off, isl_id
  HAVING count(*) + {_RUN_ANCHOR - 1} >= {_RUN_MIN}
), spans AS MATERIALIZED (
  SELECT doc_a AS doc_id, pa_lo AS s,
         pa_hi + {_RUN_ANCHOR - 1} AS e FROM runs
  UNION ALL
  SELECT doc_b, pa_lo - off, pa_hi - off + {_RUN_ANCHOR - 1} FROM runs
), marked AS MATERIALIZED (
  SELECT doc_id, s, e,
         CASE WHEN max(e) OVER (
                PARTITION BY doc_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
              ) IS NULL
           OR s > max(e) OVER (
                PARTITION BY doc_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         THEN 1 ELSE 0 END AS new_isl
  FROM spans
), numbered AS MATERIALIZED (
  SELECT doc_id, s, e,
         sum(new_isl) OVER (
           PARTITION BY doc_id ORDER BY s, e
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp_id
  FROM marked
), cov AS MATERIALIZED (
  SELECT doc_id, CAST(sum(clen) AS BIGINT) AS dup_tokens FROM (
    SELECT doc_id, max(e) - min(s) + 1 AS clen
    FROM numbered GROUP BY doc_id, grp_id
  ) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       CAST(coalesce(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       floor((1.0 - coalesce(c.dup_tokens, 0)
              / CAST(len(string_split(d.text, ' ')) AS DOUBLE))
             * 1000000 + 0.5) / 1000000 AS kept_frac
FROM documents d LEFT JOIN cov c USING (doc_id)
"""


@register("q_dedup_run_removal", oracle=_REMOVAL_ORACLE)
def q_dedup_run_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL half of substring dedup (Lee et al. ACL'22 removes
    every duplicated span, not just flags pairs): per document, how
    many tokens are covered by at least one exactly-shared run of
    >= 20 tokens with ANY other document, and the kept
    fraction after cutting them.

    Each shared run covers a token interval on BOTH documents of its
    pair (doc_a: [pa_lo, pa_hi + k - 1]; doc_b: the same shifted by
    -off); overlapping intervals must not double-count, so coverage is
    the classic interval-union: per document, order spans by (start,
    end), a span opens a new union-group when its start exceeds the
    running max end (gaps-and-islands again, this time on intervals),
    and each group contributes max(end) - min(start) + 1 tokens.

    Scale shape: the run detection is _shared_runs (one digest
    groupBy, df-capped); span rows are 2x the run count; the
    interval-union window partitions per DOCUMENT (bounded by that
    document's span count, never corpus-sized). Documents with no
    duplicated span report dup_tokens = 0 via the left join —
    kept_frac 1.0 — so the output is a full per-document audit."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    runs = _shared_runs(spark, sf_dir)
    k1 = F.lit(_RUN_ANCHOR - 1)
    spans = runs.select(
        F.col("doc_a").alias("doc_id"),
        F.col("pa_lo").alias("s"),
        (F.col("pa_hi") + k1).alias("e"),
    ).unionByName(
        runs.select(
            F.col("doc_b").alias("doc_id"),
            (F.col("pa_lo") - F.col("off")).alias("s"),
            (F.col("pa_hi") - F.col("off") + k1).alias("e"),
        )
    )
    from pyspark.sql import Window as W

    wp = W.partitionBy("doc_id").orderBy("s", "e")
    prev_max = F.max("e").over(wp.rowsBetween(W.unboundedPreceding, -1))
    marked = spans.select(
        "doc_id",
        "s",
        "e",
        F.when(
            prev_max.isNull() | (F.col("s") > prev_max), 1
        ).otherwise(0).alias("new_isl"),
    )
    numbered = marked.select(
        "doc_id",
        "s",
        "e",
        F.sum("new_isl")
        .over(wp.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("grp_id"),
    )
    cov = (
        numbered.groupBy("doc_id", "grp_id")
        .agg((F.max("e") - F.min("s") + 1).alias("clen"))
        .groupBy("doc_id")
        .agg(F.sum("clen").cast("long").alias("dup_tokens"))
    )
    n_tok = F.size(F.split("text", " ")).cast("long")
    out = d.join(cov, "doc_id", "left").select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        stable_round(
            1.0 - F.coalesce("dup_tokens", F.lit(0)) / n_tok.cast("double"),
            6,
        ).alias("kept_frac"),
    )
    return out


# ---------------------------------------------------------------------------
# winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03) — the
# sublinear production screen for substring duplication
# ---------------------------------------------------------------------------

_WIN_K = 8  # token k-gram width (same granularity as the run detector)
_WIN_W = 4  # winnowing window: any shared run of >= k+w-1 tokens is caught
_WIN_M = 2  # report pairs sharing at least this many fingerprints

_WINNOW_ORACLE = f"""
WITH w AS MATERIALIZED (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), anch AS MATERIALIZED (
  SELECT doc_id, i AS pos,
         ('0x' || substr(md5(concat_ws(' ',
           {", ".join(f"toks[i+{j}]" for j in range(_WIN_K))})), 1, 15))::BIGINT
           AS h
  FROM w, unnest(range(1, greatest(len(toks) - {_WIN_K - 1}, 0) + 1))
       AS t(i)
), sel AS MATERIALIZED (
  SELECT doc_id,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING)
           AS fp,
         pos,
         max(pos) OVER (PARTITION BY doc_id) AS n_pos
  FROM anch
), fp AS MATERIALIZED (
  SELECT DISTINCT doc_id, fp FROM sel WHERE pos <= n_pos - {_WIN_W - 1}
), hot AS MATERIALIZED (
  SELECT fp FROM fp GROUP BY fp
  HAVING count(*) >= 2 AND count(*) <= {_RUN_DF_CAP}
), hit AS MATERIALIZED (
  SELECT f.* FROM fp f JOIN hot USING (fp)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_prints
FROM hit a JOIN hit b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= {_WIN_M}
"""


@register("q_dedup_winnowing", oracle=_WINNOW_ORACLE)
def q_dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): per document, keep the MINIMUM
    k-gram hash of every 4-hash window; two documents sharing
    any token run of >= k + w - 1 = {_WIN_K + _WIN_W - 1} tokens are
    GUARANTEED to share a fingerprint (the window guarantee), while
    only ~2/(w+1) of all k-grams survive as fingerprints. This is the
    sublinear production screen in front of q_dedup_longest_run's
    exact run reconstruction: the fingerprint index is ~{_WIN_W + 1}x
    smaller than the full anchor index, and candidate pairs then feed
    the exact detector.

    A window's selected fingerprint SET per document is exactly the
    set of distinct window-minima, so selection is one windowed min
    (bounded frame of 4 rows, partitioned per document) + one
    distinct — no argmin bookkeeping. Pair generation reuses the
    grouped i<j expansion (one shuffle of int64 fingerprints,
    df-capped) rather than a self-join. Full windows only (the tail
    positions see < w hashes and are excluded identically in both
    engines)."""
    d = spread(table(spark, sf_dir, "documents").select("doc_id", "text"))
    anch = d.select(
        "doc_id",
        F.posexplode(
            positional_shingles(F.col("text"), k=_WIN_K)
        ).alias("pos0", "gram"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    from pyspark.sql import Window as W

    wf = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(W.currentRow, _WIN_W - 1)
    )
    wd = W.partitionBy("doc_id")
    sel = anch.select(
        "doc_id",
        F.min("h").over(wf).alias("fp"),
        "pos",
        F.max("pos").over(wd).alias("n_pos"),
    )
    fp = (
        sel.filter(F.col("pos") <= F.col("n_pos") - (_WIN_W - 1))
        .select("doc_id", "fp")
        .distinct()
    )
    grp = (
        fp.groupBy("fp")
        .agg(F.collect_list("doc_id").alias("xs"))
        .filter((F.size("xs") >= 2) & (F.size("xs") <= _RUN_DF_CAP))
    )
    pair = F.explode(
        F.expr(
            "flatten(transform(xs, (x, i) ->"
            " transform(slice(xs, i + 2, size(xs)), y ->"
            " struct(least(x, y) AS a, greatest(x, y) AS b))))"
        )
    ).alias("p")
    return (
        grp.select(pair)
        .select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_prints"))
        .filter(F.col("n_prints") >= _WIN_M)
    )


# ---------------------------------------------------------------------------
# n-gram containment: asymmetric quote/subset detection
# ---------------------------------------------------------------------------

_CONT_K = 3  # word shingle width (same granularity as the Jaccard path)
_CONT_TAU = 0.8  # containment threshold: >=80% of the smaller doc's shingles

_CONT_ORACLE = f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(string_split(text, ' ')) - {_CONT_K - 1}, 1) + 1),
           i -> concat_ws(' ',
             {", ".join(f"string_split(text, ' ')[i+{j}]" for j in range(_CONT_K))})
         )) AS s
  FROM documents
), tok AS (
  SELECT doc_id, len(s) AS n_sh, unnest(s) AS g FROM sh
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         any_value(a.n_sh) AS n_a,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM tok a JOIN tok b ON a.g = b.g AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a AS contained_id, doc_b AS container_id,
       n_shared, CAST(n_a AS BIGINT) AS n_shingles,
       floor(CAST(n_shared AS DOUBLE) / n_a * 1000000 + 0.5) / 1000000
         AS containment
FROM pairs
WHERE n_shared * 1.0 >= {_CONT_TAU} * n_a
"""


@register("q_dedup_containment", oracle=_CONT_ORACLE)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT C(A→B) = |S_A∩S_B| / |S_A|: flags
    documents ≥80% of whose 3-gram shingles appear in another
    document — the quote/subset/boilerplate-inclusion detector that
    symmetric Jaccard structurally misses (a paragraph fully quoted
    inside a 100× longer page has Jaccard ≈ 1%, containment = 100%).
    Broder's resemblance-vs-containment distinction (SEQUENCES'97),
    the curation rule behind "drop pages that are mostly a copy of a
    bigger page".

    Same inverted-index shape as q_dedup_repeated_ngrams: explode
    distinct shingles, equi-join on md5 digests, count per ordered
    pair, normalize by the CONTAINED side's shingle count carried
    through the join (no second pass over the corpus).  Ordered pairs
    double the join output vs the a<b convention, which is the price
    of an asymmetric measure; at 100 TB the candidate space is still
    df-bounded (Σ df² over shingles), and a production run would
    df-cap stop-shingles first — kept exact here so the oracle pins
    every pair.
    """
    d = spread(table(spark, sf_dir, "documents").select("doc_id", "text")).select(
        "doc_id", shingles(F.col("text"), k=_CONT_K).alias("s")
    )
    tok = d.select(
        "doc_id", F.size("s").alias("n_sh"), F.explode("s").alias("gram")
    ).select("doc_id", "n_sh", F.md5("gram").alias("g"))
    a = tok.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"), "g"
    )
    b = tok.select(F.col("doc_id").alias("doc_b"), "g")
    pairs = (
        a.join(b, "g")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.first("n_a").alias("n_a"),
            F.count(F.lit(1)).cast("long").alias("n_shared"),
        )
    )
    return pairs.filter(
        F.col("n_shared") * 1.0 >= _CONT_TAU * F.col("n_a")
    ).select(
        F.col("doc_a").alias("contained_id"),
        F.col("doc_b").alias("container_id"),
        "n_shared",
        F.col("n_a").cast("long").alias("n_shingles"),
        stable_round(F.col("n_shared").cast("double") / F.col("n_a"), 6).alias(
            "containment"
        ),
    )


# ---------------------------------------------------------------------------
# canonicalized dedup, keep-best policy
# ---------------------------------------------------------------------------

_CANON_ORACLE = """
WITH fp AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
         md5(array_to_string(list_sort(string_split(text, ' ')), ' '))
           AS fingerprint
  FROM documents
), ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY fingerprint
                            ORDER BY n_chars DESC, doc_id) AS rk,
         CAST(count(*) OVER (PARTITION BY fingerprint) AS BIGINT) AS n_copies
  FROM fp
)
SELECT doc_id, source, n_chars, fingerprint, n_copies
FROM ranked WHERE rk = 1
"""


@register("q_dedup_canonical", oracle=_CANON_ORACLE)
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalized dedup with a KEEP-BEST policy: documents are
    grouped by the md5 of their SORTED word multiset (so re-orderings
    of the same content collapse to one fingerprint — the cheap
    canonical form between exact-bytes dedup and Jaccard near-dup),
    and each group keeps its highest-quality copy (longest, then
    lowest doc_id) instead of first-seen.

    Keep-best is the policy real corpus dedup wants — when a page is
    crawled five times you keep the least-truncated capture, not the
    one that happened to sort first (cf. q_dedup_exact, which states
    the first-seen variant). Shape: fingerprint is expression-only at
    scan speed; ONE hash shuffle on the 16-byte digest (never the
    text); the window state per group is the copy count. The
    fingerprint column doubles as the join key for incremental runs
    exactly like the sha-256 digest index in q_dedup_incremental."""
    d = table(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.split(F.col("text"), " "))))
    from pyspark.sql.window import Window

    base = d.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        fp.alias("fingerprint"),
    )
    wrank = Window.partitionBy("fingerprint").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    wcnt = Window.partitionBy("fingerprint")
    return (
        base.withColumn("rk", F.row_number().over(wrank))
        .withColumn("n_copies", F.count(F.lit(1)).over(wcnt).cast("long"))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )


# ---------------------------------------------------------------------------
# line-level (paragraph) dedup: CCNet-style boilerplate removal
# ---------------------------------------------------------------------------

_LINE_W = 8  # tokens per "line" (the corpus has no newlines; fixed-width
# chunks stand in for CCNet's newline-split paragraphs)

_LINE_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), ch AS (
  SELECT doc_id,
         unnest(list_transform(
           range(0, greatest(CAST(ceil(len(toks) / {_LINE_W}.0) AS INT), 1)),
           i -> md5(array_to_string(
                  list_slice(toks, i * {_LINE_W} + 1, i * {_LINE_W} + {_LINE_W}),
                  ' '))
         )) AS g
  FROM t
), df AS (
  SELECT g, count(DISTINCT doc_id) AS df FROM ch GROUP BY g
)
SELECT ch.doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_lines,
       floor((1.0 - sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END)
                   / CAST(count(*) AS DOUBLE)) * 1000000 + 0.5) / 1000000
         AS kept_frac
FROM ch JOIN df USING (g)
GROUP BY ch.doc_id
"""


@register("q_dedup_lines", oracle=_LINE_ORACLE)
def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style line-level dedup (Wenzek et al., "CCNet: Extracting
    High Quality Monolingual Datasets from Web Crawl Data", LREC'20):
    split every document into lines, hash each line, count how many
    DISTINCT documents contain it corpus-wide, and score each document
    by the fraction of its lines that survive dropping every line seen
    in ≥2 documents — the standard boilerplate/header/footer filter
    that runs BEFORE document-level near-dup in a crawl pipeline.

    The test corpus has no newlines, so a "line" is a fixed
    8-token chunk; the mechanics (explode → 16-byte md5 keys →
    distinct-doc frequency → join back → per-doc aggregate) are
    identical either way.

    Scale shape: the line-frequency table is one groupBy over md5
    digests — shuffle bytes are 16 B per line regardless of line
    text length, the same never-shuffle-raw-text discipline as
    q_dedup_exact. The join back is digest-keyed and combinable;
    nothing driver-side. CCNet runs exactly this shape over each
    Common Crawl snapshot (they hash paragraphs with SHA1; md5 here
    matches the engine's other digest oracles)."""
    d = spread(table(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = F.split(F.col("text"), " ")
    n_chunks = F.greatest(
        F.ceil(F.size(toks) / float(_LINE_W)).cast("int"), F.lit(1)
    )
    lines = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.md5(
            F.array_join(F.slice(toks, i * _LINE_W + 1, F.lit(_LINE_W)), " ")
        ),
    )
    ch = d.select("doc_id", F.explode(lines).alias("g"))
    df = ch.groupBy("g").agg(
        F.count_distinct("doc_id").alias("df")
    )
    dup = F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
    return (
        ch.join(df, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            dup.cast("long").alias("n_dup_lines"),
            stable_round(
                1.0 - dup / F.count(F.lit(1)).cast("double"), 6
            ).alias("kept_frac"),
        )
    )


# ---------------------------------------------------------------------------
# incremental MinHash near-dup: new batch vs corpus band index
# ---------------------------------------------------------------------------


def _minhash_incr_oracle() -> str:
    """DuckDB replay of q_dedup_minhash_incremental: the full
    signature → band → bucket pipeline of _minhash_oracle, restricted
    to batch-side probes against corpus-side index entries."""
    ctx, screen = _minhash_oracle_ctx()
    return ctx + f"""), cand AS (
  SELECT DISTINCT n.doc_id AS doc_new, c.doc_id AS doc_corpus
  FROM bands n JOIN bands c
    ON n.band = c.band AND n.bucket = c.bucket
  WHERE n.doc_id % {_BATCH_MOD} >= {_BATCH_MIN}
    AND c.doc_id % {_BATCH_MOD} < {_BATCH_MIN}
), screened AS (
  SELECT doc_new, doc_corpus FROM cand
  JOIN sig sa ON sa.doc_id = doc_new
  JOIN sig sb ON sb.doc_id = doc_corpus
  WHERE {screen} >= {_MINHASH_SCREEN_MIN}
)
SELECT s.doc_new, s.doc_corpus,
       floor(CAST(len(list_intersect(da.s, db.s)) AS DOUBLE) /
             (len(da.s) + len(db.s) - len(list_intersect(da.s, db.s)))
             * 1000000 + 0.5) / 1000000 AS jaccard
FROM screened s
JOIN sh da ON da.doc_id = s.doc_new
JOIN sh db ON db.doc_id = s.doc_corpus
WHERE CAST(len(list_intersect(da.s, db.s)) AS DOUBLE) /
      (len(da.s) + len(db.s) - len(list_intersect(da.s, db.s)))
      >= {_JACCARD_TAU}
"""


@register("q_dedup_minhash_incremental", oracle=_minhash_incr_oracle())
def q_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup: the newly-arrived batch (same
    doc_id-parity split as q_dedup_incremental) probes the corpus's
    persisted LSH BAND INDEX — signatures, band buckets, screen, and
    exact-Jaccard verification identical to q_dedup_minhash_lsh, but
    the join is batch-bands × corpus-bands instead of a self-join.

    This is the daily operation of a deduplicated corpus: per batch,
    work ∝ batch size (its shingling + signatures) plus an equi-join
    probe into the band index — NEVER a re-pairing of the corpus with
    itself. The corpus side of the join projects (doc_id, band,
    bucket) — 8 rows of ~40 bytes per document at any corpus size,
    the same persisted-index discipline as the exact-digest
    incremental path; at 100 TB the index is bucketed by (band,
    bucket) so the probe is partition-local. Verified pairs carry the
    exact Jaccard, so downstream keep/drop decisions are identical to
    what the full self-join would have produced for those documents."""
    d, sig, bands = _minhash_index(spark, sf_dir)
    is_batch = F.pmod(F.col("doc_id"), F.lit(_BATCH_MOD)) >= _BATCH_MIN
    probe = bands.filter(is_batch).select(
        F.col("doc_id").alias("doc_new"), "band", "bucket"
    )
    index = bands.filter(~is_batch).select(
        F.col("doc_id").alias("doc_corpus"), "band", "bucket"
    )
    cand = (
        probe.join(index, ["band", "bucket"])
        .select("doc_new", "doc_corpus")
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("doc_new"), F.col("sig").alias("sig_a"))
    sb = sig.select(
        F.col("doc_id").alias("doc_corpus"), F.col("sig").alias("sig_b")
    )
    matches = F.aggregate(
        F.zip_with(
            F.col("sig_a"),
            F.col("sig_b"),
            lambda a, b: (a == b).cast("int"),
        ),
        F.lit(0),
        lambda acc, m: acc + m,
    )
    screened = (
        cand.join(sa, "doc_new")
        .join(sb, "doc_corpus")
        .filter(matches >= _MINHASH_SCREEN_MIN)
        .select("doc_new", "doc_corpus")
    )
    da = d.select(F.col("doc_id").alias("doc_new"), F.col("s").alias("s_a"))
    db = d.select(F.col("doc_id").alias("doc_corpus"), F.col("s").alias("s_b"))
    inter = F.size(F.array_intersect(F.col("s_a"), F.col("s_b")))
    jac = inter.cast("double") / (
        F.size("s_a") + F.size("s_b") - inter
    )
    return (
        screened.join(da, "doc_new")
        .join(db, "doc_corpus")
        .filter(jac >= _JACCARD_TAU)
        .select(
            "doc_new", "doc_corpus", stable_round(jac, 6).alias("jaccard")
        )
    )


# ---------------------------------------------------------------------------
# benchmark decontamination by exact n-gram overlap
# ---------------------------------------------------------------------------

_CONTAM_N = 13  # the GPT-3 appendix-C convention (Brown et al. 2020)
_CONTAM_MOD = 11  # fixture stand-in eval split: doc_id % MOD == 0

_CONTAM_TERMS = ", ".join(
    f"string_split(text,' ')[i+{j}]" for j in range(_CONTAM_N)
)

_CONTAM_ORACLE = f"""
WITH g AS MATERIALIZED (
  SELECT doc_id, source, unnest(list_distinct(list_transform(
    range(1, greatest(len(string_split(text,' ')) - {_CONTAM_N - 1}, 1) + 1),
    i -> ('0x' || substr(md5(concat_ws(' ', {_CONTAM_TERMS})), 1, 15))::BIGINT
  ))) AS h
  FROM documents
), ev AS MATERIALIZED (
  SELECT DISTINCT h FROM g WHERE doc_id % {_CONTAM_MOD} = 0
), hits AS MATERIALIZED (
  SELECT g.doc_id, count(*) AS k
  FROM g JOIN ev USING (h)
  WHERE g.doc_id % {_CONTAM_MOD} <> 0
  GROUP BY g.doc_id
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN h.k >= 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated,
       CAST(sum(coalesce(h.k, 0)) AS BIGINT) AS hit_grams,
       CAST(max(coalesce(h.k, 0)) AS BIGINT) AS max_doc_overlap
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
WHERE d.doc_id % {_CONTAM_MOD} <> 0
GROUP BY d.source
ORDER BY d.source
"""


@register("q_contamination_ngram", oracle=_CONTAM_ORACLE)
def q_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination by EXACT 13-gram (_CONTAM_N) overlap
    — the lexical sibling of q_contamination_semantic (similarity.py)
    and the GPT-3/C4 training-hygiene staple (Brown et al. 2020
    appendix C; Dodge et al. 2021): a training document is flagged if
    it shares any 13-token window with the held-out eval set,
    because a contaminated benchmark silently inflates downstream
    scores. The fixture stands in an eval split (doc_id % 11 == 0,
    _CONTAM_MOD); production passes a real benchmark table on the
    eval side.

    Scale shape: the EVAL side is benchmark-sized (bounded by the
    benchmark suite, not the corpus), so its distinct 60-bit gram
    digests broadcast. Corpus text never shuffles — each doc's
    distinct windows reduce to integer digests in the scan stage (the
    digest-shuffle rule), and only (doc_id, hit-count) survives to the
    doc-sized aggregate. Wall cost is the gram hashing itself, linear
    in corpus tokens (every token window hashed exactly once —
    semantics-bound): the sf1→sf10 leg is the linear regime emerging
    from under the fixed floor, and the join strategy A/B-measured
    within noise at sf10."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )

    def grams(df: DataFrame) -> DataFrame:
        # 60-bit integer digest (the winnowing/bootstrap pattern): 4x
        # narrower join keys than md5 hex strings; a birthday collision
        # (~2e-4 odds at 21M grams) produces the same false hit in BOTH
        # engines, so results stay hash-stable. Per-doc dedup happens on
        # the DIGEST (array_distinct over the hash array, same stage as
        # the oracle's list_distinct over hashes), still map-side — so
        # even a within-doc digest collision between two distinct grams
        # yields identical per-doc hash sets in both engines.
        return df.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        shingles(F.col("text"), _CONTAM_N),
                        lambda g: F.conv(
                            F.substring(F.md5(g), 1, 15), 16, 10
                        ).cast("long"),
                    )
                )
            ).alias("h"),
        )

    ev = (
        grams(docs.where(F.col("doc_id") % _CONTAM_MOD == 0))
        .select("h")
        .distinct()
    )
    corpus = docs.where(F.col("doc_id") % _CONTAM_MOD != 0)
    hits = (
        grams(corpus)
        # eval side broadcast: benchmark suites are bounded, and the
        # 60-bit digests keep even the fixture's corpus-growing eval
        # split cheap to ship (A/B at sf10: broadcast vs AQE shuffle
        # join within noise — the wall cost is gram hashing, not the
        # join)
        .join(F.broadcast(ev), "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    return (
        corpus.select("doc_id", "source")
        .join(hits, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("k") >= 1, 1).otherwise(0))
            .cast("long")
            .alias("n_contaminated"),
            F.sum(F.coalesce(F.col("k"), F.lit(0)))
            .cast("long")
            .alias("hit_grams"),
            F.max(F.coalesce(F.col("k"), F.lit(0)))
            .cast("long")
            .alias("max_doc_overlap"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# line-level boilerplate doc-weighting (CCNet-ish SOFT dedup)
# ---------------------------------------------------------------------------

# planted boilerplate lines (the synthetic corpus has zero exact-dup
# texts, so without a fixture every line would be unique and every
# weight 1.0 — vacuous; the plant models the crawl reality CCNet
# handles: shared footers/banners as whole lines). Deterministic
# subsets by doc_id, different token masses so mass-weighting shows.
_BP_FOOT_A = "subscribe to our newsletter for weekly product updates"  # 8 tok
_BP_FOOT_B = "terms of service and privacy policy"                     # 6 tok
_BP_MD5_A = hashlib.md5(_BP_FOOT_A.encode()).hexdigest()
_BP_MD5_B = hashlib.md5(_BP_FOOT_B.encode()).hexdigest()

_LINE_WEIGHT_ORACLE = f"""
WITH t AS MATERIALIZED (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), body AS (
  SELECT doc_id,
         unnest(list_transform(
           range(0, greatest(CAST(ceil(len(toks) / {_LINE_W}.0) AS INT), 1)),
           i -> list_slice(toks, i * {_LINE_W} + 1, i * {_LINE_W} + {_LINE_W})
         )) AS lt
  FROM t
), lines AS MATERIALIZED (
  SELECT doc_id, md5(array_to_string(lt, ' ')) AS g,
         CAST(len(lt) AS BIGINT) AS mass
  FROM body
  UNION ALL
  SELECT doc_id, '{_BP_MD5_A}', CAST(8 AS BIGINT) FROM t WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id, '{_BP_MD5_B}', CAST(6 AS BIGINT) FROM t WHERE doc_id % 4 = 0
), df AS MATERIALIZED (
  SELECT g, count(DISTINCT doc_id) AS df FROM lines GROUP BY g
)
SELECT l.doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_lines,
       CAST(sum(l.mass) AS BIGINT) AS total_toks,
       CAST(sum(CASE WHEN df.df < 2 THEN l.mass ELSE 0 END) AS BIGINT)
         AS kept_toks,
       CAST(sum(CASE WHEN df.df < 2 THEN l.mass ELSE 0 END) * 1000000
            // CAST(sum(l.mass) AS BIGINT) AS BIGINT) AS weight_fp
FROM lines l JOIN df USING (g)
GROUP BY l.doc_id
"""


@register("q_dedup_line_weighting", oracle=_LINE_WEIGHT_ORACLE)
def q_dedup_line_weighting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-ish SOFT dedup: instead of dropping documents whose lines
    repeat corpus-wide (q_dedup_lines' hard filter), weight each
    document by its kept-line TOKEN MASS — the fraction of its tokens
    living in lines no other document shares. Downstream training
    pipelines use the weight as a sampling probability, so boilerplate
    demotes a page without deleting its unique content (Wenzek et al.
    LREC'20 §4.2's paragraph-dedup, soft-scored).

    The corpus fixture plants two boilerplate lines on deterministic
    doc subsets (doc_id%3 -> 8-token footer, doc_id%4 -> 6-token
    footer; %12 gets both) because the synthetic corpus has no exact
    duplicates at all — the weights are provably non-trivial: planted
    docs score < 1.0 by exactly their footer mass unless a natural
    chunk collision also fires, and the two masses differ so the
    fixed-point weight separates the subsets.

    Scale: identical to q_dedup_lines — 16-byte digests shuffle, text
    never does; df is one combinable groupBy; the planted lines are
    literal digests (computed once in Python, not per row). Weight is
    integer fixed-point (1e6, truncating), replayed exactly.
    """
    d = spread(table(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = F.split(F.col("text"), " ")
    n_chunks = F.greatest(
        F.ceil(F.size(toks) / float(_LINE_W)).cast("int"), F.lit(1)
    )
    body_lines = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(toks, i * _LINE_W + 1, F.lit(_LINE_W)),
    )
    body = d.select("doc_id", F.explode(body_lines).alias("lt")).select(
        "doc_id",
        F.md5(F.array_join(F.col("lt"), " ")).alias("g"),
        F.size("lt").cast("long").alias("mass"),
    )
    foot_a = d.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", F.lit(_BP_MD5_A).alias("g"), F.lit(8).cast("long").alias("mass")
    )
    foot_b = d.filter(F.col("doc_id") % 4 == 0).select(
        "doc_id", F.lit(_BP_MD5_B).alias("g"), F.lit(6).cast("long").alias("mass")
    )
    lines = body.unionByName(foot_a).unionByName(foot_b)
    df = lines.groupBy("g").agg(F.count_distinct("doc_id").alias("df"))
    dup_lines = F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
    kept_mass = F.sum(F.when(F.col("df") < 2, F.col("mass")).otherwise(0))
    return (
        lines.join(df, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            dup_lines.cast("long").alias("n_dup_lines"),
            F.sum("mass").cast("long").alias("total_toks"),
            kept_mass.cast("long").alias("kept_toks"),
            F.expr(
                "sum(CASE WHEN df < 2 THEN mass ELSE 0L END) * 1000000L"
                " div sum(mass)"
            )
            .cast("long")
            .alias("weight_fp"),
        )
    )
