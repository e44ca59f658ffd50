"""Property-style checks (SURVEY.md §5.2b): upsert algebra, gate
monotonicity, clean idempotence — hypothesis-generated inputs."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.ingest.clean import clean
from end_to_end_aws_data_pipeline_spark.ingest.merge import upsert
from end_to_end_aws_data_pipeline_spark.ingest.watermark import gate_strictly_newer

_SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows = st.lists(
    st.tuples(st.integers(0, 9), st.sampled_from(["a", "b", "c", None])),
    min_size=0,
    max_size=12,
)


def _df(spark, data):
    return spark.createDataFrame(data, schema="k int, v string") if data else (
        spark.createDataFrame([], schema="k int, v string")
    )


@given(base=rows, upd=rows)
@_SLOW
def test_upsert_key_uniqueness_and_update_wins(spark, base, upd):
    # inputs must be key-unique (the upsert contract); make them so
    base_u = list({k: (k, v) for k, v in base}.values())
    upd_u = list({k: (k, v) for k, v in upd}.values())
    out = upsert(_df(spark, base_u), _df(spark, upd_u), ["k"]).collect()
    got = {r.k: r.v for r in out}
    expected = {k: v for k, v in base_u} | {k: v for k, v in upd_u}
    assert got == expected
    assert len(out) == len(expected)  # one row per key, always


@given(data=rows)
@_SLOW
def test_clean_idempotent(spark, data):
    once = clean(_df(spark, data))
    twice = clean(once)
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))
    assert all(v is not None for _, v in once.collect())


@given(
    wm=st.lists(st.tuples(st.integers(0, 4), st.integers(0, 50)), max_size=5),
    incoming=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 50)), max_size=12
    ),
)
@_SLOW
def test_gate_strictly_newer_property(spark, wm, incoming):
    wm_u = list({k: (k, ts) for k, ts in wm}.values())
    wdf = spark.createDataFrame(wm_u, schema="table_name int, folder_ts int") if wm_u else (
        spark.createDataFrame([], schema="table_name int, folder_ts int")
    )
    idf = spark.createDataFrame(incoming, schema="key int, ts int") if incoming else (
        spark.createDataFrame([], schema="key int, ts int")
    )
    out = gate_strictly_newer(idf, wdf, key_col="key", ts_col="ts").collect()
    wmap = dict(wm_u)
    expected = sorted((k, t) for k, t in incoming if k not in wmap or t > wmap[k])
    assert sorted((r.key, r.ts) for r in out) == expected


# word pool small enough that generated docs actually collide on
# shingles (near-dups arise), large enough for rare-token prefixes
_WORDS = [f"w{i}" for i in range(12)]
docs_strategy = st.lists(
    st.lists(st.sampled_from(_WORDS), min_size=1, max_size=12).map(" ".join),
    min_size=2,
    max_size=10,
)


@given(texts=docs_strategy)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_jaccard_both_routes_equal_bruteforce(spark, texts):
    """Adaptive exact-Jaccard property gate: on arbitrary corpora the
    DIRECT count-join route and the PPJoin prefix+position route must
    both equal the python brute force — especially the position
    filter's overlap bound, which a one-off fixture can't sweep."""
    from end_to_end_aws_data_pipeline_spark.cache import release_all
    from end_to_end_aws_data_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = list(enumerate(texts))

    def sh(t):
        w = t.split(" ")
        if len(w) < 3:
            return {" ".join(w)}
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    expected = {}
    for i, (ida, ta) in enumerate(docs):
        for idb, tb in docs[i + 1 :]:
            sa, sb = sh(ta), sh(tb)
            j = len(sa & sb) / len(sa | sb)
            if j >= 0.6:
                expected[(ida, idb)] = round(j, 6)

    df = spark.createDataFrame(docs, "doc_id long, text string")
    try:
        for cap in (0, 1 << 60):
            got = {
                (r.doc_a, r.doc_b): r.jaccard
                for r in ngram_jaccard_pairs(df, direct_sumdf2_max=cap).collect()
            }
            assert got == expected, f"cap={cap}"
    finally:
        release_all()


def test_funnel_monotone_and_cohort_triangle(spark):
    """Funnel stages can only shrink (each requires the previous), and
    the cohort matrix is a triangle: week 0 of every cohort contains
    the cohort itself (first-seen week is an active week), offsets are
    non-negative, and distinct users per (cohort, offset) never exceed
    the cohort's week-0 size."""
    from end_to_end_aws_data_pipeline_spark.operators.asof import (
        q_cohort_retention,
        q_funnel_conversion,
    )
    from tests.conftest import SF_SMOKE

    f = q_funnel_conversion(spark, SF_SMOKE).collect()[0]
    assert f.n_viewed >= f.n_clicked_after_view >= f.n_purchased_after_click
    assert f.n_purchased_after_click >= 0
    if f.n_purchased_after_click == 0:
        assert f.total_view_to_purchase_us == 0
    else:
        assert f.total_view_to_purchase_us > 0

    rows = q_cohort_retention(spark, SF_SMOKE).collect()
    assert len(rows) > 0
    base = {r.cohort_week: r.n_active_users for r in rows if r.week_offset == 0}
    for r in rows:
        assert r.week_offset >= 0
        assert r.cohort_week in base  # week 0 always present per cohort
        assert r.n_active_users <= base[r.cohort_week]


def test_stratified_sample_rates_and_determinism(spark):
    """Per-stratum achieved rates sit near their targets (Bernoulli
    tolerance), the sample is a strict subset keyed only by doc_id
    arithmetic, and re-running / re-partitioning yields the identical
    sample (the property Spark's seeded sampleBy does NOT have)."""
    from end_to_end_aws_data_pipeline_spark.operators.chunking import (
        _STRAT_DEFAULT,
        _STRAT_RATES,
        q_sample_stratified,
    )
    from tests.conftest import SF_ORACLE

    got = q_sample_stratified(spark, SF_ORACLE)
    rows = got.collect()
    again = set((r.doc_id, r.lang) for r in q_sample_stratified(spark, SF_ORACLE).collect())
    assert set((r.doc_id, r.lang) for r in rows) == again

    from end_to_end_aws_data_pipeline_spark.catalog import table

    totals = {
        r.lang: r["count"]
        for r in table(spark, SF_ORACLE, "documents").groupBy("lang").count().collect()
    }
    sampled = {}
    for r in rows:
        sampled[r.lang] = sampled.get(r.lang, 0) + 1
    for lang, n_total in totals.items():
        rate = _STRAT_RATES.get(lang, _STRAT_DEFAULT)
        # 4-sigma Bernoulli band
        import math

        sigma = math.sqrt(n_total * rate * (1 - rate))
        assert abs(sampled.get(lang, 0) - n_total * rate) <= 4 * sigma + 1, lang


def test_source_cap_bounds_every_source(spark):
    """No source exceeds the cap, kept docs are the longest per source,
    and sources with fewer docs than the cap keep everything."""
    from end_to_end_aws_data_pipeline_spark.catalog import table
    from end_to_end_aws_data_pipeline_spark.operators.curation import (
        _SOURCE_CAP,
        q_curation_source_cap,
    )
    from tests.conftest import SF_ORACLE

    rows = q_curation_source_cap(spark, SF_ORACLE).collect()
    per_src = {}
    for r in rows:
        per_src.setdefault(r.source, []).append(r)
    full = {
        r.source: r["count"]
        for r in table(spark, SF_ORACLE, "documents").groupBy("source").count().collect()
    }
    docs = table(spark, SF_ORACLE, "documents").select("source", "n_chars").collect()
    max_chars = {}
    for d in docs:
        max_chars.setdefault(d.source, []).append(d.n_chars)
    for src, kept in per_src.items():
        assert len(kept) == min(_SOURCE_CAP, full[src])
        # kept set contains the max-length doc of the source
        assert max(k.n_chars for k in kept) == max(max_chars[src])


def test_salted_agg_matches_plain_agg(spark):
    """Salting is an identity on results at any salt count."""
    from end_to_end_aws_data_pipeline_spark.catalog import table
    from end_to_end_aws_data_pipeline_spark.plans.scale import salted_agg
    from pyspark.sql import functions as F
    from tests.conftest import SF_SMOKE

    ev = table(spark, SF_SMOKE, "events").select(
        "event_id", "event_type", F.col("value").cast("double").alias("value")
    )
    plain = {
        r.event_type: (r.n, float(r.s))
        for r in ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
        )
        .collect()
    }
    for n_salts in (1, 7, 32):
        salted = {
            r.event_type: (r.n, float(r.s))
            for r in salted_agg(
                ev,
                ["event_type"],
                aggs=lambda: [
                    F.count("*").alias("__n"),
                    F.sum(F.col("value").cast("decimal(18,2)")).alias("__sv"),
                ],
                merge_aggs=lambda: [
                    F.sum("__n").cast("long").alias("n"),
                    F.sum("__sv").alias("s"),
                ],
                n_salts=n_salts,
            ).collect()
        }
        assert salted == plain, n_salts


def test_int8_quantize_bounds(spark):
    """Codes stay in [-127, 127], every code row is exact under its own
    scale (max reconstruction error <= scale/2), and each vector's
    largest-magnitude dim maps to exactly +/-127."""
    from end_to_end_aws_data_pipeline_spark.operators.pq import (
        _Q8_ERR_SCALE,
        q_embed_quantize,
    )
    from tests.conftest import SF_SMOKE

    rows = q_embed_quantize(spark, SF_SMOKE).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.code_abs_sum >= 127  # the max-|x| dim quantizes to ±127
        assert abs(r.code_sum) <= r.code_abs_sum
        # |err| <= scale/2 per dim, in 1e9-quantized units (+1 rounding)
        assert r.max_abs_err_q <= r.scale_r / 2 * _Q8_ERR_SCALE + 1


def test_semantic_contamination_precision_and_membership(spark):
    """Every flagged pair is a TRUE >= tau pair under exact full-corpus
    cosine (bucketing may lose recall, never precision), eval ids obey
    the membership rule, and corpus ids never appear as eval ids."""
    import numpy as np

    from end_to_end_aws_data_pipeline_spark.catalog import table
    from end_to_end_aws_data_pipeline_spark.operators.similarity import (
        _SEMCON_MOD,
        _SEMCON_TAU,
        q_contamination_semantic,
    )
    from tests.conftest import SF_SMOKE

    rows = q_contamination_semantic(spark, SF_SMOKE).collect()
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in table(spark, SF_SMOKE, "embeddings").collect()
    }
    for k, v in emb.items():
        emb[k] = v / np.linalg.norm(v)
    for r in rows:
        assert r.matched_eval_id % _SEMCON_MOD == 0
        assert r.vec_id % _SEMCON_MOD != 0
        true_cos = float(emb[r.vec_id] @ emb[r.matched_eval_id])
        assert true_cos >= _SEMCON_TAU - 1e-6
        assert abs(true_cos - r.cosine) < 1e-4


def test_ann_recall_bounds_and_ivf_subsetness(spark):
    """Per-query recall is in [0,1] with exactly k ground-truth rows,
    and every IVF hit counted is a true exact-top-k member by
    construction of the join."""
    from end_to_end_aws_data_pipeline_spark.operators.similarity import (
        _IVF_K,
        q_ann_recall,
    )
    from end_to_end_aws_data_pipeline_spark.operators.veccorpus import MAX_QUERIES
    from tests.conftest import SF_SMOKE

    rows = q_ann_recall(spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= MAX_QUERIES
    for r in rows:
        assert r.n_exact == _IVF_K
        assert 0 <= r.n_hit <= r.n_exact
        assert abs(r.recall - r.n_hit / r.n_exact) < 5e-7  # 6-digit rounding


def test_vocab_oov_python_twin(spark):
    """OOV rates recomputed in python over the raw text match the
    engine output exactly (vocab tie-break included)."""
    from collections import Counter

    from end_to_end_aws_data_pipeline_spark.catalog import table
    from end_to_end_aws_data_pipeline_spark.operators.text import (
        _VOCAB_V,
        q_text_vocab_oov,
    )
    from tests.conftest import SF_SMOKE

    docs = {
        r.doc_id: r.text.split(" ")
        for r in table(spark, SF_SMOKE, "documents").collect()
    }
    counts = Counter(w for ws in docs.values() for w in ws)
    vocab = set(
        w for w, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:_VOCAB_V]
    )
    got = {r.doc_id: (r.n_tokens, r.n_oov) for r in q_text_vocab_oov(spark, SF_SMOKE).collect()}
    assert set(got) == set(docs)
    for did, ws in docs.items():
        n_oov = sum(1 for w in ws if w not in vocab)
        assert got[did] == (len(ws), n_oov), did


def test_snapshot_diff_conservation(spark):
    """The four diff states partition both versions: |A| = unchanged +
    changed + removed, |B| = unchanged + changed + added; and the net
    price delta equals 1.00 x the changed-row count (the derivation's
    bump)."""
    from end_to_end_aws_data_pipeline_spark.catalog import table
    from end_to_end_aws_data_pipeline_spark.operators.cdc import (
        _SNAP_A_DROP,
        _SNAP_B_DROP,
        q_etl_snapshot_diff,
    )
    from tests.conftest import SF_SMOKE

    rows = {r.status: r for r in q_etl_snapshot_diff(spark, SF_SMOKE).collect()}
    o = table(spark, SF_SMOKE, "orders")
    n_a = o.filter(F.col("o_orderkey") % 10 != _SNAP_A_DROP).count()
    n_b = o.filter(F.col("o_orderkey") % 10 != _SNAP_B_DROP).count()
    g = lambda s: rows[s].n_rows if s in rows else 0  # noqa: E731
    assert n_a == g("unchanged") + g("changed") + g("removed")
    assert n_b == g("unchanged") + g("changed") + g("added")
    if "changed" in rows:
        assert abs(rows["changed"].price_delta - 1.00 * g("changed")) < 1e-6


def test_countmin_never_underestimates(spark):
    """CMS estimates dominate exact counts for every key (the sketch's
    defining guarantee), and the mean overestimate respects the eN/w
    bound loosely."""
    from end_to_end_aws_data_pipeline_spark.catalog import table
    from end_to_end_aws_data_pipeline_spark.operators.percentiles import (
        _CMS_W,
        q_agg_countmin,
    )
    from tests.conftest import SF_SMOKE

    rows = q_agg_countmin(spark, SF_SMOKE).collect()
    assert len(rows) > 0
    n_stream = table(spark, SF_SMOKE, "events").count()
    import math

    for r in rows:
        assert r.overestimate >= 0
        assert r.cms_estimate == r.exact_count + r.overestimate
        # per-key Markov bound e*N/w holds in expectation; allow 3x
        assert r.overestimate <= 3 * math.e * n_stream / _CMS_W + 1


def test_pagerank_mass_and_ordering(spark):
    """Total rank mass stays within floor-loss of n*R0 (teleport +
    damped redistribution conserve mass up to integer floors), every
    rank is >= the teleport floor, and the report is rank-sorted."""
    from end_to_end_aws_data_pipeline_spark.operators.graph import (
        _PR_TELEPORT,
        q_graph_pagerank,
    )
    from tests.conftest import SF_SMOKE

    rows = q_graph_pagerank(spark, SF_SMOKE).collect()
    assert len(rows) > 0
    assert all(r.rank_q >= _PR_TELEPORT for r in rows)
    ranks = [r.rank_q for r in rows]
    assert ranks == sorted(ranks, reverse=True)
    assert {r.node_type for r in rows} <= {"customer", "supplier"}


def test_ewma_python_twin(spark):
    """Tap-form EWMA matches a python recomputation exactly for every
    (user, event) past warm-up."""
    from end_to_end_aws_data_pipeline_spark.catalog import table
    from end_to_end_aws_data_pipeline_spark.operators.windows import (
        _EWMA_DEPTH,
        _EWMA_WEIGHTS,
        _EWMA_WSUM,
        q_window_ewma,
    )
    from tests.conftest import SF_SMOKE

    ev = sorted(
        table(spark, SF_SMOKE, "events")
        .select("user_id", "event_id", "ts", "value")
        .collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    got = {
        (r.user_id, r.event_id): r.ewma_cents
        for r in q_window_ewma(spark, SF_SMOKE).collect()
    }
    series = {}
    expected = {}
    for r in ev:
        s = series.setdefault(r.user_id, [])
        s.append(round(r.value * 100))
        if len(s) >= _EWMA_DEPTH:
            taps = s[-1 : -_EWMA_DEPTH - 1 : -1]  # newest first
            w = sum(wt * x for wt, x in zip(_EWMA_WEIGHTS, taps))
            expected[(r.user_id, r.event_id)] = w // _EWMA_WSUM
    assert got == expected


def test_canonical_dedup_partition(spark):
    """Output fingerprints are unique, copy counts partition the
    corpus, and each kept doc is its group's longest."""
    from end_to_end_aws_data_pipeline_spark.catalog import table
    from end_to_end_aws_data_pipeline_spark.operators.dedup import (
        q_dedup_canonical,
    )
    from tests.conftest import SF_SMOKE

    rows = q_dedup_canonical(spark, SF_SMOKE).collect()
    n_corpus = table(spark, SF_SMOKE, "documents").count()
    fps = [r.fingerprint for r in rows]
    assert len(fps) == len(set(fps))
    assert sum(r.n_copies for r in rows) == n_corpus


def test_phash_dedup_partitions_corpus(spark):
    """pHash buckets partition the image corpus; keepers are bucket
    minima; checksum equals the non-keeper id sum."""
    from end_to_end_aws_data_pipeline_spark.catalog import table
    from end_to_end_aws_data_pipeline_spark.operators.multimodal import (
        q_multimodal_phash_dedup,
    )
    from tests.conftest import SF_SMOKE

    rows = q_multimodal_phash_dedup(spark, SF_SMOKE).collect()
    n_corpus = table(spark, SF_SMOKE, "documents").count()
    assert sum(r.n_images for r in rows) == n_corpus
    assert len(rows) > 1  # hashing actually separates images
    for r in rows:
        assert r.n_images >= 1
        assert r.dropped_id_checksum >= 0
        assert 0 <= r.dhash_lo < (1 << 32) and 0 <= r.dhash_hi < (1 << 32)


def test_l2fp_fixed_point_log2_monotone_and_tight():
    """The fixed-point log2 used by DSIR/KL (16*floor(log2 x) +
    interpolated mantissa) must be (a) nondecreasing, (b) exact at
    powers of two, (c) within the documented ~0.149-bit worst case
    (0.086-bit interpolation error + 1/16-bit quantization) of true
    log2 — all checked in pure integer arithmetic against math.log2."""
    import math

    def l2fp(x: int) -> int:
        e = x.bit_length() - 1
        return 16 * e + (x * 16) // (1 << e) - 16

    prev = None
    for x in list(range(1, 4097)) + [10**6, 10**9, 2**40, 2**40 + 12345]:
        v = l2fp(x)
        if prev is not None and x <= 4096:
            assert v >= prev
        prev = v if x <= 4096 else prev
        assert abs(v / 16.0 - math.log2(x)) <= 0.0861 + 1 / 16.0
    for e in range(0, 50):
        assert l2fp(1 << e) == 16 * e


def test_fastss_deletion_neighborhood_complete():
    """Deletion-neighborhood candidate generation (q_join_fuzzy_editdist)
    must be COMPLETE for edit distance <= 1: brute-force levenshtein
    over a small vocab, assert every true pair shares a key."""

    def keys(s: str) -> set[str]:
        return {s} | {s[:i] + s[i + 1 :] for i in range(len(s))}

    def lev(a: str, b: str) -> int:
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    vocab = [
        "cat", "cats", "bat", "at", "act", "tac", "cart", "card",
        "cord", "care", "car", "ca", "c", "", "dog", "dig", "dug",
        "abcd", "abce", "abde", "axcd", "bcd",
    ]
    for i, a in enumerate(vocab):
        for b in vocab[i + 1 :]:
            if lev(a, b) <= 1:
                assert keys(a) & keys(b), (a, b)


def test_isqrt_correction_exact():
    """The portable integer-sqrt used by temperature mixing (floored
    double sqrt with ±1 corrections) must equal math.isqrt for every
    input tried — including perfect squares, off-by-one neighbors,
    and values near the 2^52 double-precision cliff."""
    import math

    def isqrt_sql(x: int) -> int:
        s = int(math.floor(math.sqrt(float(x))))
        return s - (s * s > x) + ((s + 1) * (s + 1) <= x)

    cases = list(range(0, 3000))
    for k in (10**6, 10**9, 2**26, 2**45, 2**52 - 1):
        for d in (-2, -1, 0, 1, 2):
            cases.append(max(0, k + d))
    for base in (997, 2**20 + 7, 67_108_859):
        sq = base * base
        cases += [sq - 1, sq, sq + 1]
    for x in cases:
        assert isqrt_sql(x) == math.isqrt(x), x


def test_temperature_quota_invariants():
    """Largest-remainder temperature quotas (python mirror of
    q_curation_temperature_mix): sum to budget exactly, never
    negative, and monotone — a source with more docs never gets a
    smaller quota."""
    import math

    def quotas(counts: dict[str, int], budget: int) -> dict[str, int]:
        w = {s: math.isqrt(n * 1_000_000) for s, n in counts.items()}
        wsum = sum(w.values())
        q0 = {s: budget * wv // wsum for s, wv in w.items()}
        rem = {s: budget * wv % wsum for s, wv in w.items()}
        short = budget - sum(q0.values())
        order = sorted(counts, key=lambda s: (-rem[s], s))
        for s in order[:short]:
            q0[s] += 1
        return q0

    for counts in (
        {f"s{i}": (i + 1) * 7 for i in range(20)},
        {"a": 1, "b": 1_000_000},
        {"a": 5, "b": 5, "c": 5},
    ):
        q = quotas(counts, 1000)
        assert sum(q.values()) == 1000
        assert all(v >= 0 for v in q.values())
        ranked = sorted(counts.items(), key=lambda kv: kv[1])
        for (s1, n1), (s2, n2) in zip(ranked, ranked[1:]):
            if n1 < n2:
                assert q[s1] <= q[s2], (counts, q)


def test_higher_moments_match_spark_builtins(spark):
    """The raw-sum skewness/kurtosis expansion must agree with Spark's
    own F.skewness/F.kurtosis (both population-moment definitions, and
    both scale-invariant, so the x100 cent scaling drops out).  Guards
    the formula itself, so the DuckDB oracle — which shares the same
    expansion — is not the only check."""
    from end_to_end_aws_data_pipeline_spark.catalog import table
    from end_to_end_aws_data_pipeline_spark.operators.extras import (
        q_agg_higher_moments,
    )
    from tests.conftest import SF_SMOKE

    ours = {
        r.l_returnflag: r for r in q_agg_higher_moments(spark, SF_SMOKE).collect()
    }
    ref = {
        r.g: r
        for r in table(spark, SF_SMOKE, "lineitem")
        .groupBy(F.col("l_returnflag").alias("g"))
        .agg(
            F.skewness(F.round(F.col("l_quantity") * 100)).alias("sk"),
            F.kurtosis(F.round(F.col("l_quantity") * 100)).alias("ku"),
        )
        .collect()
    }
    assert set(ours) == set(ref) and len(ours) > 0
    for g, r in ours.items():
        assert abs(r.skewness - ref[g].sk) < 1e-4, (g, r.skewness, ref[g].sk)
        assert abs(r.excess_kurtosis - ref[g].ku) < 1e-4, (
            g,
            r.excess_kurtosis,
            ref[g].ku,
        )


def test_sharded_bloom_no_false_negatives_and_equivalence(spark):
    """The sharded Bloom filter must (a) admit every inserted digest in
    its own shard — no false negatives, the property that makes bloom
    misses provably-new — and (b) produce the exact same incremental
    dedup result as the single-bitmap variant."""
    from pyspark.sql import functions as F

    from end_to_end_aws_data_pipeline_spark.operators.dedup import (
        _BLOOM_N_SHARDS,
        _bloom_shard,
        bloom_might_contain,
        digest_bloom_sharded,
        q_dedup_incremental_bloom,
        q_dedup_incremental_bloom_sharded,
    )
    from tests.conftest import SF_SMOKE

    digests = spark.range(0, 500).select(
        F.sha2(F.col("id").cast("string"), 256).alias("digest")
    )
    bitmaps, m_bits = digest_bloom_sharded(digests, 500)
    assert set(bitmaps) == set(range(_BLOOM_N_SHARDS))
    bloom_df = spark.createDataFrame(
        [(int(s), bm) for s, bm in sorted(bitmaps.items())],
        "shard long, bloom array<long>",
    )
    misses = (
        digests.withColumn("shard", _bloom_shard(_BLOOM_N_SHARDS))
        .join(F.broadcast(bloom_df), "shard")
        .filter(~bloom_might_contain(m_bits))
        .count()
    )
    assert misses == 0  # every inserted digest passes its shard filter

    # prefix shards over sha2 digests balance within noise
    sizes = (
        digests.groupBy(_bloom_shard(_BLOOM_N_SHARDS).alias("s"))
        .count()
        .collect()
    )
    counts = [r["count"] for r in sizes]
    assert len(counts) == _BLOOM_N_SHARDS
    assert max(counts) < 3 * (500 // _BLOOM_N_SHARDS)

    one = sorted(
        map(tuple, q_dedup_incremental_bloom(spark, SF_SMOKE).collect())
    )
    sharded = sorted(
        map(tuple, q_dedup_incremental_bloom_sharded(spark, SF_SMOKE).collect())
    )
    assert one == sharded and len(one) > 0


def test_ohlc_bar_invariants(spark):
    """Every OHLC bar: low <= open, close <= high; low <= mean <= high;
    bar event counts sum to the table's row count."""
    from end_to_end_aws_data_pipeline_spark.operators.windows import q_window_ohlc
    from tests.conftest import SF_SMOKE

    rows = q_window_ohlc(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.low <= r.open <= r.high
        assert r.low <= r.close <= r.high
        assert r.low <= r.mean_value <= r.high
        assert r.n_events >= 1
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    assert sum(r.n_events for r in rows) == ev.count()


def test_line_dedup_matches_python_recompute(spark):
    """Full independent recomputation of the CCNet line-dedup semantics
    in plain Python (split → 8-token chunks → corpus-wide distinct-doc
    frequency → per-doc kept fraction) — a second oracle that shares no
    SQL text with the DuckDB one."""
    import collections

    from end_to_end_aws_data_pipeline_spark.operators.dedup import (
        _LINE_W,
        q_dedup_lines,
    )
    from tests.conftest import SF_SMOKE

    lines = {r.doc_id: r for r in q_dedup_lines(spark, SF_SMOKE).collect()}
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    texts = dict(docs.select("doc_id", "text").collect())
    assert set(lines) == set(texts)

    def chunks(t):
        toks = t.split(" ")
        n = max(-(-len(toks) // _LINE_W), 1)
        return [
            " ".join(toks[i * _LINE_W : i * _LINE_W + _LINE_W]) for i in range(n)
        ]

    df = collections.defaultdict(set)
    per_doc = {}
    for did, txt in texts.items():
        cs = chunks(txt)
        per_doc[did] = cs
        for c in set(cs):
            df[c].add(did)
    flagged_any = 0
    for did, cs in per_doc.items():
        n_dup = sum(1 for c in cs if len(df[c]) >= 2)
        r = lines[did]
        assert r.n_lines == len(cs)
        assert r.n_dup_lines == n_dup, did
        assert abs(r.kept_frac - round(1.0 - n_dup / len(cs), 6)) <= 1e-9
        flagged_any += n_dup
    # the fixture's near-duplicate docs share aligned chunks, so the
    # boilerplate signal must actually fire somewhere
    assert flagged_any > 0
    for r in lines.values():
        assert 0.0 <= r.kept_frac <= 1.0
        assert r.n_dup_lines <= r.n_lines


def test_char_entropy_bounds_and_float_agreement(spark):
    """Fixed-point entropy stays within [0, log2(n_distinct)] + quant
    slack and within the documented ~0.149-bit worst case of true
    float entropy."""
    import collections
    import math

    from end_to_end_aws_data_pipeline_spark.operators.text import (
        q_text_char_entropy,
    )
    from tests.conftest import SF_SMOKE

    rows = q_text_char_entropy(spark, SF_SMOKE).collect()
    docs = dict(
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    assert len(rows) == len(docs)
    for r in rows:
        counts = collections.Counter(docs[r.doc_id])
        assert r.n_total == sum(counts.values())
        assert r.n_distinct == len(counts)
        true_h = -sum(
            v / r.n_total * math.log2(v / r.n_total) for v in counts.values()
        )
        assert abs(r.entropy_bits - true_h) <= 0.149 + 1e-9, (
            r.doc_id,
            true_h,
            r.entropy_bits,
        )
        assert -1e-9 <= r.entropy_bits <= math.log2(max(r.n_distinct, 2)) + 0.149


def test_ab_ttest_matches_independent_float_path(spark):
    """Welch t/dof from exact decimal moments must agree with an
    independent statistics.variance computation to display precision."""
    import math
    import statistics

    from end_to_end_aws_data_pipeline_spark.operators.extras import q_agg_ab_ttest
    from tests.conftest import SF_SMOKE

    got = {r.event_type: r for r in q_agg_ab_ttest(spark, SF_SMOKE).collect()}
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").collect()
    arms: dict = {}
    for r in ev:
        arms.setdefault(r.event_type, ([], []))[r.user_id % 2].append(
            round(r.value * 100) / 100
        )
    assert set(got) == {k for k, (a, b) in arms.items() if len(a) >= 2 and len(b) >= 2}
    for et, r in got.items():
        a, b = arms[et]
        assert (r.n_a, r.n_b) == (len(a), len(b))
        ma, mb = statistics.fmean(a), statistics.fmean(b)
        va, vb = statistics.variance(a), statistics.variance(b)
        se2 = va / len(a) + vb / len(b)
        t = (ma - mb) / math.sqrt(se2)
        dof = se2 * se2 / (
            (va / len(a)) ** 2 / (len(a) - 1) + (vb / len(b)) ** 2 / (len(b) - 1)
        )
        assert abs(r.t_stat - round(t, 4)) <= 1e-4, (et, t, r.t_stat)
        assert abs(r.dof - round(dof, 2)) <= 0.02, (et, dof, r.dof)


def test_video_scenes_geometry(spark):
    """Scene count is bounded by the generator's scene structure:
    1 <= n_scenes <= ceil(n_frames / scene_len); sum_diff is zero only
    when a single scene spans the whole clip."""
    from end_to_end_aws_data_pipeline_spark.operators.multimodal import (
        q_multimodal_video_scenes,
    )
    from tests.conftest import SF_SMOKE

    rows = q_multimodal_video_scenes(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        slen = 3 + r.doc_id % 3
        max_scenes = -(-r.n_frames // slen)
        assert 1 <= r.n_scenes <= max_scenes
        assert r.n_frames == 8 + r.doc_id % 5
        if r.n_scenes == 1:
            assert r.sum_diff < 8 * (r.n_frames - 1)


def test_chi2_independence_matches_float_path(spark):
    """Fixed-point chi-square equals the float computation within the
    per-cell 1e-4 truncation budget; dof/count invariants hold."""
    from collections import defaultdict

    from end_to_end_aws_data_pipeline_spark.operators.extras import (
        q_agg_chi2_independence,
    )
    from tests.conftest import SF_SMOKE

    r = q_agg_chi2_independence(spark, SF_SMOKE).collect()
    assert len(r) == 1
    r = r[0]
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").selectExpr(
        "event_type", "dayofweek(ts) AS dow"
    ).collect()
    O = defaultdict(int)
    R = defaultdict(int)
    C = defaultdict(int)
    for row in ev:
        O[(row.event_type, row.dow)] += 1
        R[row.event_type] += 1
        C[row.dow] += 1
    n = sum(R.values())
    assert (r.n_events, r.n_rows, r.n_cols) == (n, len(R), len(C))
    assert r.dof == (len(R) - 1) * (len(C) - 1)
    chi2 = sum(
        (O[(et, dw)] - R[et] * C[dw] / n) ** 2 / (R[et] * C[dw] / n)
        for et in R
        for dw in C
    )
    # each cell's fixed-point term floors off < 1e-4
    assert 0 <= chi2 - r.chi2 <= len(R) * len(C) * 1e-4 + 1e-9
    assert r.chi2 >= 0


def test_triangles_match_bruteforce(spark):
    """Oriented-wedge triangle count equals a python adjacency-set
    brute force; wedge/clustering invariants hold."""
    from collections import defaultdict

    from end_to_end_aws_data_pipeline_spark.cache import release_all
    from end_to_end_aws_data_pipeline_spark.operators.graph import (
        q_graph_triangles,
    )
    from tests.conftest import SF_SMOKE

    try:
        r = q_graph_triangles(spark, SF_SMOKE).collect()[0]
    finally:
        release_all()
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    ).collect()
    orders = defaultdict(set)
    for row in li:
        orders[row.l_orderkey].add(row.l_partkey)
    edges = set()
    for parts in orders.values():
        ps = sorted(parts)
        for i, a in enumerate(ps):
            for b in ps[i + 1 :]:
                edges.add((a, b))
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    tri3 = sum(len(adj[a] & adj[b]) for a, b in edges)
    assert tri3 % 3 == 0
    assert r.n_triangles == tri3 // 3
    assert r.n_edges == len(edges)
    assert r.n_nodes == len(adj)
    wedges = sum(d * (d - 1) // 2 for d in map(len, adj.values()))
    assert r.n_wedges == wedges
    assert abs(r.global_clustering - round(3 * r.n_triangles / wedges, 6)) < 1e-9


def test_minhash_incremental_equals_cross_split_slice(spark):
    """The incremental batch-vs-corpus probe must surface EXACTLY the
    cross-split subset of the full self-join LSH output — same bands,
    same screen, same verification, different join shape."""
    from end_to_end_aws_data_pipeline_spark.cache import release_all
    from end_to_end_aws_data_pipeline_spark.operators.dedup import (
        _BATCH_MIN,
        _BATCH_MOD,
        q_dedup_minhash_incremental,
        q_dedup_minhash_lsh,
    )
    from tests.conftest import SF_ORACLE

    try:
        incr = {
            (r.doc_new, r.doc_corpus): r.jaccard
            for r in q_dedup_minhash_incremental(spark, SF_ORACLE).collect()
        }
        full = q_dedup_minhash_lsh(spark, SF_ORACLE).collect()
    finally:
        release_all()

    def is_batch(d):
        return d % _BATCH_MOD >= _BATCH_MIN

    expected = {}
    for r in full:
        a, b = r.doc_a, r.doc_b
        if is_batch(a) != is_batch(b):
            new, corpus = (a, b) if is_batch(a) else (b, a)
            expected[(new, corpus)] = r.jaccard
    assert incr == expected
    assert len(incr) > 0


def test_l2hi_worst_case_and_mi_float_agreement(spark):
    """The 64-segment fixed-point log2 stays within 1e-4 bit of float
    log2 across octaves and random inputs, and the MI query agrees
    with the float computation to the same order — the property the
    coarse l2fp could NOT deliver for a near-independence MI."""
    import math
    import random
    from collections import defaultdict

    from end_to_end_aws_data_pipeline_spark.functions.aggs import L2HI_S, l2hi
    from end_to_end_aws_data_pipeline_spark.operators.extras import (
        q_agg_mutual_info,
    )
    from tests.conftest import SF_SMOKE

    rng = random.Random(7)
    for v in [1, 2, 3, 63, 64, 65, 10**6, 2**56 + 9] + [
        rng.randrange(1, 2**57) for _ in range(20000)
    ]:
        assert abs(l2hi(v) / L2HI_S - math.log2(v)) < 1e-4, v

    r = q_agg_mutual_info(spark, SF_SMOKE).collect()[0]
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").selectExpr(
        "event_type", "dayofweek(ts) AS dow"
    ).collect()
    O, R, C = defaultdict(int), defaultdict(int), defaultdict(int)
    for row in ev:
        O[(row.event_type, row.dow)] += 1
        R[row.event_type] += 1
        C[row.dow] += 1
    n = sum(R.values())
    true_mi = sum(
        o / n * math.log2(n * o / (R[et] * C[dw])) for (et, dw), o in O.items()
    )
    assert r.n_events == n
    assert abs(r.mi_bits - true_mi) < 5e-4, (r.mi_bits, true_mi)
    assert r.mi_bits >= -5e-4  # MI is non-negative up to fp resolution


def test_auc_rank_matches_pairwise_definition(spark):
    """The Mann-Whitney rank-sum AUC must equal the O(n²) pairwise
    definition — P(score⁺ > score⁻) + ½·P(tie) — computed
    independently in Python on the smoke fixture.  Guards the midrank
    identity itself, so the DuckDB oracle (which shares the rank-sum
    formulation) is not the only check."""
    from end_to_end_aws_data_pipeline_spark.catalog import table
    from end_to_end_aws_data_pipeline_spark.operators.extras import (
        q_agg_auc_rank,
    )
    from tests.conftest import SF_SMOKE

    r = q_agg_auc_rank(spark, SF_SMOKE).collect()[0]

    rows = (
        table(spark, SF_SMOKE, "documents")
        .selectExpr(
            "(n_chars * 1000) div size(split(text, ' ')) AS score",
            "CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos",
        )
        .collect()
    )
    pos = sorted(x.score for x in rows if x.pos == 1)
    neg = sorted(x.score for x in rows if x.pos == 0)
    assert r.n_pos == len(pos) and r.n_neg == len(neg)
    # O(n_pos·log n_neg) pairwise count via bisect — exact, independent
    import bisect

    wins2 = 0  # doubled: 2 per strict win, 1 per tie
    for s in pos:
        lo = bisect.bisect_left(neg, s)
        hi = bisect.bisect_right(neg, s)
        wins2 += 2 * lo + (hi - lo)
    assert r.u_x2 == wins2, (r.u_x2, wins2)
    true_auc = wins2 / (2 * len(pos) * len(neg))
    assert abs(r.auc - true_auc) < 2e-6, (r.auc, true_auc)
    assert 0.0 <= r.auc <= 1.0


def test_bm25_matches_independent_recompute(spark):
    """The distributed BM25 pipeline must equal an independent pure-
    Python recompute of Okapi BM25 (k1=1.2, b=0.75, Lucene idf) on the
    smoke corpus — exact integer micro-units, exact top-10 order."""
    import math

    from end_to_end_aws_data_pipeline_spark.catalog import table
    from end_to_end_aws_data_pipeline_spark.operators.text import (
        _BM25_TERMS,
        q_text_bm25_search,
    )
    from tests.conftest import SF_SMOKE

    got = q_text_bm25_search(spark, SF_SMOKE).collect()

    docs = {
        r.doc_id: r.text.split(" ")
        for r in table(spark, SF_SMOKE, "documents").collect()
    }
    n_docs = len(docs)
    n_tokens = sum(len(ws) for ws in docs.values())
    df = {
        t: sum(1 for ws in docs.values() if t in ws) for t in _BM25_TERMS
    }
    exp = {}
    for did, ws in docs.items():
        total, hits = 0, 0
        for t in _BM25_TERMS:
            tf = ws.count(t)
            if tf == 0:
                continue
            hits += 1
            idf = math.log((float(n_docs) - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            denom = float(tf) + 0.3 + 0.9 * ((float(len(ws)) * n_docs) / n_tokens)
            total += math.floor((idf * (float(tf) * 2.2)) / denom * 1e6 + 0.5)
        if hits:
            exp[did] = (hits, total)
    top = sorted(exp.items(), key=lambda kv: (-kv[1][1], kv[0]))[:10]
    assert [(r.doc_id, r.n_terms_hit, r.bm25_micro) for r in got] == [
        (did, h, s) for did, (h, s) in top
    ]


def test_pca_power_iterate_exact_and_climbing(spark):
    """The published PCA iterate must (a) equal an independent
    arbitrary-precision replay bit-for-bit (covariance assembly, shift
    chains, matvecs), and (b) climb: its alignment with numpy's true
    top eigenvector and its Rayleigh quotient must strictly improve
    over the starting basis vector."""
    import numpy as np

    from end_to_end_aws_data_pipeline_spark.catalog import table
    from end_to_end_aws_data_pipeline_spark.operators.similarity import (
        _PCA_ITERS,
        _PCA_QS,
        _PCA_VS,
        _shift_for,
        q_embed_pca_power,
    )
    from tests.conftest import SF_SMOKE

    got = {r.dim: r for r in q_embed_pca_power(spark, SF_SMOKE).collect()}
    assert len(got) == 64

    X = np.array(
        [
            np.asarray(r.embedding, dtype=np.float64)
            for r in table(spark, SF_SMOKE, "embeddings").collect()
        ]
    )
    Q = np.floor(X * _PCA_QS + 0.5).astype(np.int64)
    n = len(Q)
    C = (n * (Q.T @ Q) - np.outer(Q.sum(0), Q.sum(0))).astype(object)
    top = np.linalg.eigh(np.array(C, dtype=np.float64))[1][:, -1]

    Cs = C >> _shift_for(int(max(abs(int(c)) for c in C.ravel())), 30)
    v = np.zeros(64, dtype=object)
    v[0] = _PCA_VS
    align, rayleigh = [], []
    for _ in range(_PCA_ITERS):
        vf = np.array(v, dtype=np.float64)
        align.append(abs(vf @ top) / np.linalg.norm(vf))
        rayleigh.append((vf @ np.array(C, dtype=np.float64) @ vf) / (vf @ vf))
        w = Cs @ v
        s = _shift_for(int(max(abs(int(x)) for x in w)), 20)
        v = np.array([int(x) >> s for x in w], dtype=object)
    vf = np.array(v, dtype=np.float64)
    align.append(abs(vf @ top) / np.linalg.norm(vf))
    rayleigh.append((vf @ np.array(C, dtype=np.float64) @ vf) / (vf @ vf))

    # (a) bit-exact match with the engine's published iterate
    assert [int(got[i].v_fp) for i in range(64)] == [int(x) for x in v]
    assert all(got[i].loading == int(v[i]) / _PCA_VS for i in range(64))
    # (b) monotone climb toward the true principal axis
    assert all(b > a for a, b in zip(align, align[1:])), align
    assert all(b > a for a, b in zip(rayleigh, rayleigh[1:])), rayleigh


def test_decile_lift_invariants(spark):
    """Decile table invariants: population conservation, deciles sized
    ~N/10 (up to tie-group granularity), lift averages to 1 over the
    population, cumulative capture is monotone and ends at 1, and the
    capture curve dominates the diagonal iff AUC > 0.5 at the top."""
    from end_to_end_aws_data_pipeline_spark.catalog import table
    from end_to_end_aws_data_pipeline_spark.operators.extras import (
        q_agg_decile_lift,
    )
    from tests.conftest import SF_SMOKE

    rows = sorted(
        q_agg_decile_lift(spark, SF_SMOKE).collect(), key=lambda r: r.decile
    )
    d = table(spark, SF_SMOKE, "documents")
    n = d.count()
    p = d.filter("lang = 'en'").count()
    assert sum(r.n_rows for r in rows) == n
    assert sum(r.n_pos for r in rows) == p
    assert [r.decile for r in rows] == list(range(len(rows)))
    for r in rows:
        assert abs(r.pos_rate - r.n_pos / r.n_rows) < 2e-6
        assert abs(r.lift - (r.n_pos * n) / (r.n_rows * p)) < 1e-4
    caps = [r.cum_capture for r in rows]
    assert all(b >= a for a, b in zip(caps, caps[1:]))
    assert abs(caps[-1] - 1.0) < 2e-6
    # weighted mean lift over the population is exactly 1
    assert abs(sum(r.lift * r.n_rows for r in rows) / n - 1.0) < 1e-3


def test_fd_discovery_matches_pandas(spark):
    """Each FD verdict must match a pandas groupby-nunique recompute,
    and the designed-in key candidates must hold."""
    from end_to_end_aws_data_pipeline_spark.catalog import table
    from end_to_end_aws_data_pipeline_spark.ingest.queries import (
        _FD_CANDIDATES,
        q_etl_fd_discovery,
    )
    from tests.conftest import SF_SMOKE

    got = {r.fd: r for r in q_etl_fd_discovery(spark, SF_SMOKE).collect()}
    assert set(got) == {name for name, *_ in _FD_CANDIDATES}
    for name, tbl, lhs, rhs in _FD_CANDIDATES:
        pdf = table(spark, SF_SMOKE, tbl).select(lhs, rhs).toPandas()
        nd = pdf.groupby(lhs)[rhs].nunique()
        r = got[name]
        assert r.n_groups == len(nd)
        assert r.n_violating == int((nd > 1).sum())
        assert r.max_rhs_card == int(nd.max())
        assert r.holds == bool((nd <= 1).all())
    assert got["orders.o_orderkey->o_custkey"].holds
    assert got["customer.c_custkey->c_nationkey"].holds
    assert got["nation.n_nationkey->n_regionkey"].holds


def test_bootstrap_ci_matches_pure_python_replay(spark):
    """The Poisson bootstrap must equal a from-scratch Python replay
    (hashlib md5, same thresholds) exactly, the CI must bracket the
    point estimate, and the realized weights must average ≈ 1."""
    import hashlib
    import math

    from end_to_end_aws_data_pipeline_spark.catalog import table
    from end_to_end_aws_data_pipeline_spark.operators.extras import (
        _BOOT_B,
        _BOOT_HI_RN,
        _BOOT_LO_RN,
        _BOOT_TS,
        q_agg_bootstrap_ci,
    )
    from tests.conftest import SF_SMOKE

    r = q_agg_bootstrap_ci(spark, SF_SMOKE).collect()[0]

    rows = table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    ).collect()
    keys_cents = [
        (
            f"{x.l_orderkey}-{x.l_linenumber}-"
            f"{math.floor(x.l_extendedprice * 100 + 0.5)}",
            math.floor(x.l_extendedprice * 100 + 0.5),
        )
        for x in rows
    ]
    # one md5 per ROW, split into h1 (hex 1..15, 60 bits) and h2
    # (hex 16..29, 56 bits); resample b's draw is (h1 + b*h2) mod 2^60
    hashed = []
    for key0, cents in keys_cents:
        h = hashlib.md5(key0.encode()).hexdigest()
        hashed.append((int(h[:15], 16), int(h[15:29], 16), cents))
    total_w = 0
    means = []
    for b in range(_BOOT_B):
        sw = swx = 0
        for h1, h2, cents in hashed:
            draw = (h1 + b * h2) % (1 << 60)
            w = sum(1 for t in _BOOT_TS if t <= draw)
            sw += w
            swx += w * cents
        total_w += sw
        means.append((swx * 1000) // sw)
    means.sort()
    assert r.n_resamples == _BOOT_B and r.n_rows == len(keys_cents)
    s = sum(c for _, c in keys_cents)
    assert r.mean_mc == (s * 1000) // len(keys_cents)
    assert r.ci_lo_mc == means[_BOOT_LO_RN - 1]
    assert r.ci_hi_mc == means[_BOOT_HI_RN - 1]
    assert r.ci_lo_mc <= r.mean_mc <= r.ci_hi_mc
    avg_w = total_w / (_BOOT_B * len(keys_cents))
    assert abs(avg_w - 1.0) < 0.02, avg_w


def test_kcore_peel_matches_python_replay(spark):
    """The per-round k-core trajectory must equal an independent
    Python peel of the same graph, node counts must be non-increasing,
    and after any round every surviving node's induced degree is
    either ≥ k or subject to removal in a later round."""
    from collections import defaultdict

    from end_to_end_aws_data_pipeline_spark.catalog import table
    from end_to_end_aws_data_pipeline_spark.operators.graph import (
        _KCORE_K,
        _KCORE_ROUNDS,
        q_graph_kcore,
    )
    from tests.conftest import SF_SMOKE

    got = sorted(q_graph_kcore(spark, SF_SMOKE).collect(), key=lambda r: r.round)
    assert [r.round for r in got] == list(range(1, _KCORE_ROUNDS + 1))

    o = {r.o_orderkey: r.o_custkey for r in table(spark, SF_SMOKE, "orders").collect()}
    adj = defaultdict(set)
    for r in table(spark, SF_SMOKE, "lineitem").collect():
        if r.l_orderkey in o:
            c, s = o[r.l_orderkey] * 2, r.l_suppkey * 2 + 1
            adj[c].add(s)
            adj[s].add(c)
    for i in range(_KCORE_ROUNDS):
        rm = {n for n, nb in adj.items() if len(nb) < _KCORE_K}
        adj = {
            n: {m for m in nb if m not in rm}
            for n, nb in adj.items()
            if n not in rm
        }
        adj = {n: nb for n, nb in adj.items() if nb}
        r = got[i]
        n_edges = sum(len(nb) for nb in adj.values()) // 2
        assert (r.n_removed, r.n_nodes, r.n_edges, r.node_checksum) == (
            len(rm),
            len(adj),
            n_edges,
            sum(adj),
        ), i
    counts = [r.n_nodes for r in got]
    assert all(b <= a for a, b in zip(counts, counts[1:]))


def test_rrf_hybrid_matches_python_fusion(spark):
    """The RRF fusion must equal an independent Python fusion of the
    two component rankings (BM25 lexical, quantized-cosine semantic),
    including the integer 1e6//(k+rank) scoring and tie-breaks."""
    from end_to_end_aws_data_pipeline_spark.operators.similarity import (
        _RRF_K,
        _RRF_N,
        _RRF_PROBE,
        _RRF_TOP,
        q_search_hybrid_rrf,
    )
    from end_to_end_aws_data_pipeline_spark.operators.veccorpus import (
        quantized_vectors,
    )
    from end_to_end_aws_data_pipeline_spark.operators.text import bm25_scores
    from tests.conftest import SF_SMOKE

    got = q_search_hybrid_rrf(spark, SF_SMOKE).collect()

    lex_scores = bm25_scores(spark, SF_SMOKE).collect()
    lex_sorted = sorted(lex_scores, key=lambda r: (-r.bm25_micro, r.doc_id))
    lex_rank = {r.doc_id: i + 1 for i, r in enumerate(lex_sorted[:_RRF_N])}

    vecs = {r.vec_id: r.q for r in quantized_vectors(spark, SF_SMOKE).collect()}
    pq = vecs[_RRF_PROBE]
    dots = [
        (vid, sum(a * b for a, b in zip(q, pq)))
        for vid, q in vecs.items()
        if vid != _RRF_PROBE
    ]
    dots.sort(key=lambda t: (-t[1], t[0]))
    sem_rank = {vid: i + 1 for i, (vid, _) in enumerate(dots[:_RRF_N])}

    fused = {}
    for d in set(lex_rank) | set(sem_rank):
        s = 0
        if d in lex_rank:
            s += 1_000_000 // (_RRF_K + lex_rank[d])
        if d in sem_rank:
            s += 1_000_000 // (_RRF_K + sem_rank[d])
        fused[d] = s
    want = sorted(fused.items(), key=lambda t: (-t[1], t[0]))[:_RRF_TOP]

    assert [(r.doc_id, r.rrf_micro) for r in got] == want
    for r in got:
        assert r.lex_rank == lex_rank.get(r.doc_id)
        assert r.sem_rank == sem_rank.get(r.doc_id)


def test_gdpr_erasure_cascade_is_exact(spark):
    """The erasure cascade must equal an independent pandas resolution
    of the foreign-key closure, and deletes+survivors must partition
    each table."""
    from end_to_end_aws_data_pipeline_spark.catalog import table
    from end_to_end_aws_data_pipeline_spark.ingest.queries import (
        _GDPR_MOD,
        q_etl_gdpr_erasure,
    )
    from tests.conftest import SF_SMOKE

    got = {r.tbl: r for r in q_etl_gdpr_erasure(spark, SF_SMOKE).collect()}

    c = table(spark, SF_SMOKE, "customer").select("c_custkey").toPandas()
    o = table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey"
    ).toPandas()
    li = table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_linenumber"
    ).toPandas()
    req = set(c[c.c_custkey % _GDPR_MOD == 7].c_custkey)
    ords = o[o.o_custkey.isin(req)]
    lis = li[li.l_orderkey.isin(set(ords.o_orderkey))]

    assert got["customer"].n_delete == len(req)
    assert got["customer"].n_survive == len(c) - len(req)
    assert got["customer"].key_checksum == sum(req)
    assert got["orders"].n_delete == len(ords)
    assert got["orders"].n_survive == len(o) - len(ords)
    assert got["orders"].key_checksum == int(ords.o_orderkey.sum())
    assert got["lineitem"].n_delete == len(lis)
    assert got["lineitem"].n_survive == len(li) - len(lis)
    assert got["lineitem"].key_checksum == int(
        (lis.l_orderkey * 8 + lis.l_linenumber).sum()
    )
    # composite-key fold is collision-free: linenumber fits in 3 bits
    assert int(li.l_linenumber.max()) <= 7


def test_rake_matches_python_replay(spark):
    """RAKE must equal a from-scratch Python implementation: phrase
    segmentation at stopwords, deg/freq word scores in integer
    micro-units, phrase scores, and the (score desc, phrase) top-k."""
    from collections import defaultdict

    from end_to_end_aws_data_pipeline_spark.catalog import table
    from end_to_end_aws_data_pipeline_spark.operators.text import (
        _RAKE_STOPS,
        _RAKE_TOP,
        q_text_rake_keywords,
    )
    from tests.conftest import SF_SMOKE

    got = q_text_rake_keywords(spark, SF_SMOKE).collect()

    phrases = []  # (phrase_words)
    for r in table(spark, SF_SMOKE, "documents").select("text").collect():
        cur = []
        for w in r.text.split(" "):
            if w in _RAKE_STOPS:
                if cur:
                    phrases.append(cur)
                cur = []
            else:
                cur.append(w)
        if cur:
            phrases.append(cur)
    deg, freq = defaultdict(int), defaultdict(int)
    for ph in phrases:
        for w in ph:
            deg[w] += len(ph)
            freq[w] += 1
    wscore = {w: (deg[w] * 1_000_000) // freq[w] for w in deg}
    agg = defaultdict(lambda: [0, 0])  # phrase -> [n, score]
    for ph in phrases:
        s = sum(wscore[w] for w in ph)
        key = " ".join(ph)
        agg[key][0] += 1
        agg[key][1] = s
    want = sorted(
        ((k, n, s) for k, (n, s) in agg.items()),
        key=lambda t: (-t[2], t[0]),
    )[:_RAKE_TOP]
    assert [(r.phrase, r.n_occurrences, r.score_micro) for r in got] == want


def test_textrank_matches_python_replay(spark):
    """Weighted integer TextRank must equal a from-scratch Python
    replay of the co-occurrence build and all damped rounds."""
    from collections import defaultdict

    from end_to_end_aws_data_pipeline_spark.catalog import table
    from end_to_end_aws_data_pipeline_spark.operators.text import (
        _RAKE_STOPS,
        _TR_ITERS,
        _TR_R0,
        _TR_TELEPORT,
        _TR_TOP,
        q_text_textrank,
    )
    from tests.conftest import SF_SMOKE

    got = q_text_textrank(spark, SF_SMOKE).collect()

    wt = defaultdict(int)
    for r in table(spark, SF_SMOKE, "documents").select("text").collect():
        ws = r.text.split(" ")
        for a, b in zip(ws, ws[1:]):
            if a in _RAKE_STOPS or b in _RAKE_STOPS or a == b:
                continue
            wt[(min(a, b), max(a, b))] += 1
    edges = defaultdict(list)
    wdeg = defaultdict(int)
    for (a, b), w in wt.items():
        edges[a].append((b, w))
        edges[b].append((a, w))
        wdeg[a] += w
        wdeg[b] += w
    rank = {n: _TR_R0 for n in wdeg}
    for _ in range(_TR_ITERS):
        contrib = defaultdict(int)
        for src, outs in edges.items():
            for dst, w in outs:
                contrib[dst] += (rank[src] * w) // wdeg[src]
        rank = {n: _TR_TELEPORT + (85 * c) // 100 for n, c in contrib.items()}
    want = sorted(rank.items(), key=lambda t: (-t[1], t[0]))[:_TR_TOP]
    assert [(r.word, r.rank_q) for r in got] == want


def test_referential_integrity_audit_exact(spark):
    """The RI audit must equal a pandas FK resolution on every chain,
    and the canonical fixtures must be orphan-free."""
    from end_to_end_aws_data_pipeline_spark.catalog import table
    from end_to_end_aws_data_pipeline_spark.ingest.queries import (
        _RI_CHECKS,
        q_etl_referential_integrity,
    )
    from tests.conftest import SF_SMOKE

    got = {r.fk: r for r in q_etl_referential_integrity(spark, SF_SMOKE).collect()}
    assert set(got) == {name for name, *_ in _RI_CHECKS}
    for name, child, fk, parent, pk in _RI_CHECKS:
        c = table(spark, SF_SMOKE, child).select(fk).toPandas()[fk]
        p = set(table(spark, SF_SMOKE, parent).select(pk).toPandas()[pk])
        r = got[name]
        assert r.n_child == len(c)
        assert r.n_orphans == int((~c.isin(p)).sum())
        assert r.n_orphans == 0  # canonical fixtures are FK-complete
        assert r.n_fk_values == c.nunique()
        assert r.n_parent == len(p)


def test_doulion_estimator_tracks_exact(spark):
    """The deterministic DOULION sample must reproduce (a) the exact
    hash-sample membership, and (b) an estimate within a fixed band of
    the exact triangle count (deterministic sampling makes the error a
    fixed property of the corpus, not a random variable)."""
    from end_to_end_aws_data_pipeline_spark.operators.graph import (
        _DLN_P_INV,
        q_graph_triangles,
        q_graph_triangles_doulion,
    )
    from tests.conftest import SF_SMOKE

    est = q_graph_triangles_doulion(spark, SF_SMOKE).collect()[0]
    exact = q_graph_triangles(spark, SF_SMOKE).collect()[0]
    assert est.n_triangles_est == est.n_tri_sampled * _DLN_P_INV**3
    # ~1/p of edges survive (deterministic hash split)
    frac = est.n_edges_sampled / est.n_edges
    assert abs(frac - 1 / _DLN_P_INV) < 0.02, frac
    # estimator accuracy on this corpus (fixed, not probabilistic)
    rel = abs(est.n_triangles_est - exact.n_triangles) / exact.n_triangles
    assert rel < 0.25, (est.n_triangles_est, exact.n_triangles)


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6,
            allow_nan=False, allow_infinity=False,
        ),
        min_size=1, max_size=40,
    ),
    st.sampled_from([2, 4, 6]),
)
def test_stable_round_bit_identical_across_engines(spark, xs, scale):
    """The round-7 migration's core claim, fuzzed: stable_round's
    floor(x·10^s + 0.5)/10^s produces BIT-identical doubles in Spark
    and DuckDB for arbitrary inputs — including the decimal-expansion
    ties where round(double, s) diverges between the engines (the
    sf0.1 sweep's q_timeseries_gapfill/percent_rank finds)."""
    import struct

    import duckdb

    from end_to_end_aws_data_pipeline_spark.functions.aggs import (
        stable_round,
        stable_round_sql,
    )

    df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i int, x double")
    got = {
        r.i: r.y
        for r in df.select("i", stable_round(F.col("x"), scale).alias("y")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", [(i, x) for i, x in enumerate(xs)])
    exp = dict(
        con.execute(
            f"SELECT i, {stable_round_sql('x', scale)} FROM t"
        ).fetchall()
    )
    for i in got:
        a, b = got[i], exp[i]
        assert struct.pack("<d", a) == struct.pack("<d", b), (
            f"x={xs[i]!r} scale={scale}: spark={a!r} duckdb={b!r}"
        )


def test_ulm_fixed_point_log2_accuracy_and_sql_parity(spark):
    """aggs.l2hi's integer L(x)=65536·log2(x): (a) within the documented
    6.1e-5-bit worst case of true log2 across magnitudes, (b) equal
    integer-for-integer to the inlined DuckDB spelling and to the
    chained-step spelling evaluated in DuckDB and in Spark, up to the
    top of the valid range, 2^57 - 1; (c) 2^57 itself overflows the
    int64 segment product, which DuckDB refuses."""
    import math

    import duckdb
    import pytest

    from end_to_end_aws_data_pipeline_spark.functions.aggs import (
        l2hi,
        l2hi_sql,
        l2hi_steps,
    )

    xs = (
        [1, 2, 3, 5, 7, 63, 64, 65, 1000, 12345, 10**6, 10**9, 2**40]
        + [2**k - 1 for k in range(2, 40, 5)]
        + [2**k + 1 for k in range(2, 40, 5)]
        + [2**56 + 9, 2**57 - 1]
    )
    con = duckdb.connect()
    for x in xs:
        py = l2hi(x)
        (sql_v,) = con.execute(
            f"SELECT {l2hi_sql(f'CAST({x} AS BIGINT)')}"
        ).fetchone()
        assert py == sql_v, f"x={x}: python {py} != sql {sql_v}"
        err_bits = abs(py / 65536.0 - math.log2(x))
        assert err_bits <= 6.1e-5 * 1.05 + 1.0 / 65536.0, (x, err_bits)

    def stepped(div: str) -> str:
        geom, seg, ev = l2hi_steps("x", "p_", div)
        return (
            f"SELECT x, {', '.join(ev)} FROM ("
            f"SELECT x, p_e, p_x, {', '.join(seg)} FROM ("
            f"SELECT x, {', '.join(geom)} FROM l2hi_src))"
        )

    values = ", ".join(f"(CAST({x} AS BIGINT))" for x in xs)
    con.execute(f"CREATE VIEW l2hi_src AS SELECT * FROM (VALUES {values}) t(x)")
    want = {x: l2hi(x) for x in xs}
    assert dict(con.execute(stepped("//")).fetchall()) == want
    spark.createDataFrame([(x,) for x in xs], "x long").createOrReplaceTempView(
        "l2hi_src"
    )
    got = {r[0]: r[1] for r in spark.sql(stepped(" div ")).collect()}
    assert got == want
    with pytest.raises(duckdb.OutOfRangeException):
        con.execute(f"SELECT {l2hi_sql(f'CAST({2**57} AS BIGINT)')}").fetchone()


# ---------------------------------------------------------------------------
# mergeable quantile sketch (q_agg_kll_quantiles): the error-bound and
# weight-exactness CLAIMS, fuzzed on a pure-python mirror of the exact
# integer algorithm — any multiset, any partitioning into groups
# ---------------------------------------------------------------------------


def _kll_mirror(rows, k):
    """Pure-python replay of the canonical MRL compaction in
    operators/percentiles.q_agg_kll_quantiles: per-group equi-spaced
    rank subsample with exact tiled weights, then one identical
    compaction over the weighted union. Returns (kept, b, n) where
    kept = [(vc, uniq, w2, cw)] in (vc, uniq) order."""
    from collections import defaultdict

    groups = defaultdict(list)
    for g, vc, uniq in rows:
        groups[g].append((vc, uniq))
    l1, ssum = [], 0
    for vals in groups.values():
        vals.sort()
        n_g = len(vals)
        s = 1
        while s * k < n_g:
            s *= 2
        ssum += s - 1
        for i in range(0, n_g, s):
            l1.append((*vals[i], min(s, n_g - i)))
    l1.sort()
    mm = len(l1)
    s2 = 1
    while s2 * k < mm:
        s2 *= 2
    kept, cw = [], 0
    for i in range(0, mm, s2):
        w2 = sum(w for *_, w in l1[i : i + s2])
        cw += w2
        kept.append((l1[i][0], l1[i][1], w2, cw))
    b = ssum + max(w2 for *_, w2, _cw in kept)
    return kept, b, len(rows)


@settings(max_examples=120, deadline=None)
@given(
    data=st.lists(
        st.tuples(
            st.integers(0, 6),        # group (arbitrary partitioning)
            st.integers(-50, 50),     # value (dense -> heavy ties)
            st.integers(0, 7),        # tie refinement (non-unique, like
        ),                            # the fixture's orderkey collisions)
        min_size=1,
        max_size=300,
    ),
    k=st.sampled_from([1, 2, 4, 8]),
)
def test_kll_sketch_bound_holds_for_any_partitioning(data, k):
    """Rollup-safety, the property that makes per-day sketches safe to
    merge at 100 TB: for ANY partitioning of a multiset into groups,
    (a) the merged sketch's total weight is exactly N (strata tile),
    (b) every quantile estimate's realized rank error is within the
    published bound B = sum_g(s_g - 1) + max stratum weight, and
    (c) the sketch depends only on the multiset, not on row order."""
    import bisect

    kept, b, n = _kll_mirror(data, k)
    assert kept[-1][3] == n  # (a) weight-exact
    # (c) canonical: any permutation yields the identical sketch
    assert _kll_mirror(list(reversed(data)), k)[0] == kept
    svals = sorted(vc for _, vc, _ in data)
    for q_ppm in (250_000, 500_000, 750_000, 950_000):
        t = (q_ppm * n + 999_999) // 1_000_000
        est = next(vc for vc, _u, _w, cw in kept if cw >= t)
        lo = bisect.bisect_left(svals, est) + 1
        hi = bisect.bisect_right(svals, est)
        err = (lo - t) if t < lo else (t - hi) if t > hi else 0
        assert err <= b, (data, k, q_ppm, est, t, lo, hi, b)


@given(
    st.lists(
        st.integers(min_value=-(10**12), max_value=10**12),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=30, deadline=None)
def test_holt_tdiv_matches_duckdb_integer_division(vals):
    """The Holt recursion's driver-side division must reproduce
    DuckDB's BIGINT `//` exactly — truncation toward zero, NOT
    Python's flooring `//` (they differ on every negative non-exact
    quotient, and the trend state goes negative on downtrends)."""
    import duckdb

    from end_to_end_aws_data_pipeline_spark.operators.sweep import _tdiv

    con = duckdb.connect()
    rows = ", ".join(f"({v})" for v in vals)
    duck = [
        r[0]
        for r in con.execute(
            f"SELECT CAST(v AS BIGINT) // 10 FROM (VALUES {rows}) t(v) "
        ).fetchall()
    ]
    assert [_tdiv(v, 10) for v in vals] == duck
    # and at least one witness that flooring would have drifted
    if any(v < 0 and v % 10 != 0 for v in vals):
        assert any(_tdiv(v, 10) != v // 10 for v in vals if v < 0)
