"""Chunking / sampling / incremental-dedup / SemDeDup properties —
python-reference checks independent of the DuckDB oracles."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_chunking_reconstructs_documents(spark):
    """Chunk slices must tile each document: chunk i holds tokens
    [i*S, i*S+W); stitching chunk 0 plus each later chunk's tail past
    the W-S overlap reproduces the exact token stream."""
    from end_to_end_aws_data_pipeline_spark.operators.chunking import (
        _CHUNK_S,
        _CHUNK_W,
        q_chunk_documents,
    )

    rows = q_chunk_documents(spark, SF).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], {})[r["chunk_idx"]] = r
    texts = {r["doc_id"]: r["text"] for r in _docs(spark).collect()}
    assert set(by_doc) == set(texts)
    for doc_id, chunks in by_doc.items():
        words = texts[doc_id].split(" ")
        assert sorted(chunks) == list(range(len(chunks)))
        for i in range(len(chunks)):
            toks = chunks[i]["chunk"].split(" ") if chunks[i]["chunk"] else []
            assert chunks[i]["n_tokens"] == len(toks)
            assert toks == words[i * _CHUNK_S : i * _CHUNK_S + _CHUNK_W]
        covered = set()
        for i in range(len(chunks)):
            covered.update(range(i * _CHUNK_S, min(i * _CHUNK_S + _CHUNK_W, len(words))))
        assert covered == set(range(len(words)))


def test_uniform_hash_sample_is_deterministic_subset(spark):
    from end_to_end_aws_data_pipeline_spark.operators.chunking import (
        _SAMPLE_K,
        q_sample_uniform_hash,
    )

    a = q_sample_uniform_hash(spark, SF).collect()
    b = q_sample_uniform_hash(spark, SF).collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    n_docs = _docs(spark).count()
    assert len(a) == min(_SAMPLE_K, n_docs)
    all_ids = {r["doc_id"] for r in _docs(spark).select("doc_id").collect()}
    assert {r["doc_id"] for r in a} <= all_ids
    ranks = [r["h_rank"] for r in a]
    assert ranks == sorted(ranks)


def test_incremental_dedup_matches_python_reference(spark):
    from end_to_end_aws_data_pipeline_spark.operators.dedup import (
        _BATCH_MIN,
        _BATCH_MOD,
        q_dedup_incremental,
    )

    docs = _docs(spark).collect()
    corpus_digests = {
        hashlib.sha256(r["text"].encode()).hexdigest()
        for r in docs
        if r["doc_id"] % _BATCH_MOD < _BATCH_MIN
    }
    best: dict = {}
    for r in docs:
        if r["doc_id"] % _BATCH_MOD < _BATCH_MIN:
            continue
        d = hashlib.sha256(r["text"].encode()).hexdigest()
        if d not in best or r["doc_id"] < best[d]["doc_id"]:
            best[d] = r
    expected: dict = {}
    for d, r in best.items():
        if d in corpus_digests:
            continue
        e = expected.setdefault(r["source"], [0, 0, 0])
        e[0] += 1
        e[1] += r["doc_id"]
        e[2] += r["n_chars"]
    got = {
        r["source"]: [r["n_new_docs"], r["id_checksum"], r["sum_chars"]]
        for r in q_dedup_incremental(spark, SF).collect()
    }
    assert got == expected


def test_semdedup_drop_rule_matches_numpy(spark):
    """Within each centroid bucket, a vector is dropped iff a lower-id
    bucket-mate has quantized dot >= the integer threshold."""
    import numpy as np

    from end_to_end_aws_data_pipeline_spark.operators.similarity import (
        _SEMDEDUP_DOT,
        _ivf_assigned,
        q_semdedup,
    )

    _, assign, _, _ = _ivf_assigned(spark, SF)
    rows = assign.collect()
    by_cent: dict = {}
    for r in rows:
        by_cent.setdefault(r["cent_id"], []).append(
            (r["vec_id"], np.array(r["q"], dtype=np.int64))
        )
    exp: dict = {}
    for cent, vs in by_cent.items():
        vs.sort()
        dropped = set()
        for i in range(len(vs)):
            for j in range(i + 1, len(vs)):
                if int(vs[i][1] @ vs[j][1]) >= _SEMDEDUP_DOT:
                    dropped.add(vs[j][0])
        kept_sum = sum(v for v, _ in vs if v not in dropped)
        exp[cent] = (len(vs), len(dropped), kept_sum)
    got = {
        r["cent_id"]: (r["n_vectors"], r["n_dropped"], r["kept_id_checksum"])
        for r in q_semdedup(spark, SF).collect()
    }
    assert got == exp


def test_perplexity_matches_python_reference(spark, tmp_path):
    """Bigram-LM scoring against an independent pure-python LM on a
    tiny hand-checkable corpus: repeated fluent bigrams must score
    LOWER avg_nll than a one-off noise document, and every quantized
    term must match the reference exactly."""
    import math

    from end_to_end_aws_data_pipeline_spark.operators.text import (
        q_text_perplexity,
    )

    docs = [
        (0, "the cat sat on the mat"),
        (1, "the cat sat on the hat"),
        (2, "the cat sat on the mat"),
        (3, "zx qq vv"),          # unseen-elsewhere bigrams -> high nll
        (4, "single"),            # 1 word -> no bigrams -> not scored
    ]
    # route the registry query through a parquet dir shaped like sf_dir
    import pandas as pd

    pd.DataFrame(
        {"doc_id": [d for d, _ in docs], "text": [t for _, t in docs],
         "n_chars": [len(t) for _, t in docs], "lang": ["en"] * len(docs)}
    ).to_parquet(tmp_path / "documents.parquet")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["nll_micro_sum"], r["avg_nll"])
        for r in q_text_perplexity(spark, str(tmp_path)).collect()
    }

    # independent python LM
    c1: dict = {}
    c2: dict = {}
    vocab = set()
    for _, t in docs:
        wsl = t.split(" ")
        for w in wsl:
            c1[w] = c1.get(w, 0) + 1
            vocab.add(w)
        for a, b in zip(wsl, wsl[1:]):
            c2[(a, b)] = c2.get((a, b), 0) + 1
    v = len(vocab)
    exp = {}
    for did, t in docs:
        wsl = t.split(" ")
        terms = [
            round(-math.log((c2[(a, b)] + 1.0) / (c1[a] + v)) * 1_000_000)
            for a, b in zip(wsl, wsl[1:])
        ]
        if terms:
            exp[did] = (
                len(terms),
                sum(terms),
                round(sum(terms) / len(terms) / 1_000_000, 6),
            )
    assert got == exp
    assert 4 not in got  # no bigrams -> unscored by definition
    assert got[3][2] > got[0][2]  # noise doc scores worse than fluent
    assert got[0] == got[2]  # identical docs, identical score


def test_text_normalize_unicode_and_controls(spark, tmp_path):
    """NFC composition, control stripping, and whitespace collapse on
    REAL unicode (the sf fixture is ASCII, where NFC is identity):
    decomposed e+combining-acute composes, controls vanish, whitespace
    runs collapse, and the Spark output matches DuckDB's independent
    utf8proc implementation on the same parquet."""
    import duckdb
    import pandas as pd

    from end_to_end_aws_data_pipeline_spark.operators.text import (
        _NORMALIZE_ORACLE,
        q_text_normalize,
    )

    docs = {
        0: "café society",            # decomposed -> café
        1: "a\x00b\x07c\x7fd",              # C0/DEL controls stripped
        2: "  too \t many\n\n spaces \r ",  # collapse + trim
        3: "ﬁne",                      # ﬁ ligature: NFC keeps it
        4: "plain ascii text",
    }
    pd.DataFrame(
        {"doc_id": list(docs), "text": list(docs.values()),
         "n_chars": [len(t) for t in docs.values()], "lang": ["en"] * 5}
    ).to_parquet(tmp_path / "documents.parquet")

    got = {
        r["doc_id"]: r["text_norm"]
        for r in q_text_normalize(spark, str(tmp_path)).collect()
    }
    assert got[0] == "café society"
    assert got[1] == "abcd"
    assert got[2] == "too many spaces"
    assert got[3] == "ﬁne"  # NFC does NOT decompose ligatures (NFKC would)
    assert got[4] == "plain ascii text"

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    oracle = {r[0]: r[1] for r in con.execute(_NORMALIZE_ORACLE).fetchall()}
    assert got == oracle


def test_incremental_bloom_equals_exact_and_screens(spark):
    """The bloom-screened incremental dedup must return EXACTLY the
    exact anti-join variant's rows, and the screen must do real work:
    bloom hits (anti-join input) ≈ true duplicates + ~0.8% fp, far
    below the full batch size."""
    from end_to_end_aws_data_pipeline_spark.cache import release_all
    from end_to_end_aws_data_pipeline_spark.catalog import table
    from end_to_end_aws_data_pipeline_spark.operators.dedup import (
        _BATCH_MIN,
        _BATCH_MOD,
        bloom_might_contain,
        digest_bloom,
        q_dedup_incremental,
        q_dedup_incremental_bloom,
    )
    from pyspark.sql import functions as F

    try:
        exact = {
            tuple(r) for r in q_dedup_incremental(spark, SF).collect()
        }
        bloom = {
            tuple(r) for r in q_dedup_incremental_bloom(spark, SF).collect()
        }
        assert bloom == exact and len(bloom) > 0

        # screen-reduction: measure hits directly with the library parts
        docs = table(spark, SF, "documents")
        is_batch = F.pmod(F.col("doc_id"), F.lit(_BATCH_MOD)) >= _BATCH_MIN
        corpus = (
            docs.filter(~is_batch)
            .select(F.sha2("text", 256).alias("digest"))
            .distinct()
        )
        n_corpus = corpus.count()
        bitmap, m_bits = digest_bloom(corpus, n_corpus)
        batch = (
            docs.filter(is_batch)
            .select(F.sha2("text", 256).alias("digest"))
            .distinct()
        )
        bloom_df = F.broadcast(
            spark.createDataFrame([(bitmap,)], "bloom array<long>")
        )
        n_batch = batch.count()
        n_hits = (
            batch.crossJoin(bloom_df)
            .filter(bloom_might_contain(m_bits))
            .count()
        )
        n_true_dups = batch.join(corpus, "digest", "left_semi").count()
        # no false negatives: every true dup hits the bloom
        assert n_hits >= n_true_dups
        # false positives bounded: <= true dups + 5% of the batch
        assert n_hits <= n_true_dups + max(3, int(0.05 * n_batch))
        assert n_hits < n_batch  # the screen actually pruned
    finally:
        release_all()


def test_bpe_apply_merge_greedy_runs(spark):
    """Greedy left-to-right merge semantics, including the identical-
    pair run case where naive string replace diverges from classic
    BPE ([a,a,a,a] with (a,a) must give [aa,aa], not [aa,a,a])."""
    from pyspark.sql import functions as F

    from end_to_end_aws_data_pipeline_spark.operators.text import (
        _bpe_apply_merge,
    )

    df = spark.createDataFrame(
        [("aaaa",), ("aabab",), ("abb",), ("b",)], "w string"
    )
    out = {
        r.w: r.m
        for r in df.select(
            "w", _bpe_apply_merge(F.split("w", ""), "a", "b").alias("m")
        ).collect()
    }
    assert out["aabab"] == ["a", "ab", "ab"]
    assert out["abb"] == ["ab", "b"]
    assert out["b"] == ["b"]
    aa = {
        r.w: r.m
        for r in df.select(
            "w", _bpe_apply_merge(F.split("w", ""), "a", "a").alias("m")
        ).collect()
    }
    assert aa["aaaa"] == ["aa", "aa"]


def test_bpe_merge_counts_non_increasing(spark):
    """Each learned pair's count is <= the previous round's: merging
    the argmax pair can only create pairs bounded by its own count and
    can only shrink existing ones — a structural invariant of BPE
    training that a buggy recount would violate."""
    from end_to_end_aws_data_pipeline_spark.operators.text import (
        q_text_bpe_merges,
    )
    from tests.conftest import SF_SMOKE

    rows = q_text_bpe_merges(spark, SF_SMOKE).orderBy("step").collect()
    counts = [r.pair_count for r in rows]
    assert len(counts) == 6
    assert all(c > 0 for c in counts)
    assert all(a >= b for a, b in zip(counts, counts[1:]))


def test_longest_run_planted_overlaps(spark, tmp_path):
    """Planted-overlap exactness: documents built around exactly-known
    shared token runs must reconstruct the run length EXACTLY (anchors
    + gaps-and-islands == suffix-array answer), exclude runs under the
    report floor, and count multiple disjoint runs separately."""
    import os

    from end_to_end_aws_data_pipeline_spark.operators.dedup import (
        _RUN_ANCHOR,
        _RUN_MIN,
        q_dedup_longest_run,
    )

    def words(prefix, n):
        return [f"{prefix}{i}" for i in range(n)]

    shared_a = words("s", 25)          # one 25-token run (>= _RUN_MIN)
    shared_b = words("t", _RUN_MIN)    # one exactly-at-floor run
    short = words("u", _RUN_MIN - 1)   # 19 tokens: must NOT be reported
    docs = [
        # doc 1 and 2 share the 25-run and the 20-run, disjointly
        (1, " ".join(words("a", 7) + shared_a + words("b", 9)
                     + shared_b + words("c", 5))),
        (2, " ".join(words("d", 11) + shared_a + words("e", 6)
                     + shared_b + words("f", 3))),
        # doc 3 shares only the under-floor run with doc 1
        (3, " ".join(short + words("g", 30))),
        (4, " ".join(words("h", 40))),  # shares nothing
    ]
    # splice the short run into doc 1's filler so 1-3 overlap < _RUN_MIN
    docs[0] = (1, docs[0][1] + " " + " ".join(short))
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(os.path.join(sf, "documents.parquet"))

    out = {
        (r.doc_a, r.doc_b): r
        for r in q_dedup_longest_run(spark, sf).collect()
    }
    assert set(out) == {(1, 2)}, "under-floor and no-overlap pairs excluded"
    r = out[(1, 2)]
    assert r.longest_run == 25
    assert r.n_runs == 2
    assert r.dup_tokens == 25 + _RUN_MIN
    assert _RUN_MIN - 1 >= _RUN_ANCHOR, "floor must stay >= anchor width"


def test_unigram_train_matches_python_replay(spark):
    """Full independent replay of unigram-LM training in plain Python
    (pandas + collections, no Spark, no DuckDB) — seed selection, both
    hard-EM rounds, the integer fixed-point costs, and the DP
    tie-break must all reproduce the engine's published pieces
    EXACTLY, or some step is engine-dependent."""
    import re
    from collections import Counter

    import pandas as pd

    from end_to_end_aws_data_pipeline_spark.functions.aggs import l2hi
    from end_to_end_aws_data_pipeline_spark.operators.text import (
        _ULM_MAXLEN,
        _ULM_PLEN,
        _ULM_ROUNDS,
        _ULM_SEED,
        _ULM_TOP,
        _bpe_word_filter,
        _ulm_viterbi,
        q_text_unigram_train,
    )
    from tests.conftest import SF_SMOKE

    df = pd.read_parquet(f"{SF_SMOKE}/documents.parquet", columns=["text"])
    rx = re.compile(_bpe_word_filter())
    wc = Counter()
    for t in df["text"]:
        for w in t.split(" "):
            if rx.match(w) and len(w) <= _ULM_MAXLEN:
                wc[w.lower()] += 1

    cand, chars = Counter(), Counter()
    for w, c in wc.items():
        for ln in range(2, _ULM_PLEN + 1):
            for i in range(len(w) - ln + 1):
                cand[w[i : i + ln]] += c
        for ch in w:
            chars[ch] += c
    model = dict(
        sorted(cand.items(), key=lambda kv: (-kv[1], kv[0]))[:_ULM_SEED]
    )
    model.update(chars)

    for _ in range(_ULM_ROUNDS):
        total = sum(model.values())
        l_t = l2hi(total)
        cost = {p: l_t - l2hi(c) for p, c in model.items()}
        counts = Counter()
        for w, c in wc.items():
            for piece in _ulm_viterbi(w, cost):
                counts[piece] += c
        model = {
            p: (max(counts.get(p, 0), 1) if len(p) == 1 else counts[p])
            for p in model
            if len(p) == 1 or counts.get(p, 0) > 0
        }

    expected = sorted(
        ((p, c) for p, c in model.items() if len(p) > 1),
        key=lambda kv: (-kv[1], kv[0]),
    )[:_ULM_TOP]
    got = [
        (r.piece, r.piece_count)
        for r in q_text_unigram_train(spark, SF_SMOKE).orderBy("rank").collect()
    ]
    assert got == expected


def test_unigram_viterbi_segmentation_reconstructs(spark):
    """Structural invariants of the DP: every segmentation concatenates
    back to the word, uses only vocab pieces, and is optimal vs a
    brute-force enumeration on short words."""
    from itertools import product

    from end_to_end_aws_data_pipeline_spark.operators.text import (
        _ULM_PLEN,
        _ulm_viterbi,
    )

    cost = {"a": 5, "b": 7, "ab": 9, "ba": 8, "aba": 20, "bb": 30}
    for word in ["ab", "aba", "abab", "bbaa", "ababab"]:
        if any(ch not in cost for ch in word):
            continue
        seg = _ulm_viterbi(word, cost)
        assert "".join(seg) == word
        assert all(p in cost for p in seg)
        # brute force: all compositions into pieces of length <= _ULM_PLEN
        def comps(w):
            if not w:
                yield ()
                return
            for ln in range(1, min(_ULM_PLEN, len(w)) + 1):
                p = w[:ln]
                if p in cost:
                    for rest in comps(w[ln:]):
                        yield (p,) + rest
        best = min(
            (sum(cost[p] for p in c), len(c)) for c in comps(word)
        )
        assert (sum(cost[p] for p in seg), len(seg)) == best


def test_run_removal_unions_overlapping_spans(spark, tmp_path):
    """Coverage must be the interval UNION: two shared runs overlapping
    inside one document count their overlap once. doc1 shares S[0:25]
    with doc2 and S[15:40] with doc3 — doc1's duplicated tokens are
    |S[0:40]| = 40, not 25 + 25."""
    import os

    from end_to_end_aws_data_pipeline_spark.operators.dedup import (
        q_dedup_run_removal,
    )

    S = [f"s{i}" for i in range(40)]
    docs = [
        (1, " ".join([f"f{i}" for i in range(7)] + S
                     + [f"g{i}" for i in range(5)])),
        (2, " ".join([f"h{i}" for i in range(9)] + S[:25]
                     + [f"k{i}" for i in range(4)])),
        (3, " ".join([f"m{i}" for i in range(3)] + S[15:]
                     + [f"n{i}" for i in range(6)])),
    ]
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(os.path.join(sf, "documents.parquet"))

    out = {r.doc_id: r for r in q_dedup_run_removal(spark, sf).collect()}
    assert out[1].dup_tokens == 40, "overlap counted once"
    assert out[2].dup_tokens == 25
    assert out[3].dup_tokens == 25
    assert out[1].n_tokens == 52
    assert abs(out[1].kept_frac - (1 - 40 / 52)) < 1e-6


def test_winnowing_window_guarantee(spark, tmp_path):
    """Schleimer et al.'s guarantee: any shared token run of
    >= k + w - 1 tokens shares at least one winnowed fingerprint.
    Plant exactly-threshold runs and check detection + density."""
    import os

    from end_to_end_aws_data_pipeline_spark.operators.dedup import (
        _WIN_K,
        _WIN_M,
        _WIN_W,
        q_dedup_winnowing,
    )

    thr = _WIN_K + _WIN_W - 1  # 11 tokens
    run1 = [f"s{i}" for i in range(thr)]
    run2 = [f"t{i}" for i in range(thr)]
    docs = [
        # docs 1-2 share TWO disjoint threshold runs (>= _WIN_M prints
        # guaranteed: each run contributes at least one)
        (1, " ".join([f"a{i}" for i in range(20)] + run1
                     + [f"b{i}" for i in range(20)] + run2)),
        (2, " ".join([f"c{i}" for i in range(15)] + run1
                     + [f"d{i}" for i in range(25)] + run2)),
        (4, " ".join([f"h{i}" for i in range(60)])),  # shares nothing
    ]
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(os.path.join(sf, "documents.parquet"))
    out = {(r.doc_a, r.doc_b): r.n_prints
           for r in q_dedup_winnowing(spark, sf).collect()}
    assert (1, 2) in out, "threshold-length runs must be caught"
    assert out[(1, 2)] >= _WIN_M
    assert all(p == (1, 2) for p in out), "no-overlap docs stay silent"


def test_lpa_two_planted_clusters(spark, tmp_path):
    """Two disconnected purchase clusters must converge to exactly two
    communities whose sizes are the cluster node counts, and the
    deterministic tie-break (count DESC, label ASC) must reproduce a
    plain-Python replay of the same rule."""
    import os
    from collections import Counter

    from end_to_end_aws_data_pipeline_spark.operators.graph import (
        _LPA_ROUNDS,
        q_graph_lpa_communities,
    )

    # cluster A: customers 1-3 x suppliers 1-2; cluster B: 4-6 x 3-4
    orders, lineitem = [], []
    ok = 0
    for custs, supps in (((1, 2, 3), (1, 2)), ((4, 5, 6), (3, 4))):
        for c in custs:
            for s in supps:
                ok += 1
                orders.append((ok, c))
                lineitem.append((ok, s))
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(orders, "o_orderkey long, o_custkey long").write.parquet(
        os.path.join(sf, "orders.parquet"))
    spark.createDataFrame(lineitem, "l_orderkey long, l_suppkey long").write.parquet(
        os.path.join(sf, "lineitem.parquet"))

    # python replay: same namespace (cust*2, supp*2+1), same rule
    edges = set()
    om = dict(orders)
    for okey, s in lineitem:
        edges.add((om[okey] * 2, s * 2 + 1))
    adj = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    lbl = {v: v for v in adj}
    for _ in range(_LPA_ROUNDS):
        def vote(v):
            c = Counter(lbl[u] for u in adj[v])
            c[lbl[v]] += 1  # self-vote (retention variant)
            return min(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        lbl = {v: vote(v) for v in adj}
    expected = sorted(
        Counter(lbl.values()).items(), key=lambda kv: (-kv[1], kv[0])
    )
    got = [
        (r.community, r.n_members)
        for r in q_graph_lpa_communities(spark, sf).orderBy("rank").collect()
    ]
    assert got == expected
    # the two planted clusters stay separate
    assert sum(n for _, n in got) == 10 and len(got) >= 2


def test_lpa_deep_stop_period2(spark):
    """The evidence for q_graph_lpa_communities' fixed round count: on
    the bipartite purchase graph a plain changed==0 stop never fires,
    while the period-2 stop labels(t) == labels(t-2) does (the orbit the
    depth study in SCALING.md measured). Replays ``_lpa_round`` and
    compares every round's label vector on the driver."""
    from end_to_end_aws_data_pipeline_spark.operators.graph import (
        _lpa_round,
        _lpa_setup,
    )
    from tests.conftest import SF_SMOKE

    edges, labels = _lpa_setup(spark, SF_SMOKE)

    def vec(df) -> dict:
        return {r.node: r.lbl for r in df.collect()}

    hist = [vec(labels)]
    while len(hist) <= 20 and (len(hist) < 3 or hist[-1] != hist[-3]):
        labels = _lpa_round(edges, labels)
        hist.append(vec(labels))
    r = len(hist) - 1
    assert hist[r] == hist[r - 2], "period-2 stop must fire within 20 rounds"
    # changed==0 never fires: every round changes SOME node's label
    for t in range(1, r + 1):
        assert hist[t] != hist[t - 1], (
            f"round {t}: plain fixpoint fired — orbit assumption broken"
        )


def test_hyperanf_monotone_and_deep_fixpoint(spark):
    """HyperANF invariants: N(k) is monotone nondecreasing (balls only
    grow under max-merge), N(0) is exactly 100 cents per node (the
    single-element linear-counting estimate), the registered query
    flags exactly one effective-diameter row, and run deeper the fold
    reaches its register fixpoint: N(k) stops growing."""
    from end_to_end_aws_data_pipeline_spark.operators.graph import (
        hyperanf_counts,
        q_graph_hyperanf,
    )
    from tests.conftest import SF_SMOKE

    counts = hyperanf_counts(spark, SF_SMOKE)
    assert [k for k, _ in counts] == [0, 1, 2, 3, 4]
    vals = [c for _, c in counts]
    assert vals == sorted(vals)  # monotone
    n_nodes = vals[0] // 100
    assert vals[0] == 100 * n_nodes and n_nodes > 0
    assert vals[-1] > vals[0]  # balls actually grew

    out = q_graph_hyperanf(spark, SF_SMOKE).collect()
    assert len(out) == 5
    eff = [r for r in out if r["is_eff_diameter"]]
    assert len(eff) == 1
    assert max(r["pct_bp"] for r in out) == 10000
    assert eff[0]["pct_bp"] >= 9000

    deep = [c for _, c in hyperanf_counts(spark, SF_SMOKE, k_rounds=12)]
    assert deep[:5] == vals and deep == sorted(deep)
    assert deep[-1] == deep[-2]  # saturated within 12 rounds


def test_hyperanf_join_regime_invariance(spark, monkeypatch):
    """The size-aware join strategy (broadcast sketch vs pre-partitioned
    edges + sketch-side shuffle) is a SCHEDULING choice, never an
    arithmetic one: forcing the large regime at smoke scale must
    reproduce the broadcast regime's N(k) curve exactly."""
    from end_to_end_aws_data_pipeline_spark.operators import graph as G
    from tests.conftest import SF_SMOKE

    small_curve = G.hyperanf_counts(spark, SF_SMOKE)
    monkeypatch.setattr(G, "_HA_BCAST_NODES", 0)  # force shuffle regime
    large_curve = G.hyperanf_counts(spark, SF_SMOKE)
    assert large_curve == small_curve


def test_harmonic_centrality_shape_and_hubs(spark):
    """HyperBall harmonic centrality: exactly TOP rows, positive
    fixed-point scores, descending order with the (hc desc, node)
    tiebreak — and on the bipartite purchase graph the 100 suppliers
    serve ~15x more counterparties each than customers do, so the
    top of the ranking must be supplier-dominated."""
    from end_to_end_aws_data_pipeline_spark.operators.graph import (
        _HC_TOP,
        q_graph_harmonic_centrality,
    )
    from tests.conftest import SF_SMOKE

    rows = q_graph_harmonic_centrality(spark, SF_SMOKE).collect()
    assert len(rows) == _HC_TOP
    scores = [r["hc_fp12"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)
    # sf0.001 has only 10 suppliers TOTAL — every one of them ranking
    # inside the top-20 (10/20, vs suppliers' ~1.5% share of nodes) is
    # the hub signal
    assert sum(r["node_type"] == "supplier" for r in rows) >= _HC_TOP // 2


def test_personalized_pagerank_seed_locality(spark):
    """PPR sanity: seeds hold the top of their own ranking (teleport
    returns only to them), every returned score is positive, and at
    least one NON-seed made the cut (mass actually propagated to the
    seed neighborhood instead of staying put)."""
    from end_to_end_aws_data_pipeline_spark.operators.graph import (
        q_graph_pagerank_personalized,
    )
    from tests.conftest import SF_SMOKE

    rows = q_graph_pagerank_personalized(spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= 20
    scores = [r["rank_q"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # a supplier touching BOTH seeds can out-rank either single seed
    # (it aggregates two restart streams), so the invariant is that
    # seeds sit AT the top, not necessarily first
    assert any(r["is_seed"] for r in rows[:3])
    assert any(not r["is_seed"] for r in rows)
    assert all(s > 0 for s in scores)


def test_hits_bipartite_roles_and_ordering(spark):
    """HITS on the directed customer→supplier graph: authorities can
    only be suppliers and hubs only customers (the bipartite
    orientation), each role's block is score-descending with positive
    scores, the hub block is exactly TOP rows, and the authority block
    is min(TOP, |suppliers|) — sf0.001 has only 10 suppliers total, so
    all 10 must rank."""
    from end_to_end_aws_data_pipeline_spark.operators.graph import (
        _HITS_TOP,
        q_graph_hits,
    )
    from tests.conftest import SF_SMOKE

    rows = q_graph_hits(spark, SF_SMOKE).collect()
    auth = [r for r in rows if r["role"] == "authority"]
    hub = [r for r in rows if r["role"] == "hub"]
    assert len(auth) + len(hub) == len(rows)
    assert len(hub) == _HITS_TOP
    assert 0 < len(auth) <= _HITS_TOP
    for block in (auth, hub):
        scores = [r["score_q"] for r in block]
        assert scores == sorted(scores, reverse=True)
        assert all(s > 0 for s in scores)
