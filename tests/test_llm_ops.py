"""Property tests for the LLM-data operators whose driver check is
rows-only (probabilistic recall, engine-specific hashes, UDF paths)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.catalog import table
from end_to_end_aws_data_pipeline_spark.operators.dedup import (
    _simhash_by_agg,
    q_dedup_minhash_lsh,
    q_dedup_ngram_jaccard,
    q_dedup_simhash,
)
from end_to_end_aws_data_pipeline_spark.operators.multimodal import (
    decode_image,
    extract_features,
    to_binary_docs,
)
from end_to_end_aws_data_pipeline_spark.operators.similarity import (
    q_ann_bruteforce_topk,
    q_ann_ivf_topk,
)
from tests.conftest import SF_SMOKE


def test_minhash_lsh_recall_vs_exact(spark):
    exact = {
        (r.doc_a, r.doc_b) for r in q_dedup_ngram_jaccard(spark, SF_SMOKE).collect()
    }
    approx = {
        (r.doc_a, r.doc_b) for r in q_dedup_minhash_lsh(spark, SF_SMOKE).collect()
    }
    assert approx <= exact  # verification step ⇒ perfect precision
    assert len(exact) > 0
    assert len(approx) / len(exact) >= 0.8  # banding recall at J ≥ 0.6


def test_simhash_identical_and_near(spark):
    df = spark.createDataFrame(
        [
            (1, "spark scan merge join window hash batch"),
            (2, "spark scan merge join window hash batch"),  # identical
            (3, "spark scan merge join window hash stream"),  # 1-word change
            (4, "completely different words entirely here now ok"),
        ],
        "doc_id long, text string",
    )
    tokens = df.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    rows = {r.doc_id: r.sh for r in _simhash_by_agg(tokens).collect()}
    assert rows[1] == rows[2]
    mask = (1 << 64) - 1  # fingerprints are signed longs; mask for popcount
    ham_13 = bin((rows[1] ^ rows[3]) & mask).count("1")
    ham_14 = bin((rows[1] ^ rows[4]) & mask).count("1")
    assert ham_13 < ham_14  # near-dup closer than unrelated


def test_simhash_pairs_contain_textual_dups(spark):
    # docs marked with the low-frequency 'dup' token are the corpus's
    # near-duplicate family; simhash banding should surface pairs
    out = q_dedup_simhash(spark, SF_SMOKE)
    assert out.count() > 0
    assert out.filter(F.col("hamming") <= 3).count() == out.count()


def _py_shingles(text: str, k: int = 3) -> set[str]:
    """Python mirror of dedup.shingles(): distinct word k-grams, with a
    single truncated window for docs shorter than k words."""
    w = text.split(" ")
    if len(w) < k:
        return {" ".join(w)}
    return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}


def test_ngram_jaccard_prefix_filter_equals_bruteforce(spark):
    """The PPJoin prefix theorem in practice: the prefix-filtered
    inverted index must produce EXACTLY the brute-force pair set, on a
    corpus built to stress its pruning steps — heavy shared boilerplate
    (prefix filter's target), pairs straddling the J=0.6 threshold,
    pairs at the length-filter boundary, and sub-k-word docs."""
    from end_to_end_aws_data_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    boiler = "terms of service apply to all users of this site"
    docs = []
    # 12 docs sharing a 10-word boilerplate prefix with distinct tails:
    # every boilerplate shingle has df=12, but no pair is a near-dup
    for i in range(12):
        docs.append((i, f"{boiler} page {i} body text row{i} col{i}"))
    # near-threshold family: 20-word base; edits of 1..6 trailing words
    # sweep Jaccard across 0.6 from above and below
    base = " ".join(f"w{j}" for j in range(20))
    docs.append((100, base))
    for d, e in enumerate(range(1, 7)):
        edited = " ".join(
            f"x{j}" if j >= 20 - e else f"w{j}" for j in range(20)
        )
        docs.append((101 + d, edited))
    # length-filter boundary: an 8-word doc vs its 5-word prefix
    # (|b|/|a| straddles tau on shingle counts)
    docs.append((200, "a b c d e f g h"))
    docs.append((201, "a b c d e"))
    # sub-k-word docs: identical pair (J=1) and a distinct singleton
    docs.append((300, "hi there"))
    docs.append((301, "hi there"))
    docs.append((302, "bye"))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    expected = {}
    for i, (ida, ta) in enumerate(docs):
        sa = _py_shingles(ta)
        for idb, tb in docs[i + 1 :]:
            sb = _py_shingles(tb)
            j = len(sa & sb) / len(sa | sb)
            if j >= 0.6:
                lo, hi = min(ida, idb), max(ida, idb)
                expected[(lo, hi)] = round(j, 6)

    # BOTH routing outcomes must equal brute force: direct_sumdf2_max=0
    # forces the PPJoin prefix path, a huge cap forces the direct
    # count-join (the adaptive probe picks between these two at runtime)
    for cap in (0, 1 << 60):
        got = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in ngram_jaccard_pairs(df, direct_sumdf2_max=cap).collect()
        }
        assert got == expected, f"direct_sumdf2_max={cap}"
    assert (300, 301) in expected  # the sub-k identical pair is present
    assert any(a >= 100 and a < 200 for a, _ in expected)  # threshold family


def test_ivf_recall_vs_bruteforce(spark):
    brute = {
        (r.query_id, r.neighbor_id)
        for r in q_ann_bruteforce_topk(spark, SF_SMOKE).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id) for r in q_ann_ivf_topk(spark, SF_SMOKE).collect()
    }
    # nprobe=1 IVF: every returned neighbor must be a true same-bucket
    # vector; recall of the global top-k is partial but non-trivial
    assert len(ivf) > 0
    overlap = len(brute & ivf) / len(ivf)
    assert overlap >= 0.2


def test_ivf_nprobe_improves_recall(spark):
    """Multi-probe must dominate single-probe: per query, the nprobe=3
    candidate pool is a superset of the nprobe=1 pool (probe_rank 1 is
    the same bucket), so top-k recall vs brute force can only go up."""
    from end_to_end_aws_data_pipeline_spark.operators.similarity import (
        _IVF_K,
        q_ann_ivf_nprobe,
    )

    brute_rows = q_ann_bruteforce_topk(spark, SF_SMOKE).collect()
    brute = {
        (r.query_id, r.neighbor_id) for r in brute_rows if r.rank <= _IVF_K
    }
    one = {
        (r.query_id, r.neighbor_id)
        for r in q_ann_ivf_topk(spark, SF_SMOKE).collect()
    }
    multi_rows = q_ann_ivf_nprobe(spark, SF_SMOKE).collect()
    multi = {(r.query_id, r.neighbor_id) for r in multi_rows}
    assert len(multi) > 0
    recall_one = len(brute & one) / len(brute)
    recall_multi = len(brute & multi) / len(brute)
    assert recall_multi >= recall_one
    # some neighbor must come from a probe_rank>1 bucket, or nprobe
    # isn't actually widening the search
    assert any(r.probe_rank > 1 for r in multi_rows)


def test_ivf_trained_recall_on_fixture(spark):
    """Trained centroids must not lose to the untrained first-sqrt(N)
    quantizer on the shipped fixture (measured: 0.40 vs 0.27 at
    sf0.01), and training must be deterministic (two runs, identical
    matrices — the oracle REPLAYS training, so any nondeterminism is a
    driver hash-mismatch)."""
    import numpy as np

    from end_to_end_aws_data_pipeline_spark.operators.similarity import (
        _IVF_K,
        _kmeans_centroids,
        q_ann_ivf_trained,
    )
    from end_to_end_aws_data_pipeline_spark.operators.veccorpus import (
        n_centroids_for,
        quantized_vectors,
    )

    brute = {
        (r.query_id, r.neighbor_id)
        for r in q_ann_bruteforce_topk(spark, SF_SMOKE).collect()
        if r.rank <= _IVF_K
    }
    untrained = {
        (r.query_id, r.neighbor_id)
        for r in q_ann_ivf_topk(spark, SF_SMOKE).collect()
    }
    trained = {
        (r.query_id, r.neighbor_id)
        for r in q_ann_ivf_trained(spark, SF_SMOKE).collect()
    }
    assert len(trained) > 0
    assert len(brute & trained) >= len(brute & untrained)

    v = quantized_vectors(spark, SF_SMOKE)
    n_cent = n_centroids_for(v.count())
    ids1, m1 = _kmeans_centroids(v, n_cent)
    ids2, m2 = _kmeans_centroids(v, n_cent)
    assert np.array_equal(ids1, ids2) and np.array_equal(m1, m2)


def test_kmeans_moves_centroids_to_clusters(spark):
    """On a genuinely CLUSTERED corpus with adversarial seeds (all
    first-sqrt(N) seed vectors inside ONE cluster), Lloyd rounds must
    spread the centroids out: after training, vectors from >half the
    true clusters own distinct nearest centroids, while the untrained
    quantizer collapses (almost) everything into the seed cluster's
    cells — the exact failure mode the r3 verdict flagged for
    first-N-ids seeding at scale."""
    import numpy as np

    from end_to_end_aws_data_pipeline_spark.operators.similarity import (
        _kmeans_centroids,
    )

    rng = np.random.RandomState(7)
    n_clusters, per, dim = 8, 40, 16
    centers = rng.randn(n_clusters, dim)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    # vec_ids ordered so the first sqrt(320)=18 ids ALL fall in cluster 0
    for c in range(n_clusters):
        for _ in range(per):
            x = centers[c] + 0.05 * rng.randn(dim)
            x /= np.linalg.norm(x)
            rows.append((vid, [int(round(t * 1e8)) for t in x], c))
            vid += 1
    v = spark.createDataFrame(
        [(i, q) for i, q, _ in rows], "vec_id long, q array<long>"
    )
    truth = {i: c for i, q, c in rows}
    n_cent = 18
    ids, trained_mat = _kmeans_centroids(v, n_cent)
    seed_mat = np.array([q for i, q, _ in rows[:n_cent]], dtype=np.int64)
    all_mat = np.array([q for _, q, _ in rows], dtype=np.int64)

    def clusters_resolved(cent_mat):
        best = (all_mat @ cent_mat.T).argmax(axis=1)
        # a true cluster is "resolved" if some centroid's majority
        # constituency is that cluster
        owner: dict[int, dict[int, int]] = {}
        for i, b in enumerate(best):
            owner.setdefault(int(b), {}).setdefault(truth[i], 0)
            owner[int(b)][truth[i]] += 1
        return len({max(d, key=d.get) for d in owner.values()})

    res_seed = clusters_resolved(seed_mat)
    res_trained = clusters_resolved(trained_mat)
    assert res_trained > res_seed
    assert res_trained >= n_clusters // 2 + 1


def test_lsh_projection_recall_vs_exact(spark):
    from end_to_end_aws_data_pipeline_spark.operators.dedup import (
        q_dedup_embedding_cosine,
    )
    from end_to_end_aws_data_pipeline_spark.operators.similarity import (
        q_ann_lsh_projection,
    )

    exact = {
        (r.vec_a, r.vec_b)
        for r in q_dedup_embedding_cosine(spark, SF_SMOKE).collect()
    }
    lsh = {
        (r.vec_a, r.vec_b) for r in q_ann_lsh_projection(spark, SF_SMOKE).collect()
    }
    assert exact  # ground truth nonempty at τ=0.35
    # approxSimilarityJoin may overshoot slightly below τ (distance
    # grid), but must recover most true pairs
    assert len(exact & lsh) / len(exact) >= 0.9


def test_connected_components_chain_and_islands(spark):
    from end_to_end_aws_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    # chain 1-2-3-4 (diameter > 1 forces multiple propagation rounds),
    # a 2-cycle {7,8}, and a self-contained pair {10,11}
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (7, 8), (8, 7), (10, 11)],
        "src long, dst long",
    )
    got = {(r.node, r.label) for r in connected_components(edges).collect()}
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (7, 7), (8, 7),
        (10, 10), (11, 10),
    }


def test_blocked_cosine_block_rows_bounded():
    # per-block rows stay ≤ _TARGET_BLOCK_ROWS for ANY corpus size —
    # a block is one Arrow row, so this bound IS the memory bound
    import math

    from end_to_end_aws_data_pipeline_spark.operators.dedup import (
        _MIN_BLOCKS,
        _TARGET_BLOCK_ROWS,
        n_blocks_for,
    )

    for n in (1, 10, 500, 4096, 4097, 10**6, 10**9):
        b = n_blocks_for(n)
        assert b >= _MIN_BLOCKS
        assert math.ceil(n / b) <= _TARGET_BLOCK_ROWS


def test_exact_cosine_guard_refuses_large_input(spark, monkeypatch):
    import end_to_end_aws_data_pipeline_spark.operators.dedup as dd

    monkeypatch.setattr(dd, "_EXACT_PAIRS_MAX_ROWS", 10)
    with pytest.raises(ValueError, match="q_dedup_cosine_blocked"):
        dd.q_dedup_embedding_cosine(spark, SF_SMOKE)


def test_ivf_centroids_scale_as_sqrt():
    from end_to_end_aws_data_pipeline_spark.operators.veccorpus import (
        n_centroids_for,
    )

    assert n_centroids_for(500) == 23
    assert n_centroids_for(2000) == 45
    assert n_centroids_for(10**8) == 10_000


def test_multimodal_decode_unowned_formats_stubbed():
    # PNG and JPEG are real decoders now; codecs we don't own (WebP)
    # still raise the documented NotImplementedError
    with pytest.raises(NotImplementedError):
        decode_image(b"RIFF\x00\x00\x00\x00WEBPVP8 ")


def test_bmp_roundtrip_all_paddings():
    # widths 4..7 hit every BMP row-padding case (stride % 4)
    import numpy as np

    from end_to_end_aws_data_pipeline_spark.operators.multimodal import encode_bmp

    rng = np.random.default_rng(7)
    for w in (4, 5, 6, 7, 33):
        pix = rng.integers(0, 256, size=(9, w, 3), dtype=np.uint8)
        out = decode_image(encode_bmp(pix))
        assert out.shape == (9, w, 3)
        assert (out == pix).all()


def test_ppm_roundtrip_and_comments():
    import numpy as np

    from end_to_end_aws_data_pipeline_spark.operators.multimodal import encode_ppm

    rng = np.random.default_rng(11)
    pix = rng.integers(0, 256, size=(5, 8, 3), dtype=np.uint8)
    assert (decode_image(encode_ppm(pix)) == pix).all()
    # header comments are legal PPM — the parser must skip them
    commented = b"P6\n# a comment\n8 5\n255\n" + pix.tobytes()
    assert (decode_image(commented) == pix).all()


def test_multimodal_feature_schema_and_partitions(spark):
    docs = table(spark, SF_SMOKE, "documents").repartition(4)
    feats = extract_features(to_binary_docs(docs))
    assert feats.rdd.getNumPartitions() == 4  # mapInPandas preserves partitioning
    row = feats.first()
    assert row.n_bytes > 0 and 16 <= row.fake_width < 80


def test_png_roundtrip_all_filters():
    """PNG codec: encode with each scanline filter 0-4, decode, and
    compare to the source array bit-for-bit (spec §9 unfilter paths)."""
    import numpy as np

    from end_to_end_aws_data_pipeline_spark.operators.multimodal import (
        decode_image,
        encode_png,
    )

    rng = np.random.default_rng(7)
    pix = rng.integers(0, 256, size=(13, 17, 3), dtype=np.uint8)
    for ft in range(5):
        got = decode_image(encode_png(pix, filter_type=ft))
        assert got.shape == (13, 17, 3)
        assert (got == pix).all(), f"filter {ft} mismatch"


def test_png_color_types():
    """Gray (0), palette (3) and RGBA (6) decode to (h, w, 3)."""
    import struct
    import zlib

    import numpy as np

    from end_to_end_aws_data_pipeline_spark.operators.multimodal import (
        decode_image,
    )

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    def png(w, h, ctype, raster, extra=b""):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + extra
            + chunk(b"IDAT", zlib.compress(raster))
            + chunk(b"IEND", b"")
        )

    # grayscale 2x2: values 0,10,20,30 (filter 0 rows)
    gray = png(2, 2, 0, b"\x00\x00\x0a\x00\x14\x1e")
    g = decode_image(gray)
    assert g.shape == (2, 2, 3) and (g[:, :, 0] == g[:, :, 2]).all()
    assert g[0, 1, 0] == 10 and g[1, 1, 1] == 30

    # palette 2x1: indices 1,0 into a 2-entry palette
    plte = chunk(b"PLTE", bytes([255, 0, 0, 0, 255, 0]))
    p = decode_image(png(2, 1, 3, b"\x00\x01\x00", extra=plte))
    assert p.shape == (1, 2, 3)
    assert list(p[0, 0]) == [0, 255, 0] and list(p[0, 1]) == [255, 0, 0]

    # RGBA 1x1: alpha dropped
    rgba = png(1, 1, 6, b"\x00\x07\x08\x09\x80")
    r = decode_image(rgba)
    assert r.shape == (1, 1, 3) and list(r[0, 0]) == [7, 8, 9]


def test_png_unsupported_raises():
    import struct
    import zlib

    import pytest

    from end_to_end_aws_data_pipeline_spark.operators.multimodal import (
        decode_image,
    )

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    # 16-bit depth refused
    ihdr16 = struct.pack(">IIBBBBB", 1, 1, 16, 2, 0, 0, 0)
    bad = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr16)
    with pytest.raises(NotImplementedError, match="8-bit"):
        decode_image(bad)
    # a codec we don't own (WebP) still refused with a pointer to a lib
    with pytest.raises(NotImplementedError, match="pillow"):
        decode_image(b"RIFF\x00\x00\x00\x00WEBPVP8 ")


def _encode_png_adam7(pix, filter_type: int = 0) -> bytes:
    """Test-side Adam7 encoder: split the raster on the pass grid
    (spec §8.2), filter every pass scanline with ``filter_type`` using
    the ENCODER's forward filters, concatenate, compress."""
    import struct
    import zlib

    import numpy as np

    from end_to_end_aws_data_pipeline_spark.operators.multimodal import _ADAM7

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    h, w, ch = pix.shape
    raw = bytearray()
    for x0, y0, dx, dy in _ADAM7:
        sub = pix[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        ph, pw = sub.shape[:2]
        flat = sub.reshape(ph, pw * ch).astype(np.int16)
        prev = np.zeros(pw * ch, dtype=np.int16)
        for y in range(ph):
            line = flat[y]
            left = np.concatenate([np.zeros(ch, np.int16), line[:-ch]])
            if filter_type == 0:
                filt = line
            elif filter_type == 1:
                filt = (line - left) % 256
            elif filter_type == 2:
                filt = (line - prev) % 256
            else:
                raise ValueError("test encoder: filters 0-2 only")
            raw += bytes([filter_type]) + bytes(
                filt.astype(np.uint8).tobytes()
            )
            prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)  # interlace=1
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + chunk(b"IEND", b"")
    )


def test_png_adam7_roundtrip():
    """Adam7-interlaced PNGs decode bit-exactly: every pass is an
    independently-filtered sub-image scattered on the pass grid.
    Dimension sweep covers empty passes (w or h < pass origin), 1-pixel
    images (only pass 1 non-empty), and non-multiples of 8; filters 0-2
    exercise the per-pass filter state isolation (pass boundaries must
    reset the prev-scanline, or Up/Sub bleed across passes)."""
    import numpy as np

    from end_to_end_aws_data_pipeline_spark.operators.multimodal import (
        decode_image,
    )

    rng = np.random.default_rng(11)
    for (h, w) in [(1, 1), (3, 5), (8, 8), (13, 17), (2, 9), (16, 4)]:
        pix = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        for ft in (0, 1, 2):
            got = decode_image(_encode_png_adam7(pix, filter_type=ft))
            assert got.shape == (h, w, 3), (h, w, ft)
            assert (got == pix).all(), f"adam7 {h}x{w} filter {ft}"


def test_jpeg_block_constant_exact():
    """Baseline JPEG with the flat-8 quant table round-trips
    block-constant images BIT-EXACTLY (the oracle contract: DCT of a
    constant block is one DC coefficient divisible by the quant step)."""
    import numpy as np

    from end_to_end_aws_data_pipeline_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    for doc_id in (0, 3, 17, 42, 255, 1023):
        bw, bh = 1 + doc_id % 4, 1 + (doc_id // 5) % 3
        bc, br = np.meshgrid(np.arange(bw), np.arange(bh))
        vals = ((br + bc + doc_id) % 256).astype(np.uint8)
        img = np.kron(vals, np.ones((8, 8), dtype=np.uint8))
        got = decode_jpeg(encode_jpeg(img))
        assert np.array_equal(got, np.repeat(img[:, :, None], 3, axis=2))


def test_jpeg_lossy_tolerance_and_color():
    """Arbitrary images: decode error bounded by the quantization step
    (flat 8 → per-coefficient error ≤ 4, well under 16/channel after
    the IDCT; color adds YCbCr rounding)."""
    import numpy as np

    from end_to_end_aws_data_pipeline_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(11)
    gray = rng.integers(0, 256, (24, 32), dtype=np.uint8)
    got = decode_jpeg(encode_jpeg(gray))
    assert got.shape == (24, 32, 3)
    assert np.abs(got[:, :, 0].astype(int) - gray.astype(int)).max() <= 16
    rgb = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    got = decode_jpeg(encode_jpeg(rgb))
    assert np.abs(got.astype(int) - rgb.astype(int)).max() <= 24


def test_jpeg_dispatch_and_unsupported_features():
    """decode_image routes FFD8 payloads to the JPEG decoder; the
    documented boundaries (arithmetic coding, lossless) raise
    NotImplementedError naming the feature."""
    import struct

    import numpy as np
    import pytest

    from end_to_end_aws_data_pipeline_spark.operators.jpeg import encode_jpeg
    from end_to_end_aws_data_pipeline_spark.operators.multimodal import (
        decode_image,
    )

    img = np.full((8, 8), 77, dtype=np.uint8)
    assert decode_image(encode_jpeg(img))[0, 0, 0] == 77

    # SOF9 = arithmetic-coded sequential: out of scope, named error
    sof9_body = bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0])
    sof9 = b"\xff\xc9" + struct.pack(">H", len(sof9_body) + 2) + sof9_body
    with pytest.raises(NotImplementedError, match="arithmetic"):
        decode_image(b"\xff\xd8" + sof9 + b"\xff\xd9")


def test_jpeg_subsampled_roundtrip():
    """4:2:0 encode → decode: luma survives within quantization error;
    chroma within box-average + replication error on a smooth ramp."""
    import numpy as np

    from end_to_end_aws_data_pipeline_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    yy, xx = np.mgrid[0:32, 0:48]
    img = np.stack(
        [(xx * 3) % 256, (yy * 5) % 256, ((xx + yy) * 2) % 256], axis=2
    ).astype(np.uint8)
    got = decode_jpeg(encode_jpeg(img, subsample=True))
    assert got.shape == img.shape
    assert np.abs(got.astype(int) - img.astype(int)).max() <= 12


def test_jpeg_decodes_reference_progressive_screenshots():
    """The reference repo ships real-world progressive 4:2:0 JPEGs
    (console screenshots). Decode must produce full-resolution output
    with sane image statistics — this exercises spectral selection,
    successive approximation, EOB runs and subsampled MCU geometry on
    files we did not author."""
    import glob
    import os

    import numpy as np
    import pytest

    from end_to_end_aws_data_pipeline_spark.operators.jpeg import decode_jpeg

    files = sorted(glob.glob("/root/reference/*.jpeg"))
    if not files:
        pytest.skip("reference JPEG assets not present")
    data = open(files[0], "rb").read()
    img = decode_jpeg(data)
    h, w, c = img.shape
    assert c == 3 and h >= 64 and w >= 64
    # a real screenshot is neither constant nor noise-uniform
    assert float(img.std()) > 5.0
    assert 0 < float(img.mean()) < 255


def test_wav_roundtrip_and_boundaries():
    """PCM16 WAV: mono and stereo round-trip bit-exactly through real
    RIFF bytes (chunk walk, word alignment); compressed formats raise."""
    import struct

    import numpy as np
    import pytest

    from end_to_end_aws_data_pipeline_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    rng = np.random.default_rng(3)
    mono = rng.integers(-32768, 32768, 1001, dtype=np.int16)
    rate, ch, frames = decode_wav(encode_wav(mono, 8000))
    assert (rate, ch) == (8000, 1)
    assert np.array_equal(frames[:, 0], mono)
    stereo = rng.integers(-32768, 32768, (500, 2), dtype=np.int16)
    rate, ch, frames = decode_wav(encode_wav(stereo, 44100))
    assert (rate, ch) == (44100, 2)
    assert np.array_equal(frames, stereo)
    # unknown chunks before data are skipped (LIST), odd sizes padded
    payload = bytearray(encode_wav(mono[:10], 8000))
    extra = b"LIST" + struct.pack("<I", 3) + b"abc\x00"  # odd size + pad
    payload[12:12] = extra
    payload[4:8] = struct.pack("<I", len(payload) - 8 + len(extra))
    _, _, frames = decode_wav(bytes(payload))
    assert np.array_equal(frames[:, 0], mono[:10])
    # non-PCM (mu-law format code 7) refused by name
    bad = bytearray(encode_wav(mono[:10], 8000))
    bad[20:22] = struct.pack("<H", 7)
    with pytest.raises(NotImplementedError, match="PCM16"):
        decode_wav(bytes(bad))


def test_ppm_16bit_and_scaled_maxval():
    """PPM P6 with maxval > 255 decodes big-endian 2-byte samples and
    scales to 8-bit round-half-up against the DECLARED maxval; sub-8-bit
    maxval scales up the same way (netpbm pnmdepth semantics)."""
    import numpy as np

    from end_to_end_aws_data_pipeline_spark.operators.multimodal import (
        decode_image,
    )

    samples = np.array([0, 65535, 32768, 257, 514, 65278], dtype=">u2")
    img = decode_image(b"P6\n2 1\n65535\n" + samples.tobytes())
    assert img.shape == (1, 2, 3)
    assert img.ravel().tolist() == [0, 255, 128, 1, 2, 254]

    # maxval 1023 (10-bit): 1023 -> 255, 512 -> round(512*255/1023)=128
    s = np.array([0, 512, 1023], dtype=">u2")
    img = decode_image(b"P6\n1 1\n1023\n" + s.tobytes())
    assert img.ravel().tolist() == [0, 128, 255]

    img = decode_image(b"P6\n1 1\n15\n" + bytes([0, 7, 15]))
    assert img.ravel().tolist() == [0, 119, 255]


def test_pq_topk_recall_and_training_determinism(spark):
    """PQ-ADC top-k: (a) non-trivial recall vs exact brute force —
    4-bit codes on the near-uniform synthetic corpus land ~0.35, pin a
    conservative floor; (b) codebook training is bit-deterministic
    (the oracle REPLAYS training, so any nondeterminism would be a
    driver hash-mismatch); (c) exactly top-k rows per query with ranks
    1..k."""
    import numpy as np

    from end_to_end_aws_data_pipeline_spark.cache import persisted
    from end_to_end_aws_data_pipeline_spark.catalog import spread
    from end_to_end_aws_data_pipeline_spark.operators.pq import (
        _pq_codebooks,
        q_ann_pq_topk,
    )
    from end_to_end_aws_data_pipeline_spark.operators.veccorpus import (
        TOP_K,
        quantized_vectors,
    )

    brute = {
        (r.query_id, r.neighbor_id)
        for r in q_ann_bruteforce_topk(spark, SF_SMOKE).collect()
    }
    rows = q_ann_pq_topk(spark, SF_SMOKE).collect()
    pq = {(r.query_id, r.neighbor_id) for r in rows}
    assert len(pq) > 0
    assert len(brute & pq) / len(pq) >= 0.2

    per_query: dict[int, list[int]] = {}
    for r in rows:
        per_query.setdefault(r.query_id, []).append(r.rank)
    for ranks in per_query.values():
        assert sorted(ranks) == list(range(1, TOP_K + 1))

    v = persisted(spread(quantized_vectors(spark, SF_SMOKE)))
    b1 = _pq_codebooks(v)
    b2 = _pq_codebooks(v)
    assert all(np.array_equal(x, y) for x, y in zip(b1, b2))


def test_ivfpq_agrees_with_exact_bucket_scoring(spark):
    """IVF-PQ probes the SAME deterministic bucket as q_ann_ivf_topk
    but scores via 4-bit residual codes — at matched k the overlap with
    the exactly-scored bucket top-k isolates pure PQ quantization loss
    (measured 0.4 at sf0.001). Ranks must be contiguous from 1 per
    query, and training/encoding determinism is covered by the driver
    oracle replay."""
    from end_to_end_aws_data_pipeline_spark.operators.pq import q_ann_ivfpq_topk
    from end_to_end_aws_data_pipeline_spark.operators.similarity import (
        _IVF_K,
        q_ann_ivf_topk,
    )

    ivf = {
        (r.query_id, r.neighbor_id)
        for r in q_ann_ivf_topk(spark, SF_SMOKE).collect()
    }
    rows = q_ann_ivfpq_topk(spark, SF_SMOKE).collect()
    at_k = {(r.query_id, r.neighbor_id) for r in rows if r.rank <= _IVF_K}
    assert len(at_k) > 0
    assert len(ivf & at_k) / len(at_k) >= 0.2

    per_query: dict[int, list[int]] = {}
    for r in rows:
        per_query.setdefault(r.query_id, []).append(r.rank)
    for ranks in per_query.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_resize_nearest_identity_and_gather():
    """resize_nearest: identity at equal dims; exact index-gather
    semantics (output (i,j) = src (i*h//H, j*w//W)) on a known ramp;
    upsample repeats pixels."""
    import numpy as np

    from end_to_end_aws_data_pipeline_spark.operators.multimodal import (
        resize_nearest,
    )

    img = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
    assert np.array_equal(resize_nearest(img, 6, 4), img)
    down = resize_nearest(img, 3, 2)
    assert down.shape == (2, 3, 3)
    for i in range(2):
        for j in range(3):
            assert np.array_equal(down[i, j], img[(i * 4) // 2, (j * 6) // 3])
    up = resize_nearest(img, 12, 8)
    assert up.shape == (8, 12, 3)
    assert np.array_equal(up[0, 0], img[0, 0]) and np.array_equal(up[1, 1], img[0, 0])


def test_repeated_ngrams_pairs(spark):
    """Repeated-passage pairs: every whole-document near-dup (3-gram
    Jaccard >= 0.6) also shares many exact 8-word windows on this
    corpus (identical pair sets at the smoke SF), and every emitted
    pair respects the >= 3 shared-window threshold."""
    from end_to_end_aws_data_pipeline_spark.operators.dedup import (
        _REP_MIN,
        q_dedup_repeated_ngrams,
    )

    jac = {
        (r.doc_a, r.doc_b) for r in q_dedup_ngram_jaccard(spark, SF_SMOKE).collect()
    }
    rows = q_dedup_repeated_ngrams(spark, SF_SMOKE).collect()
    rep = {(r.doc_a, r.doc_b) for r in rows}
    assert len(rep) > 0
    assert all(r.n_shared >= _REP_MIN for r in rows)
    assert jac <= rep  # near-dup docs necessarily share exact passages


def test_rhp_lsh_subset_and_recall(spark):
    """RHP-LSH output is a verified subset of the exact cosine pairs
    (perfect precision by construction), with the deterministic
    md5-plane recall pinned for this fixture's 0.35-0.55 cosine range
    (RHP is a high-similarity sieve; see q_ann_rhp_lsh docstring)."""
    from end_to_end_aws_data_pipeline_spark.operators.dedup import (
        q_dedup_embedding_cosine,
    )
    from end_to_end_aws_data_pipeline_spark.operators.similarity import (
        q_ann_rhp_lsh,
    )

    rhp = q_ann_rhp_lsh(spark, SF_SMOKE).toPandas()
    exact = q_dedup_embedding_cosine(spark, SF_SMOKE).toPandas()
    rp = set(zip(rhp.vec_a, rhp.vec_b))
    ep = set(zip(exact.vec_a, exact.vec_b))
    assert rp <= ep  # exact-dot verification ⇒ no false positives
    assert rhp.cosine.min() >= 0.35
    assert len(rp) / len(ep) >= 0.15  # measured 0.183, deterministic


def test_rhp_planes_deterministic_and_duplicate_collision():
    """Hyperplanes derive from md5 constants (no RNG), so identical
    vectors always produce identical signatures — cosine-1 duplicates
    collide in EVERY band at any corpus size."""
    import numpy as np

    from end_to_end_aws_data_pipeline_spark.operators.similarity import (
        _rhp_planes,
    )

    p1, p2 = _rhp_planes(64), _rhp_planes(64)
    assert np.array_equal(p1, p2)
    assert set(np.unique(p1)) == {-1, 1}
    v = np.arange(64, dtype=np.int64) - 7
    assert np.array_equal(p1 @ v, p2 @ v)


def test_jpeg_16bit_quant_table_decodes():
    """A DQT with Pq=1 (16-bit entries) decodes identically to the
    same table in 8-bit form — exercised by rewriting a real encoded
    stream's DQT segment into the wide format."""
    import struct

    import numpy as np

    from end_to_end_aws_data_pipeline_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(7)
    img = np.repeat(
        np.repeat(rng.integers(0, 256, (2, 3), dtype=np.uint8), 8, 0), 8, 1
    )
    img = np.stack([img] * 3, axis=2)
    data = encode_jpeg(img)
    i = data.find(b"\xff\xdb")
    assert i >= 0
    (seglen,) = struct.unpack_from(">H", data, i + 2)
    body = data[i + 4 : i + 2 + seglen]
    pq_tq, entries = body[0], body[1:65]
    assert pq_tq >> 4 == 0
    wide = bytes([0x10 | (pq_tq & 0x0F)]) + struct.pack(
        ">64H", *entries
    ) + body[65:]
    rebuilt = (
        data[:i]
        + b"\xff\xdb"
        + struct.pack(">H", len(wide) + 2)
        + wide
        + data[i + 2 + seglen :]
    )
    assert np.array_equal(decode_jpeg(rebuilt), decode_jpeg(data))


def test_gif_lzw_roundtrip_and_edges():
    """GIF LZW: random data (forces width growth to 12 bits AND the
    4096-entry dictionary reset), runs (KwKwK self-reference case),
    empty input, and truncation detection."""
    import numpy as np

    from end_to_end_aws_data_pipeline_spark.operators.gif import (
        lzw_decode,
        lzw_encode,
    )

    rng = np.random.default_rng(3)
    big = bytes(rng.integers(0, 256, 30000, dtype=np.uint8))
    for data in (b"", b"\x00" * 5000, b"ababababab" * 50, big):
        assert lzw_decode(lzw_encode(data)) == data
    # KwKwK: 'aaa...' makes the decoder hit code == len(table)
    assert lzw_decode(lzw_encode(b"aaaaaaa")) == b"aaaaaaa"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="truncated"):
        lzw_decode(lzw_encode(big)[: 40])


def test_gif_container_interlace_and_refusals():
    import numpy as np
    import pytest as _pytest

    from end_to_end_aws_data_pipeline_spark.operators.gif import (
        decode_gif,
        encode_gif,
    )

    pal = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)
    yy, xx = np.mgrid[0:23, 0:32]
    idx = ((xx + 2 * yy + 5) % 256).astype(np.uint8)
    for inter in (False, True):
        rgb = decode_gif(encode_gif(idx, pal, interlace=inter))
        assert rgb.shape == (23, 32, 3)
        assert (rgb[:, :, 1] == idx).all()
    # named refusal for unsupported block types
    plain = bytearray(encode_gif(idx, pal))
    plain[13 + 768] = 0x99  # overwrite image-descriptor introducer
    with _pytest.raises((NotImplementedError, ValueError)):
        decode_gif(bytes(plain))
    with _pytest.raises(ValueError, match="magic"):
        decode_gif(b"NOTGIF" + bytes(plain[6:]))


def test_line_weighting_fixture_is_nonvacuous(spark):
    """The planted-boilerplate fixture must make weights provably
    non-trivial: every planted doc (doc_id%3 or %4) scores < 1.0 by at
    least its footer mass, and docs carrying BOTH footers score at or
    below the single-footer ceiling for their size."""
    from pyspark.sql import functions as F

    from end_to_end_aws_data_pipeline_spark.operators.dedup import (
        q_dedup_line_weighting,
    )
    from tests.conftest import SF_SMOKE

    out = q_dedup_line_weighting(spark, SF_SMOKE).cache()
    planted = (F.col("doc_id") % 3 == 0) | (F.col("doc_id") % 4 == 0)
    n_planted = out.filter(planted).count()
    assert n_planted > 0
    assert out.filter(planted & (F.col("weight_fp") >= 1_000_000)).count() == 0
    # weight == kept/total exactly, in truncating fixed point
    bad = out.filter(
        F.col("weight_fp")
        != F.expr("kept_toks * 1000000L div total_toks")
    ).count()
    assert bad == 0
    # both-footer docs carry >= 14 boilerplate tokens
    both = out.filter(F.col("doc_id") % 12 == 0)
    assert both.filter(
        F.col("total_toks") - F.col("kept_toks") < 14
    ).count() == 0


def test_ivf_twolevel_recall_and_bucket_consistency(spark):
    """Two-level routing over the SAME fine codebook as q_ann_ivf_topk:
    (a) non-empty results, every neighbor from the query's own probed
    bucket (schema carries the bucket, K-cap via rank); (b) recall vs
    brute force within 0.05 of the single-level quantizer's — the
    router cuts assignment flops √N → ~2·N^(1/4) without giving up
    recall (at sf0.01 it measures ABOVE single-level: 0.20 vs 0.16)."""
    from end_to_end_aws_data_pipeline_spark.operators.similarity import (
        _IVF_K,
        q_ann_ivf_twolevel,
    )

    brute = {
        (r.query_id, r.neighbor_id)
        for r in q_ann_bruteforce_topk(spark, SF_SMOKE).collect()
    }
    one = {
        (r.query_id, r.neighbor_id)
        for r in q_ann_ivf_topk(spark, SF_SMOKE).collect()
    }
    two_rows = q_ann_ivf_twolevel(spark, SF_SMOKE).collect()
    two = {(r.query_id, r.neighbor_id) for r in two_rows}
    assert len(two) > 0
    assert all(1 <= r.rank <= _IVF_K for r in two_rows)
    # one probed bucket per query (nprobe=1 semantics)
    buckets = {}
    for r in two_rows:
        buckets.setdefault(r.query_id, set()).add(r.probed_centroid)
    assert all(len(b) == 1 for b in buckets.values())
    recall_one = len(brute & one) / len(brute)
    recall_two = len(brute & two) / len(brute)
    assert recall_two >= 0.1
    assert recall_two >= recall_one - 0.05
