"""Multimodal (image/audio/video) column handling: opaque ``binary``
payloads + typed metadata structs, with decode / feature-extraction /
frame-sampling as Arrow-batched operators.

Decode is REAL for the formats a dependency-free engine can own:
24-bit BMP (BITMAPINFOHEADER, padded bottom-up rows), binary PPM (P6),
PNG (stdlib zlib inflate + all five scanline unfilters), sequential
AND progressive JFIF JPEG with chroma subsampling (operators/jpeg.py),
and PCM16 RIFF/WAVE audio — no codec library involved. The remaining
boundaries (WebP, arithmetic-coded JPEG, compressed audio, ...) raise
``NotImplementedError`` naming the feature; the rest of the pipeline —
binary schema convention, partition-count preservation, the batch
iterator signature, deterministic feature extraction — is independent
of the codec and oracle-checked.

The synthetic-codec queries each run one ``per_doc`` pass: a
``mapInArrow`` over the spread doc_ids in which a per-document
``rows_of`` encodes that document's synthetic input (``gradient``,
``_decoded_image``, ``_decoded_wav``, ``_decoded_gif``), decodes it and
yields its result rows. Only ``extract_features``, which reads payload
columns, maps pandas batches.

Scale notes: binary payloads ride in parquet as byte arrays; metadata
lives in a sibling struct so filters on media_type/size prune row
groups WITHOUT touching payload bytes (column pruning keeps the scan
narrow). Both map operators process Arrow batches — payload bytes cross
to Python once per batch, not per row.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

from end_to_end_aws_data_pipeline_spark.catalog import arrow_batch, spread, table
from end_to_end_aws_data_pipeline_spark.registry import register

_FEATURE_SCHEMA = (
    "doc_id long, media_type string, n_bytes long, first_byte int, "
    "fake_width long, fake_height long, checksum8 long"
)


def to_binary_docs(documents: DataFrame) -> DataFrame:
    """documents(text) → multimodal convention: utf-8 payload bytes +
    metadata struct (the BinaryType + struct pattern of SURVEY.md §2.B
    "multimodal columns")."""
    payload = F.encode(F.col("text"), "utf-8")
    return documents.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("image/fake").alias("media_type"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


def encode_bmp(pixels) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a 24-bit uncompressed BMP
    (BITMAPINFOHEADER, BGR byte order, rows bottom-up, 4-byte padded)."""
    import struct

    import numpy as np

    pix = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = pix.shape
    stride = (w * 3 + 3) // 4 * 4
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = pix[y, :, ::-1].tobytes()  # RGB → BGR
        body += row + b"\x00" * (stride - len(row))
    file_size = 14 + 40 + len(body)
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return bytes(header + body)


def encode_ppm(pixels) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as binary PPM (P6)."""
    import numpy as np

    pix = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = pix.shape
    return f"P6\n{w} {h}\n255\n".encode("ascii") + pix.tobytes()


def encode_png(pixels, filter_type: int = 0) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as an 8-bit truecolor PNG
    (zlib-compressed IDAT; ``filter_type`` applies one scanline filter
    0-4 to every row — useful for exercising every unfilter path)."""
    import struct
    import zlib

    import numpy as np

    pix = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = pix.shape
    bpp = 3

    def _chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    raw = bytearray()
    prev = np.zeros(w * bpp, dtype=np.uint8)
    for y in range(h):
        line = pix[y].reshape(-1)
        if filter_type == 0:
            filt = line
        else:
            left = np.concatenate([np.zeros(bpp, np.uint8), line[:-bpp]])
            upleft = np.concatenate([np.zeros(bpp, np.uint8), prev[:-bpp]])
            if filter_type == 1:  # Sub
                filt = (line.astype(np.int16) - left) % 256
            elif filter_type == 2:  # Up
                filt = (line.astype(np.int16) - prev) % 256
            elif filter_type == 3:  # Average
                filt = (
                    line.astype(np.int16)
                    - (left.astype(np.int16) + prev.astype(np.int16)) // 2
                ) % 256
            elif filter_type == 4:  # Paeth
                a = left.astype(np.int16)
                b = prev.astype(np.int16)
                c = upleft.astype(np.int16)
                p = a + b - c
                pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)
                )
                filt = (line.astype(np.int16) - pred) % 256
            else:
                raise ValueError(f"bad filter {filter_type}")
            filt = filt.astype(np.uint8)
        raw += bytes([filter_type]) + filt.astype(np.uint8).tobytes()
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _chunk(b"IEND", b"")
    )


# Adam7 pass grid (PNG spec §8.2): (x0, y0, dx, dy) per pass
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _defilter(raw: bytes, offset: int, pw: int, ph: int, ch: int):
    """Reverse PNG scanline filtering for one (sub-)image of ``ph``
    scanlines of ``pw`` pixels × ``ch`` bytes each, starting at
    ``offset`` in the decompressed stream. Returns (array (ph, pw·ch),
    bytes consumed). All five filters per PNG spec §9."""
    import numpy as np

    stride = pw * ch
    need = ph * (stride + 1)
    if len(raw) - offset < need:
        raise ValueError("PNG raster size mismatch")
    out = np.zeros((ph, stride), dtype=np.uint8)
    prev_np = np.zeros(stride, dtype=np.uint8)
    prev_b = bytes(stride)
    for y in range(ph):
        base = offset + y * (stride + 1)
        ft = raw[base]
        line = np.frombuffer(raw, np.uint8, count=stride, offset=base + 1)
        if ft == 0:
            cur_np = line
        elif ft == 2:  # Up: uint8 addition wraps mod 256 by itself
            cur_np = line + prev_np
        elif ft == 1:  # Sub: per-channel-lane prefix sum, exact mod 256
            lanes = line.reshape(-1, ch).astype(np.int64)
            cur_np = (
                (np.cumsum(lanes, axis=0) % 256).astype(np.uint8).reshape(-1)
            )
        elif ft in (3, 4):
            # sequential pixel dependency (floor-avg / Paeth can't be
            # re-associated); bytearray int indexing is ~10x numpy
            # scalar indexing in this loop
            cur = bytearray(line.tobytes())
            if ft == 3:
                for i in range(stride):
                    a = cur[i - ch] if i >= ch else 0
                    cur[i] = (cur[i] + ((a + prev_b[i]) >> 1)) & 0xFF
            else:
                for i in range(stride):
                    a = cur[i - ch] if i >= ch else 0
                    c = prev_b[i - ch] if i >= ch else 0
                    b = prev_b[i]
                    pa = b - c if b >= c else c - b
                    pb = a - c if a >= c else c - a
                    pc_ = a + b - 2 * c
                    pc_ = -pc_ if pc_ < 0 else pc_
                    pred = (
                        a
                        if (pa <= pb and pa <= pc_)
                        else (b if pb <= pc_ else c)
                    )
                    cur[i] = (cur[i] + pred) & 0xFF
            cur_np = np.frombuffer(bytes(cur), np.uint8)
        else:
            raise ValueError(f"bad PNG filter {ft}")
        out[y] = cur_np
        prev_np = cur_np
        prev_b = cur_np.tobytes()
    return out, need


def _decode_png(payload: bytes):
    """Pure-python PNG decode via stdlib zlib: 8-bit depth, color types
    0 (gray), 2 (RGB), 3 (palette), 6 (RGBA→RGB, alpha dropped); both
    non-interlaced and Adam7-interlaced rasters (spec §8.2: seven
    independently-filtered sub-images scattered on the pass grid); all
    five scanline filters per the PNG spec §9."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("bad PNG signature")
    pos, idat, ihdr, plte = 8, bytearray(), None, None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + tag + body + crc
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, ctype, comp, filt_m, interlace = ihdr
    if depth != 8 or comp != 0 or filt_m != 0:
        raise NotImplementedError(
            f"only 8-bit depth supported (depth={depth})"
        )
    if interlace not in (0, 1):
        raise ValueError(f"bad PNG interlace method {interlace}")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if channels is None:
        raise NotImplementedError(f"unsupported PNG color type {ctype}")
    raw = zlib.decompress(bytes(idat))
    if interlace == 0:
        out, used = _defilter(raw, 0, w, h, channels)
        if used != len(raw):
            raise ValueError("PNG raster size mismatch")
        img = out.reshape(h, w, channels)
    else:  # Adam7: 7 sub-images, each filtered independently (§8.2)
        img = np.zeros((h, w, channels), dtype=np.uint8)
        offset = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue  # empty pass contributes no bytes
            sub, used = _defilter(raw, offset, pw, ph, channels)
            offset += used
            img[y0::dy, x0::dx] = sub.reshape(ph, pw, channels)
        if offset != len(raw):
            raise ValueError("PNG raster size mismatch")
    if ctype == 0:
        return np.repeat(img, 3, axis=2)
    if ctype == 2:
        return img
    if ctype == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        return plte[img[:, :, 0]]
    if ctype == 4:  # gray+alpha: drop alpha, replicate gray
        return np.repeat(img[:, :, :1], 3, axis=2)
    return img[:, :, :3]  # RGBA: drop alpha


def _decode_bmp(payload: bytes):
    import struct

    import numpy as np

    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", payload, 14)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if hdr_size < 40 or planes != 1:
        raise ValueError("unsupported BMP header")
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only 24-bit uncompressed BMP is supported (bpp={bpp}, "
            f"compression={compression})"
        )
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) // 4 * 4
    rows = []
    for r in range(h):
        off = data_offset + r * stride
        row = np.frombuffer(payload, dtype=np.uint8, count=w * 3, offset=off)
        rows.append(row.reshape(w, 3)[:, ::-1])  # BGR → RGB
    img = np.stack(rows[::-1] if bottom_up else rows)
    return img


def _decode_ppm(payload: bytes):
    import numpy as np

    # token scan: magic, width, height, maxval — honoring '#' comments
    pos, tokens = 2, []
    while len(tokens) < 3 and pos < len(payload):
        c = payload[pos : pos + 1]
        if c.isspace():
            pos += 1
        elif c == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
        else:
            start = pos
            while pos < len(payload) and not payload[pos : pos + 1].isspace():
                pos += 1
            tokens.append(payload[start:pos])
    w, h, maxval = (int(t) for t in tokens)
    if not 0 < maxval < 65536:
        raise ValueError(f"bad PPM maxval {maxval}")
    pos += 1  # single whitespace after maxval, then raster
    if maxval < 256:  # 1-byte samples
        img = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos)
        if maxval != 255:
            # sub-8-bit maxval: scale to full 8-bit range (round-half-up,
            # integer arithmetic — what netpbm's pnmdepth does)
            img = ((img.astype(np.uint32) * 255 + maxval // 2) // maxval).astype(
                np.uint8
            )
        return img.reshape(h, w, 3).copy()
    # 16-bit samples: big-endian per spec ("most significant byte first");
    # scale down to 8-bit with round-half-up against the declared maxval
    img16 = np.frombuffer(payload, dtype=">u2", count=w * h * 3, offset=pos)
    img = ((img16.astype(np.uint32) * 255 + maxval // 2) // maxval).astype(np.uint8)
    return img.reshape(h, w, 3)


def decode_image(payload: bytes):
    """Decode an image payload to an (h, w, 3) uint8 RGB numpy array.

    Real, dependency-free decoders: 24-bit BMP, binary PPM (P6), PNG
    (8-bit gray/RGB/palette/RGBA, all five scanline filters, via stdlib
    zlib) and baseline JFIF JPEG (gray / 4:4:4 color — operators/
    jpeg.py). Progressive/subsampled JPEG and other codecs (WebP/...)
    raise ``NotImplementedError`` naming the missing feature — plug in
    a codec library (e.g. PIL) to extend this dispatch.
    """
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:2] == b"P6":
        return _decode_ppm(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        from end_to_end_aws_data_pipeline_spark.operators.jpeg import (
            decode_jpeg,
        )

        return decode_jpeg(payload)
    raise NotImplementedError(
        "unsupported image codec (BMP, P6 PPM, PNG and baseline JPEG "
        "decode without a codec library; install one, e.g. pillow, "
        "for other formats)"
    )


def extract_features(binary_docs: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    Stands in for decode→resize→embed: computes deterministic
    arithmetic features (dimensions faked from byte stats) so the full
    mapInPandas pipeline — batch iterator in, batch out, schema
    contract — is exercised and oracle-checkable.
    """

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            # one python pass over the batch's payload bytes
            stats = [
                (len(b), b[0] if b else -1, int(sum(b[:8])))
                for b in pdf["payload"]
            ]
            n_bytes = pd.Series([s[0] for s in stats], dtype="int64")
            first = pd.Series([s[1] for s in stats], dtype="int32")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": n_bytes,
                    "first_byte": first,
                    "fake_width": (16 + n_bytes % 64).astype("int64"),
                    "fake_height": (16 + first % 48).astype("int64"),
                    "checksum8": pd.Series([s[2] for s in stats], dtype="int64"),
                }
            )

    # flatten the struct JVM-side: Arrow then ships two flat columns
    # instead of per-row struct objects (visibly cheaper conversion)
    flat = binary_docs.select(
        "doc_id", "payload", F.col("meta.media_type").alias("media_type")
    )
    return flat.mapInPandas(_batches, schema=_FEATURE_SCHEMA)


def sample_frames(binary_docs: DataFrame) -> DataFrame:
    """'Video' frame sampling stub: pick 4 evenly-spaced byte offsets per
    payload (the real operator would seek keyframes); shows the
    explode-to-frames shape downstream operators consume."""
    # integer floor division: double-cast rounding differs across engines
    offsets = F.transform(
        F.sequence(F.lit(0), F.lit(3)),
        lambda i: F.floor(i * F.col("meta.n_bytes") / 4).cast("long"),
    )
    return binary_docs.select(
        "doc_id",
        F.posexplode(offsets).alias("frame_idx", "byte_offset"),
    )


def per_doc(
    spark: SparkSession,
    sf_dir: str,
    ddl: str,
    rows_of: Callable[[int], Iterable[tuple]],
) -> DataFrame:
    """One Arrow-batched pass over ``documents.doc_id``: ``rows_of``
    yields zero or more tuples (in ``ddl``'s column order) per doc_id,
    and each input batch becomes one output Arrow batch of them.

    The ids are spread first: the sf corpora are single parquet files,
    so a 1-partition scan would serialize the CPU-bound codec work,
    while spreading 8-byte ids costs almost nothing. ``mapInArrow``
    hands the worker Arrow batches and takes Arrow batches back, so no
    pandas frame is built on either side."""
    schema = to_arrow_schema(DataType.fromDDL(ddl))

    def _batches(batches):
        for batch in batches:
            ids = batch.column(0).to_pylist()
            yield arrow_batch([r for d in ids for r in rows_of(d)], schema)

    docs = spread(table(spark, sf_dir, "documents").select("doc_id"))
    return docs.mapInArrow(_batches, ddl)


_MM_ORACLE = """
WITH b AS (
  SELECT doc_id, text, encode(text) AS payload, source FROM documents
)
SELECT
  doc_id,
  'image/fake' AS media_type,
  CAST(octet_length(payload) AS BIGINT) AS n_bytes,
  CAST(ascii(text[1]) AS INT) AS first_byte,
  CAST(16 + octet_length(payload) % 64 AS BIGINT) AS fake_width,
  CAST(16 + ascii(text[1]) % 48 AS BIGINT) AS fake_height,
  CAST(list_sum(list_transform(string_split(substring(text, 1, 8), ''),
       c -> ascii(c))) AS BIGINT) AS checksum8
FROM b
"""


@register("q_multimodal_features", oracle=_MM_ORACLE)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline end-to-end: text → binary payload + meta
    struct → Arrow-batched ``extract_features``. The oracle
    recomputes the same features arithmetically in SQL (ASCII text ⇒
    utf-8 bytes == character codes), independently validating the UDF
    path."""
    docs = table(spark, sf_dir, "documents")
    return extract_features(to_binary_docs(docs))


# width/height/pixel derivation for the synthesized decode fixtures —
# mirrored EXACTLY by the oracle SQL so DuckDB derives the expected
# decoder output arithmetically, without any image code of its own
_DEC_W = "(4 + doc_id % 29)"  # widths 4..32 → exercises all 4 BMP pads
_DEC_H = "(4 + (doc_id // 7) % 23)"
_IMG_FORMATS = ("bmp", "ppm", "png")  # by doc_id % 3


def gradient(doc_id: int):
    """The synthetic image of one document: an (h, w) uint8 gradient,
    pixel (x + y + doc_id) mod 256, sized ``_DEC_W`` × ``_DEC_H``."""
    import numpy as np

    w = 4 + doc_id % 29
    h = 4 + (doc_id // 7) % 23
    yy, xx = np.mgrid[0:h, 0:w]
    return ((xx + yy + doc_id) % 256).astype(np.uint8)


def _decoded_image(doc_id: int):
    """The document's gradient on all 3 channels, encoded as BMP, PPM
    or PNG (by doc_id % 3; PNG with scanline filter doc_id % 5, so every
    unfilter path runs) and decoded back by ``decode_image``."""
    import numpy as np

    pix = np.repeat(gradient(doc_id)[:, :, None], 3, axis=2)
    fmt = _IMG_FORMATS[doc_id % 3]
    if fmt == "bmp":
        payload = encode_bmp(pix)
    elif fmt == "ppm":
        payload = encode_ppm(pix)
    else:
        payload = encode_png(pix, filter_type=doc_id % 5)
    return decode_image(payload)


_DECODE_ORACLE = f"""
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm'
            ELSE 'png' END AS format,
       CAST({_DEC_W} AS INT) AS width,
       CAST({_DEC_H} AS INT) AS height,
       CAST(3 AS INT) AS channels,
       CAST(3 * list_sum(list_transform(
             range(0, {_DEC_W} * {_DEC_H}),
             i -> (i % {_DEC_W} + i // {_DEC_W} + doc_id) % 256))
            AS BIGINT) AS pixel_sum
FROM documents
"""


@register("q_multimodal_decode", oracle=_DECODE_ORACLE)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode through the full binary-column path.

    Per document a deterministic gradient image (pixel = (x+y+doc_id)
    mod 256 on all 3 channels, size derived from doc_id) is *encoded*
    to actual BMP (doc_id%3==0 — padded bottom-up BGR rows), PPM (==1)
    or PNG (==2, zlib IDAT, scanline filter doc_id%5 so every unfilter
    path runs) bytes, then *decoded* back by the pure-python parsers in
    ``decode_image``, all inside one ``per_doc`` (mapInArrow) pass.
    The oracle recomputes width/height/channels/pixel_sum arithmetically
    — any header-parse, stride, row-order, channel-order or unfilter
    bug in the codecs shows up as a hash mismatch.
    """
    import numpy as np

    def rows_of(doc_id):
        img = _decoded_image(doc_id)
        h, w, ch = img.shape
        fmt = _IMG_FORMATS[doc_id % 3]
        yield doc_id, fmt, w, h, ch, int(img.astype(np.int64).sum())

    return per_doc(
        spark,
        sf_dir,
        "doc_id long, format string, width int, height int, channels int, "
        "pixel_sum long",
        rows_of,
    )


_FRAME_ORACLE = """
SELECT doc_id,
       CAST(i AS INT) AS frame_idx,
       (i * octet_length(encode(text))) // 4 AS byte_offset
FROM documents, (SELECT unnest([0,1,2,3]) AS i)
"""


@register("q_multimodal_frame_sample", oracle=_FRAME_ORACLE)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: evenly-spaced offsets exploded to one
    row per (doc, frame)."""
    docs = table(spark, sf_dir, "documents")
    return sample_frames(to_binary_docs(docs))


# ---------------------------------------------------------------------------
# JPEG decode (compressed DCT codec through the same binary-column path)
# ---------------------------------------------------------------------------

# block-grid geometry derived from doc_id; every 8x8 block is constant,
# so the flat-8 quant table round-trips bit-exactly (operators/jpeg.py
# module docstring derives why) and the oracle can predict decoded
# pixel sums arithmetically while the full huffman/zigzag/IDCT path runs
_J_BW = "(1 + doc_id % 4)"   # blocks across → widths 8..32
_J_BH = "(1 + (doc_id // 5) % 3)"  # blocks down → heights 8..24

_DECODE_JPEG_ORACLE = f"""
SELECT doc_id,
       CAST(8 * {_J_BW} AS INT) AS width,
       CAST(8 * {_J_BH} AS INT) AS height,
       CAST(3 AS INT) AS channels,
       CAST(3 * 64 * list_sum(list_transform(
             range(0, {_J_BW} * {_J_BH}),
             i -> (i % {_J_BW} + i // {_J_BW} + doc_id) % 256))
            AS BIGINT) AS pixel_sum
FROM documents
"""


@register("q_multimodal_decode_jpeg", oracle=_DECODE_JPEG_ORACLE)
def q_multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG encode → decode through the binary-column
    path: per document a block-constant grayscale image (8×8 block
    (br,bc) has value (br+bc+doc_id) mod 256) is huffman-encoded to a
    spec-conformant JFIF file and decoded back by operators/jpeg.py
    inside one ``per_doc`` (mapInArrow) pass. With the flat-8 quant
    table the round trip is bit-exact, so any bitstream, huffman-table,
    zigzag, dequant or IDCT bug shows up as a driver hash mismatch
    against the arithmetic oracle."""
    import numpy as np

    from end_to_end_aws_data_pipeline_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    def rows_of(doc_id):
        bw = 1 + doc_id % 4
        bh = 1 + (doc_id // 5) % 3
        bc, br = np.meshgrid(np.arange(bw), np.arange(bh))
        vals = ((br + bc + doc_id) % 256).astype(np.uint8)
        img = np.kron(vals, np.ones((8, 8), dtype=np.uint8))
        out = decode_jpeg(encode_jpeg(img))
        h, w, ch = out.shape
        yield doc_id, w, h, ch, int(out.astype(np.int64).sum())

    return per_doc(
        spark,
        sf_dir,
        "doc_id long, width int, height int, channels int, pixel_sum long",
        rows_of,
    )


# ---------------------------------------------------------------------------
# audio: RIFF/WAVE PCM codec + feature extraction
# ---------------------------------------------------------------------------


def encode_wav(samples, rate: int = 16000) -> bytes:
    """Encode an int16 numpy array — (n,) mono or (n, ch) interleaved —
    as a PCM16 RIFF/WAVE file."""
    import struct

    import numpy as np

    s = np.asarray(samples, dtype=np.int16)
    ch = 1 if s.ndim == 1 else s.shape[1]
    data = s.tobytes()  # row-major == interleaved frames
    fmt = struct.pack(
        "<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16
    )  # PCM, block align = ch*2, 16-bit
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes):
    """Decode a PCM16 RIFF/WAVE payload → (rate, channels, samples)
    where samples is an (n_frames, channels) int16 array. Walks chunks
    per the RIFF spec (skips LIST/fact/...); compressed formats raise
    ``NotImplementedError``."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("bad RIFF/WAVE signature")
    pos, n = 12, len(payload)
    fmt = None
    data = None
    while pos + 8 <= n:
        tag = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)  # chunks are word-aligned
        if tag == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif tag == b"data":
            data = body
            if fmt is not None:
                break
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, ch, rate, _, _, bits = fmt
    if audio_format != 1 or bits != 16:
        raise NotImplementedError(
            f"only PCM16 supported (format={audio_format}, bits={bits})"
        )
    s = np.frombuffer(data, dtype="<i2")
    frames = len(s) // ch
    return rate, ch, s[: frames * ch].reshape(frames, ch)


# deterministic synthetic PCM mirrored by the oracle: integer triangle
# ramp, so every feature is exact integer arithmetic in any engine
_WAV_RATE = 16000
_WAV_N = "(800 + (doc_id % 5) * 160)"  # 50-90 ms at 16 kHz
_WAV_STEP = "(1 + doc_id % 7)"


def _decoded_wav(doc_id: int):
    """The document's triangle wave (``_WAV_N`` samples, sample i =
    (i·``_WAV_STEP``) mod 2048 − 1024) round-tripped through a PCM16
    WAV file: ``(rate, channels, samples)``, the one channel's samples
    as int64."""
    import numpy as np

    i = np.arange(800 + (doc_id % 5) * 160, dtype=np.int64)
    pcm = ((i * (1 + doc_id % 7)) % 2048 - 1024).astype(np.int16)
    rate, ch, frames = decode_wav(encode_wav(pcm, _WAV_RATE))
    return rate, ch, frames[:, 0].astype(np.int64)


_AUDIO_ORACLE = f"""
SELECT doc_id,
       CAST({_WAV_N} AS BIGINT) AS n_frames,
       CAST(1 AS INT) AS channels,
       CAST({_WAV_RATE} AS INT) AS sample_rate,
       CAST({_WAV_N} * 1000 // {_WAV_RATE} AS BIGINT) AS duration_ms,
       CAST(list_max(list_transform(range(0, {_WAV_N}),
             i -> abs((i * {_WAV_STEP}) % 2048 - 1024))) AS BIGINT) AS peak,
       CAST(list_sum(list_transform(range(0, {_WAV_N}),
             i -> abs((i * {_WAV_STEP}) % 2048 - 1024))) AS BIGINT) AS sum_abs,
       CAST(list_sum(list_transform(range(0, {_WAV_N}),
             i -> CAST((i * {_WAV_STEP}) % 2048 - 1024 AS BIGINT)
                  * ((i * {_WAV_STEP}) % 2048 - 1024))) AS BIGINT) AS sum_sq
FROM documents
"""


@register("q_multimodal_audio_features", oracle=_AUDIO_ORACLE)
def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode through the binary-column path: per document a
    deterministic int16 triangle wave (sample i = (i·step) mod 2048 −
    1024) is encoded to an actual PCM16 RIFF/WAVE file and decoded back
    by ``decode_wav`` inside one ``per_doc`` (mapInArrow) pass;
    features (frame count, duration, peak, |x|-sum, energy) are integer
    arithmetic the oracle recomputes independently — any header,
    chunk-walk, dtype or interleave bug shows up as a hash mismatch."""
    import numpy as np

    def rows_of(doc_id):
        rate, ch, x = _decoded_wav(doc_id)
        n = len(x)
        yield (
            doc_id,
            n,
            ch,
            rate,
            n * 1000 // rate,
            int(np.abs(x).max()),
            int(np.abs(x).sum()),
            int((x * x).sum()),
        )

    return per_doc(
        spark,
        sf_dir,
        "doc_id long, n_frames long, channels int, sample_rate int, "
        "duration_ms long, peak long, sum_abs long, sum_sq long",
        rows_of,
    )


_FRM = 256  # frame length in samples
_HOP = 128  # hop (stride): 50% overlap

_AUDIO_FRAMES_ORACLE = f"""
WITH f AS (
  SELECT doc_id, unnest(range(0,
           ({_WAV_N} - {_FRM}) // {_HOP} + 1)) AS frame_idx
  FROM documents
)
SELECT doc_id,
       CAST(frame_idx AS INT) AS frame_idx,
       CAST(frame_idx * {_HOP} AS BIGINT) AS start_sample,
       CAST(list_max(list_transform(
             range(frame_idx * {_HOP}, frame_idx * {_HOP} + {_FRM}),
             i -> abs((i * {_WAV_STEP}) % 2048 - 1024))) AS BIGINT) AS peak,
       CAST(list_sum(list_transform(
             range(frame_idx * {_HOP}, frame_idx * {_HOP} + {_FRM}),
             i -> CAST((i * {_WAV_STEP}) % 2048 - 1024 AS BIGINT)
                  * ((i * {_WAV_STEP}) % 2048 - 1024))) AS BIGINT) AS energy
FROM f
"""


@register("q_multimodal_audio_frames", oracle=_AUDIO_FRAMES_ORACLE)
def q_multimodal_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-frame feature extraction — the audio analogue of
    sliding-window text chunking (frame 256 / hop 128, the standard
    STFT windowing grid): decode real WAV bytes, frame the PCM with a
    strided view, emit per-frame peak + energy. One row per (doc,
    frame); all integer arithmetic, recomputed independently by the
    oracle. Framing happens inside the SAME Arrow batch as the decode —
    no shuffle between decode and window extraction."""
    import numpy as np

    def rows_of(doc_id):
        _, _, x = _decoded_wav(doc_id)
        n_frames = (len(x) - _FRM) // _HOP + 1
        idx = np.arange(n_frames)[:, None] * _HOP + np.arange(_FRM)[None, :]
        w = x[idx]  # (n_frames, _FRM) strided frame matrix
        peaks = np.abs(w).max(axis=1).tolist()
        energies = (w * w).sum(axis=1).tolist()
        for f in range(n_frames):
            yield doc_id, f, f * _HOP, peaks[f], energies[f]

    return per_doc(
        spark,
        sf_dir,
        "doc_id long, frame_idx int, start_sample long, peak long, energy long",
        rows_of,
    )


# ---------------------------------------------------------------------------
# Image resize (decode → downsample → stats through the binary path)
# ---------------------------------------------------------------------------

_THUMB = 8  # thumbnail edge: fixed-size output regardless of source dims


def resize_nearest(img, out_w: int, out_h: int):
    """Nearest-neighbor resize by integer index gather: output pixel
    (i, j) = source pixel (i*h//out_h, j*w//out_w). Pure numpy fancy
    indexing — no interpolation floats, so the result is deterministic
    and the oracle can predict it arithmetically. The standard
    thumbnail/embedding-input step between decode and feature
    extraction."""
    import numpy as np

    h, w = img.shape[0], img.shape[1]
    rows = (np.arange(out_h, dtype=np.int64) * h) // out_h
    cols = (np.arange(out_w, dtype=np.int64) * w) // out_w
    return img[rows[:, None], cols[None, :]]


_RESIZE_ORACLE = f"""
SELECT doc_id,
       CAST({_DEC_W} AS INT) AS src_width,
       CAST({_DEC_H} AS INT) AS src_height,
       CAST({_THUMB} AS INT) AS thumb_edge,
       CAST(3 * list_sum(list_transform(
             range(0, {_THUMB} * {_THUMB}),
             k -> ((k % {_THUMB}) * {_DEC_W} // {_THUMB}
                   + (k // {_THUMB}) * {_DEC_H} // {_THUMB}
                   + doc_id) % 256))
            AS BIGINT) AS thumb_sum
FROM documents
"""


@register("q_multimodal_resize", oracle=_RESIZE_ORACLE)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode → RESIZE → stats, the missing middle of the multimodal
    mandate (decode / feature-extract / resize / frame-sample): each
    synthetic gradient image is encoded to real BMP/PPM/PNG bytes,
    decoded by the pure-python codecs, then nearest-neighbor
    downsampled to a fixed 8×8 thumbnail inside the same
    Arrow batch — the canonical pre-embedding normalization step, and
    the shape under which a 100 TB image corpus becomes a fixed-width
    tensor column. The oracle predicts every thumbnail pixel
    arithmetically (integer index gather has no interpolation floats),
    so any decode-or-resize indexing bug is a hash mismatch.
    """
    import numpy as np

    def rows_of(doc_id):
        img = _decoded_image(doc_id)
        thumb = resize_nearest(img, _THUMB, _THUMB)
        yield (
            doc_id,
            img.shape[1],
            img.shape[0],
            _THUMB,
            int(thumb.astype(np.int64).sum()),
        )

    return per_doc(
        spark,
        sf_dir,
        "doc_id long, src_width int, src_height int, thumb_edge int, "
        "thumb_sum long",
        rows_of,
    )


# ---------------------------------------------------------------------------
# perceptual-hash image dedup (decode → dHash → bucket → keep-one)
# ---------------------------------------------------------------------------

# dHash (difference hash): nearest-resize to 9×8 grayscale, bit k
# (k = row*8 + col) set iff pixel(col+1, row) > pixel(col, row). The
# standard cheap perceptual fingerprint for crawl-scale image dedup
# (robust to re-encoding and scale, which is exactly what the fixtures
# exercise: the same gradient arrives as BMP, PPM or filtered PNG).
# The 64-bit hash is carried as two 32-bit halves so neither engine
# touches the int64 sign bit with 1<<63.
_DH_W, _DH_H = 9, 8

_PHASH_ORACLE = f"""
WITH dh AS (
  SELECT doc_id,
         list_sum(list_transform(range(0, 64), k -> CASE WHEN
             ((((k % 8) + 1) * {_DEC_W} // {_DH_W}
               + (k // 8) * {_DEC_H} // {_DH_H} + doc_id) % 256)
           > ((((k % 8)) * {_DEC_W} // {_DH_W}
               + (k // 8) * {_DEC_H} // {_DH_H} + doc_id) % 256)
           THEN CASE WHEN k >= 32 THEN 0 ELSE 1 << k END ELSE 0 END))
           AS lo,
         list_sum(list_transform(range(0, 64), k -> CASE WHEN
             ((((k % 8) + 1) * {_DEC_W} // {_DH_W}
               + (k // 8) * {_DEC_H} // {_DH_H} + doc_id) % 256)
           > ((((k % 8)) * {_DEC_W} // {_DH_W}
               + (k // 8) * {_DEC_H} // {_DH_H} + doc_id) % 256)
           THEN CASE WHEN k >= 32 THEN 1 << (k - 32) ELSE 0 END ELSE 0 END))
           AS hi
  FROM documents
)
SELECT CAST(hi AS BIGINT) AS dhash_hi, CAST(lo AS BIGINT) AS dhash_lo,
       CAST(count(*) AS BIGINT) AS n_images,
       CAST(min(doc_id) AS BIGINT) AS keeper_id,
       CAST(sum(doc_id) - min(doc_id) AS BIGINT) AS dropped_id_checksum
FROM dh GROUP BY hi, lo
"""


@register("q_multimodal_phash_dedup", oracle=_PHASH_ORACLE)
def q_multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image deduplication through the REAL codec path:
    every synthetic gradient image is encoded to actual BMP/PPM/PNG
    bytes, decoded back by the pure-python parsers, nearest-resized to
    9×8, dHashed, and bucketed by the 64-bit hash with a keep-lowest-id
    policy — the image-corpus analogue of exact text dedup (crawl-scale
    multimodal pipelines dedup by pHash before any embedding work, cf.
    LAION's pipeline).

    Scale shape: decode+hash is one ``per_doc`` (mapInArrow) pass
    (CPU-bound, embarrassingly parallel, bytes never leave executors);
    the dedup shuffle carries ONLY the 8-byte hash + id — identical
    posture to sha256 text dedup. Bucket output is |distinct hashes|
    rows. The oracle predicts every dHash bit arithmetically from the
    gradient formula, so a decode, resize-index or bit-order bug is a
    driver hash mismatch. dHash collisions between genuinely different
    images (gradients are pathologically self-similar under dHash) are
    the documented precision limit — production stacks verify within
    buckets exactly like SemDeDup verifies within centroid buckets."""
    import numpy as np

    ks = np.arange(_DH_H, dtype=np.int64)[:, None] * 8 + np.arange(_DH_W - 1)

    def rows_of(doc_id):
        img = resize_nearest(_decoded_image(doc_id), _DH_W, _DH_H)
        gray = img[:, :, 0].astype(np.int64)
        bits = (gray[:, 1:] > gray[:, :-1]).astype(np.int64)
        # pack halves separately: bit 63 would wrap int64 in one sum
        hi = int((bits[4:] << (ks[4:] - 32)).sum())
        lo = int((bits[:4] << ks[:4]).sum())
        yield doc_id, hi, lo

    dh = per_doc(spark, sf_dir, "doc_id long, hi long, lo long", rows_of)
    return dh.groupBy("hi", "lo").agg(
        F.count(F.lit(1)).cast("long").alias("n_images"),
        F.min("doc_id").cast("long").alias("keeper_id"),
        (F.sum("doc_id") - F.min("doc_id")).cast("long").alias("dropped_id_checksum"),
    ).select(
        F.col("hi").alias("dhash_hi"),
        F.col("lo").alias("dhash_lo"),
        "n_images",
        "keeper_id",
        "dropped_id_checksum",
    )


# ---------------------------------------------------------------------------
# GIF decode (LZW) through the binary-column path
# ---------------------------------------------------------------------------


def _decoded_gif(doc_id: int):
    """The document's gradient as indices into a gray palette,
    LZW-coded into a GIF89a (4-pass interlaced for odd doc_ids) and
    decoded back to RGB by operators/gif.py."""
    import numpy as np

    from end_to_end_aws_data_pipeline_spark.operators.gif import (
        decode_gif,
        encode_gif,
    )

    gray = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)
    inter = bool(doc_id % 2)
    return decode_gif(encode_gif(gradient(doc_id), gray, interlace=inter))


_DECODE_GIF_ORACLE = f"""
SELECT doc_id,
       CAST(doc_id % 2 = 1 AS BOOLEAN) AS interlaced,
       CAST({_DEC_W} AS INT) AS width,
       CAST({_DEC_H} AS INT) AS height,
       CAST(3 * list_sum(list_transform(
             range(0, {_DEC_W} * {_DEC_H}),
             i -> (i % {_DEC_W} + i // {_DEC_W} + doc_id) % 256))
            AS BIGINT) AS pixel_sum
FROM documents
"""


@register("q_multimodal_decode_gif", oracle=_DECODE_GIF_ORACLE)
def q_multimodal_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode — the LZW member of the codec family (BMP/PPM
    raw, PNG zlib, JPEG Huffman+DCT, WAV PCM): per document the
    deterministic gradient image is palette-indexed, LZW-compressed
    into an actual GIF89a container (odd doc_ids in 4-pass INTERLACED
    row order with the descriptor flag set), then decoded back by the
    from-spec codec in operators/gif.py — variable-width LSB-first
    codes widening 9→12 bits, KwKwK self-reference handling,
    de-interlacing — inside one ``per_doc`` (mapInArrow) pass. The
    oracle recomputes width/height/pixel_sum arithmetically, so any
    bit-packing, width-bump-timing, palette or interlace bug is a hash
    mismatch. Bytes never leave the executors; the driver sees only
    the per-image summary rows.
    """
    import numpy as np

    def rows_of(doc_id):
        rgb = _decoded_gif(doc_id)
        yield (
            doc_id,
            bool(doc_id % 2),
            rgb.shape[1],
            rgb.shape[0],
            int(rgb.astype(np.int64).sum()),
        )

    return per_doc(
        spark,
        sf_dir,
        "doc_id long, interlaced boolean, width int, height int, pixel_sum long",
        rows_of,
    )


# ---------------------------------------------------------------------------
# audio resampling (rational 2:3 upsample, exact integer interpolation)
# ---------------------------------------------------------------------------

# output sample j sits at input position j*2/3; with values scaled x3
# the linear interpolation is pure integer: y3[j] = 3*x[i] + (x[i+1]-x[i])*f
_RS_NUM, _RS_DEN = 2, 3  # 16 kHz -> 24 kHz
_RS_NOUT = f"(({_WAV_N} - 1) * {_RS_DEN} // {_RS_NUM} + 1)"
_RS_X = "((({i}) * {step}) % 2048 - 1024)"

_AUDIO_RESAMPLE_ORACLE = f"""
SELECT doc_id,
       CAST({_WAV_N} AS BIGINT) AS n_in,
       CAST({_RS_NOUT} AS BIGINT) AS n_out,
       CAST(24000 AS INT) AS out_rate,
       CAST(list_sum(list_transform(range(0, {_RS_NOUT}), j ->
         abs({_RS_DEN} * {_RS_X.format(i=f"j * {_RS_NUM} // {_RS_DEN}", step=_WAV_STEP)}
             + (j * {_RS_NUM}) % {_RS_DEN}
               * ({_RS_X.format(i=f"least(j * {_RS_NUM} // {_RS_DEN} + 1, {_WAV_N} - 1)", step=_WAV_STEP)}
                  - {_RS_X.format(i=f"j * {_RS_NUM} // {_RS_DEN}", step=_WAV_STEP)}))
       )) AS BIGINT) AS sum_abs3,
       CAST(list_sum(list_transform(range(0, {_RS_NOUT}), j ->
         CAST({_RS_DEN} * {_RS_X.format(i=f"j * {_RS_NUM} // {_RS_DEN}", step=_WAV_STEP)}
             + (j * {_RS_NUM}) % {_RS_DEN}
               * ({_RS_X.format(i=f"least(j * {_RS_NUM} // {_RS_DEN} + 1, {_WAV_N} - 1)", step=_WAV_STEP)}
                  - {_RS_X.format(i=f"j * {_RS_NUM} // {_RS_DEN}", step=_WAV_STEP)}) AS BIGINT)
         * ({_RS_DEN} * {_RS_X.format(i=f"j * {_RS_NUM} // {_RS_DEN}", step=_WAV_STEP)}
             + (j * {_RS_NUM}) % {_RS_DEN}
               * ({_RS_X.format(i=f"least(j * {_RS_NUM} // {_RS_DEN} + 1, {_WAV_N} - 1)", step=_WAV_STEP)}
                  - {_RS_X.format(i=f"j * {_RS_NUM} // {_RS_DEN}", step=_WAV_STEP)}))
       )) AS BIGINT) AS sum_sq9
FROM documents
"""


@register("q_multimodal_audio_resample", oracle=_AUDIO_RESAMPLE_ORACLE)
def q_multimodal_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio resampling through the real codec path: decode the PCM16
    WAV, upsample 16 kHz → 24 kHz by RATIONAL linear interpolation —
    output sample j sits at input position j·2/3, and with amplitudes
    scaled ×3 the interpolation is pure integer arithmetic
    (y3 = 3·x[i] + f·(x[i+1]−x[i]), f ∈ {0,1,2}), so resampled-signal
    features are exact and the oracle replays them to the bit. The
    boundary sample clamps (least(i+1, n−1)) instead of reading past
    the end.

    This is the standard-data-pipeline normalization step (every ASR /
    audio-LM corpus resamples to one rate) in the shape it must take
    at 100 TB: stateless per-clip arithmetic inside one ``per_doc``
    (mapInArrow) pass, no driver involvement, bytes never leaving
    executors.
    A production polyphase filter replaces the interpolation kernel;
    the pipeline shape is identical.
    """
    import numpy as np

    def rows_of(doc_id):
        rate, _, x = _decoded_wav(doc_id)
        nf = len(x)
        n_out = (nf - 1) * _RS_DEN // _RS_NUM + 1
        pos = np.arange(n_out, dtype=np.int64) * _RS_NUM
        i0 = pos // _RS_DEN
        i1 = np.minimum(i0 + 1, nf - 1)
        y3 = _RS_DEN * x[i0] + pos % _RS_DEN * (x[i1] - x[i0])
        yield (
            doc_id,
            nf,
            n_out,
            rate * _RS_DEN // _RS_NUM,
            int(np.abs(y3).sum()),
            int((y3 * y3).sum()),
        )

    return per_doc(
        spark,
        sf_dir,
        "doc_id long, n_in long, n_out long, out_rate int, "
        "sum_abs3 long, sum_sq9 long",
        rows_of,
    )


# ---------------------------------------------------------------------------
# image intensity histogram through the decode path
# ---------------------------------------------------------------------------

_IH_BINS = 16

_IMG_HIST_ORACLE = f"""
WITH per_doc AS (
  SELECT doc_id, b.b AS bin,
         CAST(list_sum(list_transform(
           range(0, {_DEC_W} * {_DEC_H}),
           i -> CASE WHEN (i % {_DEC_W} + i // {_DEC_W} + doc_id) % 256
                          // {256 // _IH_BINS} = b.b THEN 1 ELSE 0 END))
              AS BIGINT) AS n_px
  FROM documents, (SELECT unnest(range(0, {_IH_BINS})) AS b) b
)
SELECT CAST(bin AS INT) AS bin,
       CAST(sum(n_px) AS BIGINT) AS n_pixels,
       CAST(sum(doc_id * n_px) AS BIGINT) AS doc_checksum
FROM per_doc GROUP BY bin
"""


@register("q_multimodal_img_histogram", oracle=_IMG_HIST_ORACLE)
def q_multimodal_img_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level image intensity histogram computed from REAL
    decodes: every document's gradient image round-trips the GIF/LZW
    codec, the decoded pixels histogram into 16 intensity bins
    per image inside the Arrow batch, and per-image bin counts
    aggregate to the corpus distribution — the exposure/brightness
    audit an image-training pipeline runs to catch a miscalibrated
    decode or a skewed source (all-black thumbnails, washed-out
    scans). The doc-weighted checksum pins per-image histograms, not
    just the corpus totals, so one wrong image can't hide.

    Scale shape: decode CPU ∝ bytes inside mapInArrow (bytes never
    reach the driver); the shuffle carries doc×16 small ints;
    the final aggregate is 16 rows.
    """
    import numpy as np

    width = 256 // _IH_BINS

    def rows_of(doc_id):
        gray = _decoded_gif(doc_id)[:, :, 0].ravel()
        counts = np.bincount(gray // width, minlength=_IH_BINS)
        for b in range(_IH_BINS):
            yield doc_id, b, int(counts[b])

    bins = per_doc(spark, sf_dir, "doc_id long, bin int, n_px long", rows_of)
    return bins.groupBy("bin").agg(
        F.sum("n_px").cast("long").alias("n_pixels"),
        F.sum(F.col("doc_id") * F.col("n_px"))
        .cast("long")
        .alias("doc_checksum"),
    )


# ---------------------------------------------------------------------------
# video scene-cut detection (temporal frame-diff through the binary path)
# ---------------------------------------------------------------------------

_SC_FRAME_PX = 256  # 16x16 grayscale bytes per frame
_SC_TAU = 8  # mean-abs-diff threshold for a cut

# per-doc synthetic video geometry, all integer-derived from doc_id:
# n_frames in 8..12, scene length 3..5, per-scene luminance jumps by a
# 97-step mod-256 walk (coprime with 256, so scene boundaries usually
# but not always clear the threshold — both engines decide identically)
_SC_NF = "(8 + doc_id % 5)"
_SC_SLEN = "(3 + doc_id % 3)"


def _sc_lum(f: str) -> str:
    return f"(doc_id * 7 + (({f}) // {_SC_SLEN}) * 97) % 256"


_SCENE_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         list_transform(
           range(1, {_SC_NF}),
           f -> abs(CAST({_sc_lum('f')} AS BIGINT)
                    - CAST({_sc_lum('f - 1')} AS BIGINT))
         ) AS diffs
  FROM documents
)
SELECT doc_id,
       CAST({_SC_NF} AS BIGINT) AS n_frames,
       CAST(len(list_filter(diffs, x -> x >= {_SC_TAU})) + 1 AS BIGINT)
         AS n_scenes,
       CAST(list_sum(diffs) AS BIGINT) AS sum_diff
FROM d
"""


@register("q_multimodal_video_scenes", oracle=_SCENE_ORACLE)
def q_multimodal_video_scenes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over a synthetic 'video' binary column: each
    document carries n_frames of 16×16 grayscale bytes; consecutive
    frames are diffed (mean absolute luminance) and a cut fires where
    the diff clears a threshold — the keyframe/shot-boundary primitive
    a video curation pipeline runs before captioning or frame dedup.

    The video bytes are REAL: the UDF materializes every frame,
    re-slices the payload at frame stride, and computes diffs from the
    decoded pixels inside one ``per_doc`` (mapInArrow) pass — bytes
    never reach the driver and never shuffle (the aggregate emits 4
    scalars per doc). The oracle predicts the same cuts arithmetically
    from the generator formula, so a slicing/stride/diff bug is a hash
    mismatch. Scale shape: embarrassingly parallel per video, CPU ∝
    pixel bytes; at 100 TB the decode stage (here a stride slice;
    in production a codec) dominates and partitions by file."""
    import numpy as np

    def rows_of(doc_id):
        nf = 8 + doc_id % 5
        slen = 3 + doc_id % 3
        # encode: one constant 16x16 frame per scene step
        payload = b"".join(
            bytes([(doc_id * 7 + (f // slen) * 97) % 256]) * _SC_FRAME_PX
            for f in range(nf)
        )
        # decode: re-slice at frame stride, diff consecutive means
        arr = np.frombuffer(payload, dtype=np.uint8).reshape(nf, _SC_FRAME_PX)
        diffs = np.abs(np.diff(arr.mean(axis=1).astype(np.int64)))
        yield doc_id, nf, int((diffs >= _SC_TAU).sum()) + 1, int(diffs.sum())

    return per_doc(
        spark,
        sf_dir,
        "doc_id long, n_frames long, n_scenes long, sum_diff long",
        rows_of,
    )


# ---------------------------------------------------------------------------
# voice-activity detection: frame energies + gaps-and-islands segments
# ---------------------------------------------------------------------------

_VAD_FRAME = 160  # 10 ms at 16 kHz
_VAD_THR = 50_000_000  # frame-energy gate (int64 Σx², no floats)

_VAD_ORACLE = f"""
WITH fr AS (
  SELECT doc_id, f,
         list_sum(list_transform(range(f * {_VAD_FRAME},
                                       (f + 1) * {_VAD_FRAME}), i ->
           CAST({_RS_X.format(i="i", step=_WAV_STEP)} AS BIGINT)
           * {_RS_X.format(i="i", step=_WAV_STEP)})) AS energy
  FROM documents,
       unnest(range(0, {_WAV_N} // {_VAD_FRAME})) AS t(f)
), act AS (
  SELECT doc_id, f, energy > {_VAD_THR} AS active FROM fr
), isl AS (
  SELECT doc_id, f,
         f - row_number() OVER (PARTITION BY doc_id ORDER BY f) AS isl_id
  FROM act WHERE active
), seg AS (
  SELECT doc_id, count(*) AS seg_len
  FROM isl GROUP BY doc_id, isl_id
)
SELECT a.doc_id,
       CAST(count(*) AS BIGINT) AS n_frames,
       CAST(sum(CASE WHEN a.active THEN 1 ELSE 0 END) AS BIGINT)
         AS n_active,
       CAST(coalesce(any_value(s.n_segments), 0) AS BIGINT) AS n_segments,
       CAST(coalesce(any_value(s.longest), 0) AS BIGINT)
         AS longest_segment
FROM act a
LEFT JOIN (
  SELECT doc_id, count(*) AS n_segments, max(seg_len) AS longest
  FROM seg GROUP BY doc_id
) s ON s.doc_id = a.doc_id
GROUP BY a.doc_id
"""


@register("q_multimodal_audio_vad", oracle=_VAD_ORACLE)
def q_multimodal_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-gated voice-activity detection through the real codec
    path: decode the PCM16 WAV, frame into 160-sample (10 ms)
    windows, gate each frame on exact int64 energy (Σx² >
    50,000,000), then contiguous active frames collapse to SEGMENTS
    via gaps-and-islands — per clip: frame count, active frames,
    segment count, longest segment. The speech-segmentation front-end
    every ASR/audio-LM corpus runs before cutting training clips; a
    production VAD swaps the energy gate for a model score, the
    framing/segmentation plumbing is identical.

    All arithmetic is integer (energy ≤ 160·1024² ≈ 1.7e8
    per frame), so the oracle replays decode-equivalent samples, frame
    sums, and island segmentation exactly. Scale shape: one mapInArrow
    pass per clip — bytes never leave executors, per-clip state
    is one frame-energy array, and the segment logic is numpy on a
    handful of frames (no window over anything corpus-sized)."""
    def rows_of(doc_id):
        _, _, x = _decoded_wav(doc_id)
        nfr = len(x) // _VAD_FRAME
        en = (x[: nfr * _VAD_FRAME].reshape(nfr, _VAD_FRAME) ** 2).sum(axis=1)
        act = en > _VAD_THR
        # islands: segment boundaries where activity turns on
        starts = int(act[0]) + int((act[1:] & ~act[:-1]).sum())
        longest = run = 0
        for a in act:
            run = run + 1 if a else 0
            longest = max(longest, run)
        yield doc_id, nfr, int(act.sum()), starts, longest

    return per_doc(
        spark,
        sf_dir,
        "doc_id long, n_frames long, n_active long, n_segments long, "
        "longest_segment long",
        rows_of,
    )


# ---------------------------------------------------------------------------
# ViT-style patch extraction: resize to a fixed grid, split into
# patches, positional checksum (patch ORDER is the thing under test)
# ---------------------------------------------------------------------------

_PATCH_GRID = 4  # patches per side
_PATCH_PX = 4  # pixels per patch side (grid*px = 16x16 canonical input)
_PATCH_EDGE = _PATCH_GRID * _PATCH_PX

_PATCH_VAL = (
    f"((((p % {_PATCH_GRID}) * {_PATCH_PX} + k % {_PATCH_PX})"
    f" * {_DEC_W} // {_PATCH_EDGE}"
    f" + (((p // {_PATCH_GRID}) * {_PATCH_PX} + k // {_PATCH_PX})"
    f" * {_DEC_H} // {_PATCH_EDGE})"
    f" + doc_id) % 256)"
)

_PATCHES_ORACLE = f"""
WITH ps AS (
  SELECT doc_id, p,
         3 * list_sum(list_transform(
               range(0, {_PATCH_PX * _PATCH_PX}),
               k -> {_PATCH_VAL})) AS patch_sum
  FROM documents, unnest(range(0, {_PATCH_GRID * _PATCH_GRID})) AS t(p)
)
SELECT doc_id,
       CAST(count(*) AS INT) AS n_patches,
       CAST(sum((p + 1) * patch_sum) AS BIGINT) AS pos_checksum,
       CAST(min(patch_sum) AS BIGINT) AS min_patch_sum,
       CAST(max(patch_sum) AS BIGINT) AS max_patch_sum
FROM ps GROUP BY doc_id
"""


@register("q_multimodal_patches", oracle=_PATCHES_ORACLE)
def q_multimodal_patches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patchification through the real codec path: decode
    the BMP/PPM/PNG bytes, nearest-neighbor to the canonical 16×16
    input, split into a 4×4 grid of 4×4 patches in raster order — the exact front-end every vision
    transformer runs before embedding. The published POSITIONAL
    checksum Σ(p+1)·patch_sum is order-sensitive by construction:
    a transposed or shuffled patch sequence (the classic patching
    bug) changes the value even when pixel totals don't.

    All integer; the oracle replays decode-equivalent pixels, the
    resize indexing, and the raster patch order. One mapInArrow
    pass; bytes never leave executors."""
    import numpy as np

    G, P, E = _PATCH_GRID, _PATCH_PX, _PATCH_EDGE

    def rows_of(doc_id):
        canon = resize_nearest(_decoded_image(doc_id), E, E).astype(np.int64)
        # raster patch order: (E,E,3)->(G,P,G,P,3)->(G,G,...)
        patches = canon.reshape(G, P, G, P, 3).transpose(0, 2, 1, 3, 4)
        sums = patches.reshape(G * G, -1).sum(axis=1)
        pos = int(((np.arange(G * G) + 1) * sums).sum())
        yield doc_id, G * G, pos, int(sums.min()), int(sums.max())

    return per_doc(
        spark,
        sf_dir,
        "doc_id long, n_patches int, pos_checksum long, "
        "min_patch_sum long, max_patch_sum long",
        rows_of,
    )
