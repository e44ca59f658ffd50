"""Dependency-free JPEG (JFIF) codec in pure numpy.

Closes the "compressed codecs" gap flagged for the multimodal column
pipeline (the reference repo itself ships JPEG screenshots as README
assets — progressive 4:2:0 files — so a real corpus hits this format
immediately). `decode_jpeg` handles:

- baseline + extended sequential DCT (SOF0/SOF1) and PROGRESSIVE
  (SOF2) huffman JPEG: spectral selection, successive approximation
  (DC/AC first + refinement scans, EOB runs per ITU-T T.81 Annex G);
- chroma subsampling (any Hi×Vi ≤ 4, e.g. 4:2:0 / 4:2:2) via
  interleaved-MCU geometry + replicated upsampling;
- restart intervals (DRI/RSTn), arbitrary (non-multiple-of-8) dims,
  canonical huffman tables read from the stream's own DHT segments,
  0xFF00 byte unstuffing, DC prediction, zigzag dequant, orthonormal
  IDCT, YCbCr→RGB.

Scans fill a per-component coefficient store; the IDCT runs once after
all scans — the same structure whether the file is sequential (one
scan) or progressive (many). Arithmetic coding and hierarchical/
lossless processes raise ``NotImplementedError`` naming the feature.

`encode_jpeg` emits valid baseline files (grayscale, 4:4:4 RGB, or
4:2:0 RGB with ``subsample=True``) any standard decoder can read. Its
huffman tables are fixed-length canonical (4-bit DC / 9-10-bit AC
codes) — legal per T.81 Annex C since tables ride in DHT, just less
compact than the Annex K defaults.

Exactness contract used by the oracle-checked query
(operators/multimodal.py::q_multimodal_decode_jpeg): with a FLAT
quantization table of 8, an image whose 8×8 blocks are each constant
round-trips BIT-EXACTLY — the DCT of a constant block c is a lone DC
coefficient 8·(c-128), quantizing by 8 gives the integer c-128 with no
rounding loss, and the IDCT returns exactly c. That lets DuckDB
predict decoded pixel sums arithmetically while the full bitstream
path (huffman, zigzag, dequant, IDCT) really executes. Lossy behavior
on arbitrary images (and the subsampled/progressive paths) is covered
by tolerance property tests plus decode of the reference repo's real
progressive screenshots (tests/test_llm_ops.py).
"""

from __future__ import annotations

import struct

# ---------------------------------------------------------------------------
# shared constants
# ---------------------------------------------------------------------------

# zigzag scan positions (row, col) in coefficient order, ITU-T T.81 fig 5
_ZZ_POS: list[tuple[int, int]] = []
for _s in range(15):
    _rng = (
        range(min(_s, 7), max(0, _s - 7) - 1, -1)
        if _s % 2 == 0
        else range(max(0, _s - 7), min(_s, 7) + 1)
    )
    for _r in _rng:
        _ZZ_POS.append((_r, _s - _r))

FLAT_Q8 = [8] * 64  # the exact-roundtrip table (see module docstring)


def _dct_matrix():
    import numpy as np

    x = np.arange(8)
    t = np.cos((2 * x[None, :] + 1) * np.arange(8)[:, None] * np.pi / 16)
    t *= np.sqrt(2.0 / 8.0)
    t[0] = np.sqrt(1.0 / 8.0)
    return t


def _canonical_codes(counts, symbols):
    """(counts per length 1..16, symbol list) → {symbol: (length, code)}
    by the T.81 Annex C canonical assignment."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            out[symbols[k]] = (length, code)
            code += 1
            k += 1
        code <<= 1
    return out


# fixed-length canonical tables for the ENCODER (decoder always reads the
# stream's DHT): 12 DC categories at 4 bits; AC symbols at 9-10 bits
# (DHT per-length counts are single bytes, so 256 can't share one length)
_ENC_DC_COUNTS = [0, 0, 0, 12] + [0] * 12
_ENC_DC_SYMBOLS = list(range(12))
_ENC_AC_COUNTS = [0] * 8 + [254, 2] + [0] * 6
_ENC_AC_SYMBOLS = list(range(256))
_ENC_DC = _canonical_codes(_ENC_DC_COUNTS, _ENC_DC_SYMBOLS)
_ENC_AC = _canonical_codes(_ENC_AC_COUNTS, _ENC_AC_SYMBOLS)


def _mag_cat(v: int) -> tuple[int, int]:
    """JPEG magnitude category: (size, appended bits) for a signed v."""
    if v == 0:
        return 0, 0
    size = abs(v).bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing
                self.out.append(0x00)

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec
        return bytes(self.out)


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def _dht_body(tc_th: int, counts, symbols) -> bytes:
    return bytes([tc_th]) + bytes(counts) + bytes(symbols)


def _encode_block(bw, blk, t, q, pred):
    """DCT + quantize + entropy-code one 8×8 block; returns new DC pred."""
    import numpy as np

    coef = t @ (blk - 128.0) @ t.T
    zzm = np.round(coef / q).astype(np.int64)
    zz = [int(zzm[r, c]) for (r, c) in _ZZ_POS]
    diff = zz[0] - pred
    size, bits = _mag_cat(diff)
    ln, code = _ENC_DC[size]
    bw.write(code, ln)
    if size:
        bw.write(bits, size)
    run = 0
    last_nz = 0
    for i in range(63, 0, -1):
        if zz[i] != 0:
            last_nz = i
            break
    for i in range(1, last_nz + 1):
        if zz[i] == 0:
            run += 1
            continue
        while run > 15:
            ln, code = _ENC_AC[0xF0]  # ZRL
            bw.write(code, ln)
            run -= 16
        size, bits = _mag_cat(zz[i])
        ln, code = _ENC_AC[(run << 4) | size]
        bw.write(code, ln)
        bw.write(bits, size)
        run = 0
    if last_nz != 63:
        ln, code = _ENC_AC[0x00]  # EOB
        bw.write(code, ln)
    return zz[0]


def encode_jpeg(pixels, subsample: bool = False) -> bytes:
    """Encode an (h, w) grayscale or (h, w, 3) RGB uint8 array as a
    baseline JFIF JPEG quantized by FLAT_Q8, the exact-roundtrip table.
    ``subsample=True`` emits 4:2:0 (RGB only; h, w must then be
    multiples of 16, else multiples of 8 — the testdata synthesizer
    guarantees it; a general encoder would edge-pad)."""
    import numpy as np

    pix = np.asarray(pixels, dtype=np.float64)
    gray = pix.ndim == 2
    h, w = pix.shape[:2]
    mult = 16 if subsample else 8
    if h % mult or w % mult:
        raise ValueError(f"encode_jpeg requires h, w multiples of {mult}")
    if subsample and gray:
        raise ValueError("subsample applies to RGB input only")
    if gray:
        comps = [(pix, 1, 1)]
    else:
        r, g, b = pix[:, :, 0], pix[:, :, 1], pix[:, :, 2]
        y = np.round(0.299 * r + 0.587 * g + 0.114 * b)
        cb = np.clip(
            np.round(-0.168736 * r - 0.331264 * g + 0.5 * b + 128), 0, 255
        )
        cr = np.clip(
            np.round(0.5 * r - 0.418688 * g - 0.081312 * b + 128), 0, 255
        )
        if subsample:
            # 2x2 box average for chroma
            cb = np.round(
                cb.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))
            )
            cr = np.round(
                cr.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))
            )
            comps = [(y, 2, 2), (cb, 1, 1), (cr, 1, 1)]
        else:
            comps = [(y, 1, 1), (cb, 1, 1), (cr, 1, 1)]
    ncomp = len(comps)
    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xDB, bytes([0x00]) + bytes(FLAT_Q8))  # DQT, 8-bit table 0
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
    for ci, (_, hi, vi) in enumerate(comps):
        sof += bytes([ci + 1, (hi << 4) | vi, 0])
    out += _seg(0xC0, sof)  # SOF0 baseline
    out += _seg(0xC4, _dht_body(0x00, _ENC_DC_COUNTS, _ENC_DC_SYMBOLS))
    out += _seg(0xC4, _dht_body(0x10, _ENC_AC_COUNTS, _ENC_AC_SYMBOLS))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00])  # DC table 0, AC table 0
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, sos)
    t = _dct_matrix()
    q = np.empty((8, 8))
    for i, (r_, c_) in enumerate(_ZZ_POS):
        q[r_, c_] = FLAT_Q8[i]
    bw = _BitWriter()
    hmax = max(hi for _, hi, _ in comps)
    vmax = max(vi for _, _, vi in comps)
    pred = [0] * ncomp
    for my in range(h // (8 * vmax)):
        for mx in range(w // (8 * hmax)):
            for ci, (plane, hi, vi) in enumerate(comps):
                for v in range(vi):
                    for u in range(hi):
                        by, bx = my * vi + v, mx * hi + u
                        blk = plane[
                            by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8
                        ]
                        pred[ci] = _encode_block(bw, blk, t, q, pred[ci])
    out += bw.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


class _BitReader:
    """MSB-first bit reader over UNSTUFFED entropy bytes."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                # past the end: spec allows the final code to be padded;
                # feed 0 bits (progressive decoders routinely over-read)
                return 0
            self.acc = self.data[self.pos]
            self.pos += 1
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _receive_extend(br: _BitReader, size: int) -> int:
    if size == 0:
        return 0
    v = br.read_bits(size)
    if v < (1 << (size - 1)):
        v -= (1 << size) - 1
    return v


def _huff_decode(br: _BitReader, table: dict) -> int:
    length, code = 0, 0
    while length < 16:
        code = (code << 1) | br.read_bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid huffman code in JPEG stream")


def _unstuff_segments(data: bytes) -> list[bytes]:
    """Strip 0xFF00 stuffing and split on RSTn markers → one clean
    entropy byte string per restart segment."""
    segs, cur = [], bytearray()
    i, n = 0, len(data)
    while i < n:
        b = data[i]
        if b == 0xFF and i + 1 < n:
            nxt = data[i + 1]
            if nxt == 0x00:
                cur.append(0xFF)
                i += 2
                continue
            if 0xD0 <= nxt <= 0xD7:
                segs.append(bytes(cur))
                cur = bytearray()
                i += 2
                continue
            # any other marker: end of scan data (defensive; caller
            # already sliced to the scan boundary)
            break
        cur.append(b)
        i += 1
    segs.append(bytes(cur))
    return segs


def _scan_end(payload: bytes, pos: int) -> int:
    """First non-RST, non-stuffing marker at/after pos."""
    n = len(payload)
    i = pos
    while i + 1 < n:
        if payload[i] == 0xFF:
            nxt = payload[i + 1]
            if nxt != 0x00 and not (0xD0 <= nxt <= 0xD7):
                return i
        i += 1
    return n


class _Component:
    __slots__ = ("cid", "hi", "vi", "tq", "bw", "bh", "coeffs")

    def __init__(self, cid, hi, vi, tq):
        self.cid, self.hi, self.vi, self.tq = cid, hi, vi, tq


def decode_jpeg(payload: bytes):
    """Decode a sequential or progressive huffman JFIF JPEG to an
    (h, w, 3) uint8 RGB array (grayscale replicates to 3 channels —
    same contract as the other decoders in operators/multimodal.py)."""
    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("bad JPEG signature")
    pos = 2
    qtabs: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    comps: list[_Component] | None = None
    progressive = False
    h = w = 0
    dri = 0
    n = len(payload)
    geom = None
    while pos + 2 <= n:
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at offset {pos}")
        marker = payload[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # TEM/RST: no body
            pos += 2
            continue
        (seglen,) = struct.unpack_from(">H", payload, pos + 2)
        body = payload[pos + 4 : pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDB:  # DQT (Pq=0: 8-bit entries, Pq=1: 16-bit)
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 0x0F
                if pq:
                    qtabs[tq] = list(
                        struct.unpack_from(">64H", body, off + 1)
                    )
                    off += 129
                else:
                    qtabs[tq] = list(body[off + 1 : off + 65])
                    off += 65
        elif marker == 0xC4:  # DHT
            off = 0
            while off < len(body):
                tc, th = body[off] >> 4, body[off] & 0x0F
                counts = list(body[off + 1 : off + 17])
                nsym = sum(counts)
                symbols = list(body[off + 17 : off + 17 + nsym])
                huff[(tc, th)] = {
                    (ln, code): sym
                    for sym, (ln, code) in _canonical_codes(
                        counts, symbols
                    ).items()
                }
                off += 17 + nsym
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 seq, SOF2 progressive
            progressive = marker == 0xC2
            if body[0] != 8:
                raise NotImplementedError("only 8-bit precision")
            h, w = struct.unpack_from(">HH", body, 1)
            ncomp = body[5]
            comps = []
            for ci in range(ncomp):
                cid, samp, tq = body[6 + 3 * ci : 9 + 3 * ci]
                comps.append(_Component(cid, samp >> 4, samp & 0x0F, tq))
            hmax = max(c.hi for c in comps)
            vmax = max(c.vi for c in comps)
            mcx = -(-w // (8 * hmax))
            mcy = -(-h // (8 * vmax))
            for c in comps:
                # true block grid (non-interleaved scans) within the
                # MCU-padded store (interleaved scans)
                cw = -(-w * c.hi // hmax)
                ch = -(-h * c.vi // vmax)
                c.bw = -(-cw // 8)
                c.bh = -(-ch // 8)
                c.coeffs = np.zeros(
                    (mcy * c.vi, mcx * c.hi, 64), dtype=np.int64
                )
            geom = (hmax, vmax, mcx, mcy)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD,
                        0xCE, 0xCF):
            raise NotImplementedError(
                f"unsupported JPEG process (SOF marker 0xFF{marker:02X}: "
                "arithmetic/hierarchical/lossless)"
            )
        elif marker == 0xDD:  # DRI
            (dri,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS — decode the scan in place
            if comps is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scan = []
            by_id = {c.cid: c for c in comps}
            for ci in range(ns):
                cid, tabs = body[1 + 2 * ci], body[2 + 2 * ci]
                scan.append((by_id[cid], tabs >> 4, tabs & 0x0F))
            ss, se, a = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
            ah, al = a >> 4, a & 0x0F
            end = _scan_end(payload, pos)
            segs = _unstuff_segments(payload[pos:end])
            pos = end
            _run_scan(
                segs, scan, comps, geom, huff,
                progressive, ss, se, ah, al, dri,
            )
        # APPn (E0-EF) / COM (FE) / DNL etc.: skipped
    if comps is None:
        raise ValueError("JPEG missing SOF")
    return _finish(comps, qtabs, geom, h, w)


def _run_scan(segs, scan, comps, geom, huff, progressive, ss, se, ah, al, dri):
    """Entropy-decode one scan into the component coefficient stores,
    resetting DC predictions and EOB runs at each restart segment."""
    hmax, vmax, mcx, mcy = geom
    interleaved = len(scan) > 1
    if interleaved:
        units = [
            (comp, dct, act, v, u)
            for comp, dct, act in scan
            for v in range(comp.vi)
            for u in range(comp.hi)
        ]
        total = mcx * mcy
    else:
        comp, dct, act = scan[0]
        total = comp.bw * comp.bh
    seg_i = 0
    br = _BitReader(segs[0])
    state = {"eobrun": 0, "pred": {id(c): 0 for c, _, _ in scan}}
    for unit in range(total):
        if dri and unit and unit % dri == 0:
            seg_i += 1
            if seg_i >= len(segs):
                raise ValueError("missing JPEG restart segment")
            br = _BitReader(segs[seg_i])
            state["eobrun"] = 0
            for k in state["pred"]:
                state["pred"][k] = 0
        if interleaved:
            my, mx = divmod(unit, mcx)
            for comp, dct, act, v, u in units:
                _decode_block(
                    br, comp, my * comp.vi + v, mx * comp.hi + u,
                    huff, dct, act, progressive, ss, se, ah, al, state,
                )
        else:
            by, bx = divmod(unit, comp.bw)
            _decode_block(
                br, comp, by, bx, huff, dct, act,
                progressive, ss, se, ah, al, state,
            )


def _decode_block(br, comp, by, bx, huff, dct_id, act_id,
                  progressive, ss, se, ah, al, state):
    import numpy as np  # noqa: F401  (kept for symmetry; ops are scalar)

    zz = comp.coeffs[by, bx]
    if not progressive:
        preds = state["pred"]
        size = _huff_decode(br, huff[(0, dct_id)])
        preds[id(comp)] += _receive_extend(br, size)
        zz[0] = preds[id(comp)]
        k = 1
        while k < 64:
            sym = _huff_decode(br, huff[(1, act_id)])
            if sym == 0x00:
                break
            run, size = sym >> 4, sym & 0x0F
            if size == 0:
                if run != 15:
                    raise ValueError("bad AC symbol")
                k += 16
                continue
            k += run
            if k > 63:
                raise ValueError("AC index out of range")
            zz[k] = _receive_extend(br, size)
            k += 1
        return
    # ---- progressive (T.81 Annex G) ----
    if ss == 0:  # DC scan
        if ah == 0:  # first
            preds = state["pred"]
            size = _huff_decode(br, huff[(0, dct_id)])
            preds[id(comp)] += _receive_extend(br, size)
            zz[0] = preds[id(comp)] << al
        else:  # refinement: one bit
            if br.read_bit():
                zz[0] |= 1 << al
        return
    # AC scans are single-component by spec
    actab = huff[(1, act_id)]
    p1, m1 = 1 << al, -(1 << al)
    if ah == 0:  # AC first scan
        if state["eobrun"] > 0:
            state["eobrun"] -= 1
            return
        k = ss
        while k <= se:
            sym = _huff_decode(br, actab)
            run, size = sym >> 4, sym & 0x0F
            if size == 0:
                if run < 15:
                    state["eobrun"] = (1 << run) - 1
                    if run:
                        state["eobrun"] += br.read_bits(run)
                    break
                k += 16  # ZRL
                continue
            k += run
            if k > se:
                raise ValueError("AC index out of band")
            zz[k] = _receive_extend(br, size) << al
            k += 1
        return
    # AC refinement scan (libjpeg decode_mcu_AC_refine shape)
    k = ss
    if state["eobrun"] == 0:
        while k <= se:
            sym = _huff_decode(br, actab)
            run, size = sym >> 4, sym & 0x0F
            val = 0
            if size == 0:
                if run < 15:
                    state["eobrun"] = 1 << run
                    if run:
                        state["eobrun"] += br.read_bits(run)
                    break
                # run == 15: skip 16 zero-history coefficients
            else:
                val = p1 if br.read_bit() else m1
            while k <= se:
                coef = int(zz[k])
                if coef != 0:
                    if br.read_bit() and (coef & p1) == 0:
                        zz[k] = coef + (p1 if coef >= 0 else m1)
                else:
                    run -= 1
                    if run < 0:
                        break
                k += 1
            if val and k <= se:
                zz[k] = val
            k += 1
    if state["eobrun"] > 0:
        while k <= se:
            coef = int(zz[k])
            if coef != 0 and br.read_bit() and (coef & p1) == 0:
                zz[k] = coef + (p1 if coef >= 0 else m1)
            k += 1
        state["eobrun"] -= 1


def _finish(comps, qtabs, geom, h, w):
    """Dequantize + IDCT every block, upsample, color-convert, crop."""
    import numpy as np

    hmax, vmax, _, _ = geom
    t = _dct_matrix()
    planes = []
    for comp in comps:
        if comp.tq not in qtabs:
            raise ValueError("missing quantization table")
        q = np.empty(64)
        q[:] = qtabs[comp.tq]
        deq = np.zeros((8, 8))
        plane = np.zeros((comp.bh * 8, comp.bw * 8))
        zz_r = [r for r, _ in _ZZ_POS]
        zz_c = [c for _, c in _ZZ_POS]
        for by in range(comp.bh):
            for bx in range(comp.bw):
                deq[zz_r, zz_c] = comp.coeffs[by, bx] * q
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    t.T @ deq @ t
                )
        plane += 128.0
        # upsample to full resolution by sample replication, then crop
        ry, rx = vmax // comp.vi, hmax // comp.hi
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        g = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    if len(planes) != 3:
        raise NotImplementedError(
            f"{len(planes)}-component JPEG (CMYK/YCCK) not supported"
        )
    y, cb, cr = planes[0], planes[1], planes[2]
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
