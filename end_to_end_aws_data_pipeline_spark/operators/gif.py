"""Pure-python GIF87a/89a codec (LZW) for the multimodal binary-column
pipeline — written from the GIF89a specification (no library lineage),
like the BMP/PPM/PNG/JPEG/WAV codecs in this package.

Scope: single-image GIFs with a global 256-entry color table, both
sequential and interlaced row order, variable-width LSB-first LZW with
code widths 9→12 bits, CLEAR/END handling, and dictionary reset on
overflow. Animation blocks (multiple image descriptors, graphic control
extensions) are out of fixture scope and raise a named error.

The interesting codec content vs the others in this family is LZW: a
*stateful variable-width* entropy code (PNG's zlib arrives via the
stdlib; JPEG's Huffman is in jpeg.py), including the subtle
encoder/decoder agreement points — the width-bump fires when the NEXT
code to be assigned no longer fits, and the decoder must handle the
"code == next_code" self-reference case (KwKwK strings).
"""

from __future__ import annotations

import struct

import numpy as np

_GIF_MAGIC = (b"GIF87a", b"GIF89a")
_MAX_WIDTH = 12  # LZW code width cap per spec
_MIN_CODE_SIZE = 8  # the encoder's LZW min code size: 8-bit palette indices
_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))  # (start, step) rows


def _interlace_order(h: int) -> list[int]:
    return [r for start, step in _INTERLACE_PASSES for r in range(start, h, step)]


# ---------------------------------------------------------------------------
# LZW (GIF variant: variable width, LSB-first, CLEAR/END codes)
# ---------------------------------------------------------------------------


def lzw_encode(data: bytes) -> bytes:
    """GIF LZW: emits CLEAR, then the string codes, widening from
    _MIN_CODE_SIZE+1 up to 12 bits as the dictionary grows; on
    dictionary overflow (code 4096) emits CLEAR and resets."""
    clear = 1 << _MIN_CODE_SIZE
    end = clear + 1

    bits = bytearray()
    acc = 0
    nacc = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nacc
        acc |= code << nacc
        nacc += width
        while nacc >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8

    def fresh() -> tuple[dict[bytes, int], int, int]:
        return (
            {bytes([i]): i for i in range(clear)},
            end + 1,
            _MIN_CODE_SIZE + 1,
        )

    table, next_code, width = fresh()
    emit(clear, width)
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        table[wc] = next_code
        next_code += 1
        # widen when the next code to assign would not fit in `width`
        if next_code > (1 << width) and width < _MAX_WIDTH:
            width += 1
        elif next_code > (1 << _MAX_WIDTH):
            emit(clear, width)
            table, next_code, width = fresh()
        w = bytes([ch])
    if w:
        emit(table[w], width)
    emit(end, width)
    if nacc:
        bits.append(acc & 0xFF)
    return bytes(bits)


def lzw_decode(data: bytes, min_code_size: int = 8) -> bytes:
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()

    pos = 0  # bit cursor

    def read(width: int) -> int:
        nonlocal pos
        byte, bit = divmod(pos, 8)
        val = 0
        got = 0
        while got < width:
            if byte >= len(data):
                raise ValueError("GIF: LZW stream truncated")
            take = min(8 - bit, width - got)
            val |= ((data[byte] >> bit) & ((1 << take) - 1)) << got
            got += take
            bit += take
            if bit == 8:
                byte += 1
                bit = 0
        pos = byte * 8 + bit
        return val

    def fresh() -> tuple[list[bytes], int]:
        return [bytes([i]) for i in range(clear)] + [b"", b""], min_code_size + 1

    table, width = fresh()
    prev: bytes | None = None
    while True:
        code = read(width)
        if code == clear:
            table, width = fresh()
            prev = None
            continue
        if code == end:
            return bytes(out)
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # KwKwK: the just-about-to-be-defined code
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"GIF: LZW code {code} beyond table")
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < _MAX_WIDTH:
            width += 1


# ---------------------------------------------------------------------------
# container
# ---------------------------------------------------------------------------


def encode_gif(
    indices: np.ndarray, palette: np.ndarray, interlace: bool = False
) -> bytes:
    """Single-image GIF89a with a global 256-color table.

    ``indices``: (h, w) uint8 palette indices; ``palette``: (256, 3)
    uint8 RGB. ``interlace=True`` writes rows in the 4-pass interlace
    order with the descriptor flag set."""
    h, w = indices.shape
    if palette.shape != (256, 3):
        raise ValueError("GIF: palette must be 256x3")
    head = b"GIF89a" + struct.pack(
        "<HHBBB", w, h, 0xF7, 0, 0  # global table, 8 bpp, 256 entries
    )
    gct = palette.astype(np.uint8).tobytes()
    flags = 0x40 if interlace else 0
    desc = b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, flags)
    rows = indices[_interlace_order(h), :] if interlace else indices
    lzw = lzw_encode(rows.astype(np.uint8).tobytes())
    body = bytearray([_MIN_CODE_SIZE])
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        body += bytes([len(chunk)]) + chunk
    body += b"\x00"  # block terminator
    return head + gct + desc + bytes(body) + b"\x3b"


def decode_gif(payload: bytes) -> np.ndarray:
    """Decode a single-image GIF with a global color table to an
    (h, w, 3) uint8 RGB array. De-interlaces when the flag is set."""
    if payload[:6] not in _GIF_MAGIC:
        raise ValueError("GIF: bad magic")
    sw, sh, packed, _bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    pos = 13
    if not packed & 0x80:
        raise ValueError("GIF: no global color table")
    gct_size = 2 << (packed & 0x07)
    palette = np.frombuffer(
        payload[pos : pos + 3 * gct_size], dtype=np.uint8
    ).reshape(gct_size, 3)
    pos += 3 * gct_size
    while True:
        block = payload[pos]
        if block == 0x2C:  # image descriptor
            break
        if block == 0x21:  # extension: skip sub-blocks
            pos += 2
            while payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if block == 0x3B:
            raise ValueError("GIF: trailer before image data")
        raise NotImplementedError(f"GIF: unsupported block 0x{block:02x}")
    _x, _y, w, h, flags = struct.unpack("<HHHHB", payload[pos + 1 : pos + 10])
    pos += 10
    if flags & 0x80:
        raise NotImplementedError("GIF: local color tables not supported")
    min_code = payload[pos]
    pos += 1
    lzw = bytearray()
    while payload[pos]:
        n = payload[pos]
        lzw += payload[pos + 1 : pos + 1 + n]
        pos += 1 + n
    raw = lzw_decode(bytes(lzw), min_code)
    if len(raw) != w * h:
        raise ValueError(f"GIF: decoded {len(raw)} pixels, expected {w * h}")
    idx = np.frombuffer(raw, dtype=np.uint8).reshape(h, w)
    if flags & 0x40:  # de-interlace
        out = np.empty_like(idx)
        out[_interlace_order(h), :] = idx
        idx = out
    return palette[idx]
