"""Pure-stdlib PNG (8-bit RGB) codec.

No imaging library ships in this environment, but PNG is a simple
published spec (RFC 2083 / ISO 15948), so ``model/evaluation.py`` writes
its ROC/PR curve rasters with ``zlib`` + ``struct`` + numpy, and the
decoder (header parse, inflate, unfiltering of all five scanline filter
types) lets the tests read them back.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


# ---------------------------------------------------------------------------
# PNG (8-bit RGB, color type 2)
# ---------------------------------------------------------------------------


def png_encode(rgb: np.ndarray) -> bytes:
    """Minimal spec-correct PNG writer for (h, w, 3) uint8 arrays:
    IHDR + one zlib IDAT (filter 0 per scanline) + IEND, with CRCs."""
    rgb = np.asarray(rgb, dtype=np.uint8)
    h, w, c = rgb.shape
    assert c == 3, "RGB only"

    def chunk(tag: bytes, body: bytes) -> bytes:
        crc = zlib.crc32(tag + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + rgb[y].tobytes() for y in range(h))
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _unfilter(raw: bytes, w: int, h: int, bpp: int = 3) -> np.ndarray:
    """Reverse PNG scanline filtering (types 0-4 per the spec)."""
    stride = w * bpp
    out = np.zeros((h, stride), dtype=np.uint8)
    pos = 0
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        ftype = raw[pos]
        pos += 1
        line = np.frombuffer(raw[pos : pos + stride], dtype=np.uint8).astype(np.int32)
        pos += stride
        cur = np.zeros(stride, dtype=np.int32)
        if ftype == 0:  # None
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        else:  # Sub / Average / Paeth need the running left pixel
            for i in range(stride):
                a = cur[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                if ftype == 1:  # Sub
                    pred = a
                elif ftype == 3:  # Average
                    pred = (a + b) // 2
                elif ftype == 4:  # Paeth
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                else:
                    raise ValueError(f"unknown PNG filter {ftype}")
                cur[i] = (line[i] + pred) & 0xFF
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out.reshape(h, w, bpp)


def png_decode(payload: bytes) -> np.ndarray:
    """(h, w, 3) uint8 from an 8-bit RGB PNG (the fixture/writer subset)."""
    if payload is None or payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = len(_PNG_SIG)
    w = h = None
    idat = b""
    while pos + 8 <= len(payload):
        length, tag = struct.unpack(">I4s", payload[pos : pos + 8])
        body = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + tag + body + crc
        if tag == b"IHDR":
            w, h, bit_depth, color_type = struct.unpack(">IIBB", body[:10])
            if bit_depth != 8 or color_type != 2:
                raise ValueError("only 8-bit RGB PNGs supported")
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("missing IHDR")
    return _unfilter(zlib.decompress(idat), w, h)


def png_header(payload: bytes) -> dict:
    """width/height/bit_depth/color_type from IHDR without inflating."""
    if payload is None or payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG")
    length, tag = struct.unpack(">I4s", payload[8:16])
    if tag != b"IHDR":
        raise ValueError("IHDR not first chunk")
    w, h, bit_depth, color_type = struct.unpack(">IIBB", payload[16:26])
    return {"width": w, "height": h, "bit_depth": bit_depth, "color_type": color_type}
