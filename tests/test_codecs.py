"""Pure-stdlib PNG codec: round-trip, unfiltering and header parsing."""

import numpy as np
import pytest

from name_matching_spark.functions import codecs


def test_png_roundtrip_exact():
    rng = np.random.default_rng(5)
    for h, w in [(1, 1), (4, 7), (16, 16)]:
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        payload = codecs.png_encode(img)
        assert payload[:8] == b"\x89PNG\r\n\x1a\n"
        back = codecs.png_decode(payload)
        assert np.array_equal(back, img)
        hdr = codecs.png_header(payload)
        assert (hdr["width"], hdr["height"]) == (w, h)
        assert hdr["bit_depth"] == 8 and hdr["color_type"] == 2


def test_png_unfilter_all_types():
    # hand-build a 2x2 image with each filter type and check the spec math
    import struct
    import zlib

    img = np.array([[[10, 20, 30], [40, 50, 60]],
                    [[70, 80, 90], [100, 110, 120]]], dtype=np.uint8)
    # Sub filter on row 0: line = cur - left; Up filter on row 1: cur - prev
    row0 = img[0].astype(np.int32).reshape(-1)
    sub = row0.copy()
    sub[3:] = (row0[3:] - row0[:-3]) % 256
    row1 = img[1].astype(np.int32).reshape(-1)
    up = (row1 - row0) % 256
    raw = b"\x01" + bytes(sub.astype(np.uint8)) + b"\x02" + bytes(up.astype(np.uint8))

    def chunk(tag, body):
        crc = zlib.crc32(tag + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + tag + body + struct.pack(">I", crc)

    payload = (b"\x89PNG\r\n\x1a\n"
               + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
               + chunk(b"IDAT", zlib.compress(raw))
               + chunk(b"IEND", b""))
    assert np.array_equal(codecs.png_decode(payload), img)


def test_codec_rejects_garbage():
    with pytest.raises(ValueError):
        codecs.png_decode(b"not a png at all")
