"""Real media decoders: PNG (zlib inflate + scanline de-filtering,
Adam7) and animated GIF (variable-width LZW, frame composition), plus
the WebDataset shard round trip that carries a PNG member. Only the
Spark-backed GIF query test is a long-tail (``slow``) battery."""

from __future__ import annotations

import pytest


def test_png_roundtrip_all_filters():
    """Encode -> decode inverts for every scanline filter type,
    including the sequential Average/Paeth paths, on non-uniform
    pixels (gradients make filter bugs visible)."""
    import numpy as np

    from sample_for_transactional_datalake_using_s3tables_spark.operators.multimodal import (
        _decode_png,
        encode_png,
    )

    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, size=(9, 11, 3), dtype=np.uint8)
    for filters in [(0,), (1,), (2,), (0, 1, 2)]:
        got = _decode_png(encode_png(px, filters=filters))
        assert (got == px).all(), f"filters={filters}"
    # Average/Paeth: build the filtered stream by hand and decode
    import struct
    import zlib

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    h, w = px.shape[:2]
    for f in (3, 4):
        raw = bytearray()
        prev = np.zeros(w * 3, dtype=np.int64)
        for r in range(h):
            row = px[r].reshape(-1).astype(np.int64)
            filt = np.empty(w * 3, dtype=np.int64)
            for i in range(w * 3):
                a = row[i - 3] if i >= 3 else 0
                b = prev[i]
                if f == 3:
                    filt[i] = (row[i] - (a + b) // 2) % 256
                else:
                    c = prev[i - 3] if i >= 3 else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    filt[i] = (row[i] - pred) % 256
            raw.append(f)
            raw.extend(filt.astype(np.uint8).tobytes())
            prev = row
        from sample_for_transactional_datalake_using_s3tables_spark.operators.multimodal import _PNG_MAGIC

        payload = (
            _PNG_MAGIC
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )
        got = _decode_png(payload)
        assert (got == px).all(), f"filter={f}"


def test_png_greyscale_and_rgba():
    import struct
    import zlib

    import numpy as np

    from sample_for_transactional_datalake_using_s3tables_spark.operators.multimodal import (
        _PNG_MAGIC,
        _decode_png,
    )

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    def build(px, ctype, ch):
        h, w = px.shape[:2]
        raw = bytearray()
        for r in range(h):
            raw.append(0)
            raw.extend(px[r].reshape(-1).tobytes())
        return (
            _PNG_MAGIC
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )

    grey = np.arange(12, dtype=np.uint8).reshape(3, 4, 1)
    got = _decode_png(build(grey, 0, 1))
    assert got.shape == (3, 4, 3) and (got[..., 0] == grey[..., 0]).all()
    rgba = np.random.RandomState(3).randint(0, 256, (3, 4, 4), dtype=np.uint8)
    got = _decode_png(build(rgba, 6, 4))
    assert got.shape == (3, 4, 3) and (got == rgba[..., :3]).all()
    with pytest.raises(ValueError):
        _decode_png(_PNG_MAGIC + b"....")  # no IHDR: parsed, rejected


def test_gif_roundtrip_and_lzw_specials():
    import numpy as np

    from sample_for_transactional_datalake_using_s3tables_spark.operators.multimodal import (
        _lzw_decode,
        decode_gif,
        encode_gif,
    )

    rng = np.random.RandomState(1)
    pal = rng.randint(0, 256, (31, 3), dtype=np.uint8)
    frames = [pal[rng.randint(0, 31, (11, 9))] for _ in range(3)]
    out, delays = decode_gif(encode_gif(frames, delay_cs=6))
    assert len(out) == 3 and delays == [6, 6, 6]
    for a, b in zip(frames, out):
        assert (a == b).all()
    # KwKwK special case: codes [CLEAR=4, 1, 6, EOI=5] at min_code=2,
    # width 3, LSB-first-packed = 0x8C 0x0B -> pixels [1, 1, 1]
    assert bytes(_lzw_decode(bytes([0x8C, 0x0B]), 2)) == b"\x01\x01\x01"


@pytest.mark.slow  # runs a Spark query
def test_gif_frames_query_matches_analytics(spark, sf_dir_small):
    from sample_for_transactional_datalake_using_s3tables_spark.operators.multimodal import (
        multimodal_gif_frames,
    )

    rows = {r.doc_id: r for r in multimodal_gif_frames(spark, sf_dir_small).collect()}
    assert rows
    for d, r in list(rows.items())[:20]:
        nf = d % 5 + 2
        assert r.n_frames == nf
        assert r.n_sampled == (nf + 1) // 2
        assert r.first_mean == float(d % 256)
        assert r.last_mean == float((d + 17 * (nf - 1)) % 256)
        assert r.total_delay_cs == 4 * nf


def test_gif_transparency_delta_frames_and_disposal():
    """Delta-encoded animation: frame 2 is a sub-rect whose transparent
    pixels leave frame 1's canvas showing through; a GCE governs only
    its own image (delay resets); disposal=2 restores the rect to the
    background index before the next frame."""
    import struct

    import numpy as np

    from sample_for_transactional_datalake_using_s3tables_spark.operators.multimodal import (
        _GIF_MIN_CODE,
        _lzw_encode,
        decode_gif,
    )

    pal = np.zeros((256, 3), dtype=np.uint8)
    pal[1] = (10, 10, 10)
    pal[2] = (200, 0, 0)
    pal[3] = (0, 200, 0)

    def img_block(left, top, fw, fh, indices):
        out = bytearray(b"\x2C" + struct.pack("<HHHHB", left, top, fw, fh, 0))
        out.append(_GIF_MIN_CODE)
        stream = _lzw_encode(indices)
        for i in range(0, len(stream), 255):
            b = stream[i : i + 255]
            out.append(len(b))
            out += b
        out.append(0x00)
        return bytes(out)

    def gce(delay, transparent=None, disposal=0):
        flags = (disposal << 2) | (1 if transparent is not None else 0)
        return bytes([0x21, 0xF9, 0x04, flags]) + struct.pack("<H", delay) + bytes(
            [transparent or 0, 0x00]
        )

    payload = (
        b"GIF89a" + struct.pack("<HHBBB", 4, 4, 0xF7, 0, 0) + pal.tobytes()
        + gce(5) + img_block(0, 0, 4, 4, [1] * 16)
        # frame 2: 2x2 delta at (1,1): one opaque red pixel, three transparent
        + gce(7, transparent=0, disposal=2)
        + img_block(1, 1, 2, 2, [2, 0, 0, 0])
        # frame 3: full repaint green, NO gce -> delay must be 0
        + img_block(0, 0, 4, 4, [3] * 16)
        + b"\x3B"
    )
    frames, delays = decode_gif(payload)
    assert delays == [5, 7, 0]
    assert (frames[0] == (10, 10, 10)).all()
    f2 = frames[1]
    assert tuple(f2[1, 1]) == (200, 0, 0)          # opaque delta pixel
    assert tuple(f2[1, 2]) == (10, 10, 10)         # transparent -> prior canvas
    assert tuple(f2[0, 0]) == (10, 10, 10)
    assert (frames[2] == (0, 200, 0)).all()        # full repaint after disposal


def test_gif_local_palettes_with_transparency_compose_in_rgb():
    """Frames carrying DIFFERENT local color tables + transparency:
    show-through pixels must keep the color their OWN frame painted
    (RGB composition), not be recolored through the later frame's
    table -- and a prior-frame index larger than the current local
    table must not matter at all."""
    import struct

    import numpy as np

    from sample_for_transactional_datalake_using_s3tables_spark.operators.multimodal import (
        _GIF_MIN_CODE,
        _lzw_encode,
        decode_gif,
    )

    def img_block(left, top, fw, fh, indices, local_pal=None):
        fp = 0
        tail = b""
        if local_pal is not None:
            # local table flag + size bits for a 2^(n+1)-entry table
            n_entries = len(local_pal)
            size_bits = max(0, n_entries.bit_length() - 2)
            fp = 0x80 | size_bits
            tail = np.asarray(local_pal, dtype=np.uint8).tobytes()
        out = bytearray(
            b"\x2C" + struct.pack("<HHHHB", left, top, fw, fh, fp) + tail
        )
        out.append(_GIF_MIN_CODE)
        stream = _lzw_encode(indices)
        for i in range(0, len(stream), 255):
            b = stream[i : i + 255]
            out.append(len(b))
            out += b
        out.append(0x00)
        return bytes(out)

    def gce(delay, transparent=None):
        flags = 1 if transparent is not None else 0
        return bytes([0x21, 0xF9, 0x04, flags]) + struct.pack(
            "<H", delay
        ) + bytes([transparent or 0, 0x00])

    # frame 1: full 2x2 paint via a 256-entry LOCAL palette where
    # index 200 is RED (an index far beyond frame 2's 4-entry table)
    pal1 = np.zeros((256, 3), dtype=np.uint8)
    pal1[200] = (255, 0, 0)
    # frame 2: 4-entry local palette where index 1 is GREEN; paints only
    # the right column, left column transparent (index 0)
    pal2 = np.array(
        [(0, 0, 0), (0, 255, 0), (9, 9, 9), (7, 7, 7)], dtype=np.uint8
    )
    payload = (
        b"GIF89a" + struct.pack("<HHBBB", 2, 2, 0x00, 0, 0)  # no global table
        + gce(3) + img_block(0, 0, 2, 2, [200] * 4, local_pal=pal1)
        + gce(4, transparent=0)
        + img_block(0, 0, 2, 2, [0, 1, 0, 1], local_pal=pal2)
        + b"\x3B"
    )
    frames, delays = decode_gif(payload)
    assert delays == [3, 4]
    assert (frames[0] == (255, 0, 0)).all()
    f2 = frames[1]
    # transparent pixels show frame 1's RED, not pal2[200 % 4] garbage
    assert tuple(f2[0, 0]) == (255, 0, 0)
    assert tuple(f2[1, 0]) == (255, 0, 0)
    assert tuple(f2[0, 1]) == (0, 255, 0)
    assert tuple(f2[1, 1]) == (0, 255, 0)


def test_gif_opaque_index_beyond_table_raises():
    import struct

    import numpy as np

    from sample_for_transactional_datalake_using_s3tables_spark.operators.multimodal import (
        _GIF_MIN_CODE,
        _lzw_encode,
        decode_gif,
    )
    import pytest

    pal = np.zeros((4, 3), dtype=np.uint8)  # 4-entry global table
    out = bytearray(b"GIF89a" + struct.pack("<HHBBB", 2, 2, 0x81, 0, 0))
    out += pal.tobytes()
    out += b"\x2C" + struct.pack("<HHHHB", 0, 0, 2, 2, 0)
    out.append(_GIF_MIN_CODE)
    stream = _lzw_encode([9, 0, 0, 0])  # 9 >= 4-entry table
    out.append(len(stream))
    out += stream
    out += b"\x00\x3B"
    with pytest.raises(ValueError, match="color table"):
        decode_gif(bytes(out))


def test_png_adam7_interlaced_roundtrip():
    """Adam7-interlaced PNG: each of the seven passes is its own
    filtered sub-image; the decoder must de-filter per pass and
    scatter on the pass grid. Built here with mixed per-row filters
    (None/Sub/Up) inside passes."""
    import struct
    import zlib

    import numpy as np

    from sample_for_transactional_datalake_using_s3tables_spark.operators.multimodal import (
        _ADAM7,
        _decode_png,
        _PNG_MAGIC,
    )

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    def build_interlaced(px):
        h, w = px.shape[:2]
        ch = 1 if px.ndim == 2 else px.shape[2]
        flat = px.reshape(h, w, ch)
        raw = bytearray()
        for pi, (x0, y0, dx, dy) in enumerate(_ADAM7):
            sub = flat[y0::dy, x0::dx]
            if sub.size == 0:
                continue
            ph, pw = sub.shape[:2]
            for r in range(ph):
                row = sub[r].reshape(-1).astype(np.int64)
                f = (pi + r) % 3  # rotate None/Sub/Up filters
                if f == 0:
                    enc = row
                elif f == 1:  # Sub
                    left = np.zeros_like(row)
                    left[ch:] = row[:-ch]
                    enc = (row - left) % 256
                else:  # Up
                    up = (
                        sub[r - 1].reshape(-1).astype(np.int64)
                        if r else np.zeros_like(row)
                    )
                    enc = (row - up) % 256
                raw.append(f)
                raw += bytes(enc.astype(np.uint8))
        ctype = {1: 0, 3: 2, 4: 6}[ch]
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 1)
        return (
            _PNG_MAGIC + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )

    rng = np.random.RandomState(11)
    for shape in [(9, 13, 3), (16, 16, 3), (7, 5), (3, 3, 4), (1, 10, 3)]:
        px = rng.randint(0, 256, shape, dtype=np.uint8)
        got = _decode_png(build_interlaced(px))
        want = px if px.ndim == 3 else np.repeat(px[..., None], 3, axis=2)
        want = want[..., :3]
        assert got.shape == want.shape and (got == want).all(), shape


def test_gif_interlaced_frame_deinterlaces():
    import struct

    import numpy as np

    from sample_for_transactional_datalake_using_s3tables_spark.operators.multimodal import (
        _GIF_MIN_CODE,
        _lzw_encode,
        decode_gif,
    )

    rng = np.random.RandomState(2)
    h, w = 11, 6
    img = rng.randint(0, 64, (h, w), dtype=np.uint8)
    # store rows in GIF interlace pass order
    order = (
        list(range(0, h, 8)) + list(range(4, h, 8))
        + list(range(2, h, 4)) + list(range(1, h, 2))
    )
    stored = img[order].reshape(-1)
    pal = np.zeros((256, 3), dtype=np.uint8)
    pal[:64, 0] = np.arange(64)  # index i -> (i, 0, 0)
    out = bytearray(b"GIF89a" + struct.pack("<HHBBB", w, h, 0xF7, 0, 0))
    out += pal.tobytes()
    out += b"\x2C" + struct.pack("<HHHHB", 0, 0, w, h, 0x40)  # interlace flag
    out.append(_GIF_MIN_CODE)
    stream = _lzw_encode(list(stored))
    for i in range(0, len(stream), 255):
        b = stream[i:i + 255]
        out.append(len(b))
        out += b
    out += b"\x00\x3B"
    frames, _ = decode_gif(bytes(out))
    assert (frames[0][..., 0] == img).all()
    assert (frames[0][..., 1:] == 0).all()


def test_webdataset_shards_round_trip_png_members():
    """The ``multimodal_webdataset`` stages without Spark: a tar shard
    built from a pandas frame streams back three members per sample,
    and the constant grey PNG decodes to its exact mean."""
    import pandas as pd

    from sample_for_transactional_datalake_using_s3tables_spark.operators.multimodal import (
        _build_shard_batches,
        _parse_shard_batches,
    )

    docs = pd.DataFrame(
        {"doc_id": [0, 7, 121, 250], "text": ["a", "bb", "", "caf\u00e9"]}
    )
    shard = _build_shard_batches((3,), docs)
    assert list(shard["shard_id"]) == [3]
    out = pd.concat(list(_parse_shard_batches(iter([shard]))))
    assert sorted(out["doc_id"]) == [0, 7, 121, 250]
    for r in out.itertuples():
        assert r.n_files == 3
        assert r.jpg_mean == (r.doc_id % 120) * 2 + 8
        assert r.meta_ok
