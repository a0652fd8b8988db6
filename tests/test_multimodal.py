"""Multimodal contract tests. The Spark-side contracts — Arrow
batching, generator fan-out, BYTE-based partition sizing for binary
payloads — are pinned here, plus the REAL pure-stdlib codecs (PNG
unfilter vectors incl. Adam7, WAV/AVI RIFF round-trips, hand-built
JPEG and GIF bitstreams, baseline TIFF incl. PackBits); the remaining
codecs (TIFF's multi-codec container beyond baseline gray + PackBits,
arithmetic-coded JPEG, H.264-class video) are waived on SCOPE — each
a large standalone decoder — and remain a declared stub."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from n2khab_mhq_data_spark.llmdata.multimodal import (
    decode_image,
    extract_frame_meta,
)


def test_decode_stub_fails_loud_without_fake():
    # unrecognized magic (here: a corrupt PNG prefix that fails the full
    # 8-byte magic, and a made-up container) must fail loud through the
    # stub; recognized-but-malformed magics route to their REAL decoders
    # whose contract is ValueError
    with pytest.raises(NotImplementedError, match="codec not implemented"):
        decode_image(b"\x89PNG....")
    with pytest.raises(NotImplementedError, match="codec not implemented"):
        decode_image(b"XXXX....")
    # BMP is REAL as of r10: its magic now routes to decode_bmp, whose
    # malformed-input contract is ValueError, not the stub
    with pytest.raises(ValueError, match="not a BMP payload"):
        decode_image(b"BM......")
    # TIFF is REAL as of r11: II/MM magics route to decode_tiff
    with pytest.raises(ValueError, match="TIFF"):
        decode_image(b"II*\x00....")


def test_payload_bytes_drive_partition_sizing(spark, tmp_path):
    """The scale contract from llmdata/multimodal.py's docstring: binary
    payloads dominate partition size, so spark.sql.files.maxPartitionBytes
    must split the scan by BYTES, not row count — 200 rows of ~64 KiB
    incompressible payload must fan out to many input partitions under a
    1 MiB cap and collapse to few under the default cap, with identical
    extraction output either way."""
    rng = np.random.RandomState(11)
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(200, dtype=np.int64),
            "payload": [rng.bytes(64 * 1024) for _ in range(200)],
        }
    )
    path = str(tmp_path / "payloads.parquet")
    spark.createDataFrame(pdf).write.parquet(path)

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 20))
        small_cap = spark.read.parquet(path)
        n_small = small_cap.rdd.getNumPartitions()
        meta_small = sorted(
            (r.doc_id, r.n_bytes, r.n_frames)
            for r in extract_frame_meta(small_cap, fake=True).collect()
        )
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(512 << 20))
        big_cap = spark.read.parquet(path)
        n_big = big_cap.rdd.getNumPartitions()
        meta_big = sorted(
            (r.doc_id, r.n_bytes, r.n_frames)
            for r in extract_frame_meta(big_cap, fake=True).collect()
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)

    # ~12.8 MiB of payload: a 1 MiB cap must split it byte-wise
    assert n_small >= 8, (n_small, n_big)
    assert n_small > n_big
    assert meta_small == meta_big
    assert all(nb == 64 * 1024 for _, nb, _ in meta_small)


def test_cdc_chunks_reference_and_locality(spark):
    """CDC invariants: chunks tile the payload exactly; lengths respect
    [min, max] (final chunk may undershoot); identical payloads chunk
    identically; and — the property fixed-size chunking lacks — a byte
    inserted at the FRONT leaves the chunk digests after the next content
    boundary unchanged (edit locality)."""
    from n2khab_mhq_data_spark.llmdata.multimodal import cdc_chunks

    import random

    rng = random.Random(3)
    base = bytes(rng.randrange(256) for _ in range(4000))
    edited = b"X" + base
    df = spark.createDataFrame(
        [(1, bytearray(base)), (2, bytearray(base)), (3, bytearray(edited))],
        "doc_id long, payload binary",
    )
    rows = cdc_chunks(df, mask=0x3F, min_len=16, max_len=512).collect()
    by_doc = {}
    for r in sorted(rows, key=lambda r: (r.doc_id, r.chunk_idx)):
        by_doc.setdefault(r.doc_id, []).append(r)

    for did, payload in ((1, base), (2, base), (3, edited)):
        cs = by_doc[did]
        assert cs[0].offset == 0
        for a, b in zip(cs, cs[1:]):
            assert b.offset == a.offset + a.n_bytes  # exact tiling
        assert sum(c.n_bytes for c in cs) == len(payload)
        assert all(c.n_bytes <= 512 for c in cs)
        assert all(c.n_bytes >= 16 for c in cs[:-1])

    # adversarial clamp stress: a tight [12, 24] window over a dense
    # boundary mask forces many max_len cuts whose NEXT candidate falls
    # inside (max_len, max_len + min_len) — the gap where the naive walk
    # emitted sub-min mid-chunks
    tight = cdc_chunks(df, mask=0xF, min_len=12, max_len=24).collect()
    per = {}
    for r in sorted(tight, key=lambda r: (r.doc_id, r.chunk_idx)):
        per.setdefault(r.doc_id, []).append(r)
    for did, payload in ((1, base), (3, edited)):
        cs = per[did]
        assert sum(c.n_bytes for c in cs) == len(payload)
        assert all(12 <= c.n_bytes <= 24 for c in cs[:-1])
        assert cs[-1].n_bytes <= 24

    # determinism: identical payloads -> identical digest sequences
    assert [c.chunk_md5 for c in by_doc[1]] == [c.chunk_md5 for c in by_doc[2]]
    # locality: after the first boundary, doc 3's digests realign with
    # doc 1's (suffix of digest sequences matches)
    d1 = [c.chunk_md5 for c in by_doc[1]]
    d3 = [c.chunk_md5 for c in by_doc[3]]
    assert len(set(d1) & set(d3)) >= len(d1) - 2
    assert d1[-1] == d3[-1]


def _png_from_scanlines(w, h, ctype, scanlines):
    """Build a spec-valid PNG from pre-filtered scanline bytes."""
    import struct
    import zlib

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(scanlines)))
        + chunk(b"IEND", b"")
    )


def test_png_decode_all_filter_types():
    """Unfilter reference vectors for Sub/Up/Average/Paeth, computed by
    hand per the PNG spec (RFC 2083 §6), must reconstruct exactly."""
    import numpy as np

    from n2khab_mhq_data_spark.llmdata.multimodal import decode_png

    # 4px-wide grayscale rows. Row 0: filter 1 (Sub): raw = [10,5,5,5]
    #   -> recon = [10,15,20,25]
    # Row 1: filter 2 (Up): raw = [1,1,1,1] -> recon = [11,16,21,26]
    # Row 2: filter 3 (Average): raw r=[4,4,4,4], left a, up b:
    #   p0 = 4 + (0+11)//2 = 9; p1 = 4+(9+16)//2 = 16;
    #   p2 = 4+(16+21)//2 = 22; p3 = 4+(22+26)//2 = 28
    # Row 3: filter 4 (Paeth): raw = [2,2,2,2]:
    #   p0: pred = paeth(0,9,0)=9 -> 11; p1: paeth(11,16,9)->11? compute:
    #   p=11+16-9=18, pa=7,pb=2,pc=9 -> b=16 -> 18;
    #   p2: a=18,b=22,c=16: p=24, pa=6,pb=2,pc=8 -> b=22 -> 24;
    #   p3: a=24,b=28,c=22: p=30, pa=6,pb=2,pc=8 -> b=28 -> 30
    png = _png_from_scanlines(
        4, 4, 0,
        [
            b"\x01" + bytes([10, 5, 5, 5]),
            b"\x02" + bytes([1, 1, 1, 1]),
            b"\x03" + bytes([4, 4, 4, 4]),
            b"\x04" + bytes([2, 2, 2, 2]),
        ],
    )
    want = np.array(
        [
            [10, 15, 20, 25],
            [11, 16, 21, 26],
            [9, 16, 22, 28],
            [11, 18, 24, 30],
        ],
        dtype=np.uint8,
    )
    assert (decode_png(png) == want).all()


def test_png_decode_rgb_and_modular_wrap():
    """ctype 2 (RGB): the left neighbour for Sub is CH bytes back, and
    uint8 arithmetic wraps mod 256."""
    import numpy as np

    from n2khab_mhq_data_spark.llmdata.multimodal import decode_png

    # 2x2 RGB; row 0 filter 1: first pixel raw, second = delta from
    # first (250 + 10 = 260 -> 4 mod 256)
    png = _png_from_scanlines(
        2, 2, 2,
        [
            b"\x01" + bytes([250, 20, 30, 10, 10, 10]),
            b"\x02" + bytes([6, 236, 226, 0, 0, 0]),
        ],
    )
    img = decode_png(png)
    assert img.shape == (2, 2, 3)
    assert img[0].tolist() == [[250, 20, 30], [4, 30, 40]]
    # row 1 = row 0 + up-deltas mod 256: 250+6=0, 20+236=0, 30+226=0
    assert img[1].tolist() == [[0, 0, 0], [4 + 0, 30 + 0, 40 + 0]]


def test_png_wav_roundtrip_property():
    import numpy as np

    from n2khab_mhq_data_spark.llmdata.multimodal import (
        decode_png,
        decode_wav,
        encode_png,
        encode_wav,
    )

    rng = np.random.RandomState(3)
    for _ in range(5):
        h, w = rng.randint(1, 24), rng.randint(1, 24)
        img = rng.randint(0, 256, (h, w)).astype(np.uint8)
        assert (decode_png(encode_png(img)) == img).all()
        n = rng.randint(1, 300)
        s = rng.randint(-32768, 32768, n).astype(np.int16)
        rate, back = decode_wav(encode_wav(s, 44100))
        assert rate == 44100 and (back == s).all()


def test_jpeg_decode_hand_built_bitstream():
    """A minimal baseline JPEG assembled BYTE BY HAND (independent of
    the encoder) must decode to the expected constant block.

    One 8x8 block, value 130: DC = 8*(130-128) = 16, category 5,
    amplitude bits 10000. Huffman tables declare ONE symbol each at
    code length 1 (code '0'): DC symbol 5, AC symbol 0x00 (EOB).
    Entropy bits: DC code '0' + '10000' + EOB '0' -> 0100000, 1-padded
    to 0x41."""
    import numpy as np

    from n2khab_mhq_data_spark.llmdata.jpeg import decode_jpeg

    def seg(marker, body):
        return bytes([0xFF, marker, (len(body) + 2) >> 8,
                      (len(body) + 2) & 0xFF]) + body

    dqt = seg(0xDB, b"\x00" + bytes([1] * 64))
    sof = seg(0xC0, bytes([8, 0, 8, 0, 8, 1, 1, 0x11, 0]))
    dht = seg(
        0xC4,
        b"\x00" + bytes([1] + [0] * 15) + bytes([5])       # DC: sym 5 @ len 1
        + b"\x11" + bytes([1] + [0] * 15) + bytes([0x00]),  # AC: EOB @ len 1
    )
    sos = seg(0xDA, bytes([1, 1, 0x01, 0, 63, 0]))
    raw = b"\xff\xd8" + dqt + sof + dht + sos + b"\x41" + b"\xff\xd9"
    img = decode_jpeg(raw)
    assert img.shape == (8, 8)
    assert (img == np.full((8, 8), 130, dtype=np.uint8)).all()


def test_jpeg_decode_single_ac_coefficient():
    """Hand-built stream with ONE AC coefficient: after the DC (0),
    the AC symbol (run=1, size=1) with amplitude bit 1 puts value +1 at
    zigzag index 2, i.e. S(1,0) — vertical half-cosine. Pins the zigzag
    order and the run-length skip independently of the encoder."""
    import math

    import numpy as np

    from n2khab_mhq_data_spark.llmdata.jpeg import decode_jpeg

    def seg(marker, body):
        return bytes([0xFF, marker, (len(body) + 2) >> 8,
                      (len(body) + 2) & 0xFF]) + body

    dqt = seg(0xDB, b"\x00" + bytes([1] * 64))
    sof = seg(0xC0, bytes([8, 0, 8, 0, 8, 1, 1, 0x11, 0]))
    # DC table: symbol 0 (zero diff) @ len 1; AC: symbols 0x00 (EOB)
    # and 0x11 (run 1, size 1) @ len 2 -> codes '00' = EOB, '01' = 0x11
    dht = seg(
        0xC4,
        b"\x00" + bytes([1] + [0] * 15) + bytes([0])
        + b"\x11" + bytes([0, 2] + [0] * 14) + bytes([0x00, 0x11]),
    )
    sos = seg(0xDA, bytes([1, 1, 0x01, 0, 63, 0]))
    # bits: DC '0'; AC '01' + amplitude '1'; EOB '00' -> 001100 + pad 11
    raw = b"\xff\xd8" + dqt + sof + dht + sos + bytes([0b00110011]) + b"\xff\xd9"
    img = decode_jpeg(raw).astype(float)
    # expected: IDCT of S with S[1,0] = 1 -> f(x,y) = 0.5*cos((2y+1)pi/16)
    # per spec orientation: zigzag index 2 is row u=1, col v=0 of S, the
    # vertical frequency -> varies along y (rows)
    for y in range(8):
        want = 128 + 0.5 * math.cos((2 * y + 1) * math.pi / 16)
        got = img[y, 0]
        assert abs(got - round(want)) <= 1, (y, got, want)
    # constant along x
    assert (img == img[:, :1]).all()


def test_jpeg_roundtrips():
    import numpy as np

    from n2khab_mhq_data_spark.llmdata.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(7)
    # exact: block-constant images (the oracle-query payload shape)
    for _ in range(4):
        vals = rng.randint(0, 256, (rng.randint(1, 4), rng.randint(1, 4)))
        img = np.kron(vals, np.ones((8, 8), dtype=int)).astype(np.uint8)
        assert (decode_jpeg(encode_jpeg(img)) == img).all()
    # near-lossless at Q=1 for arbitrary images, incl. non-multiple-of-8
    for _ in range(4):
        img = rng.randint(
            0, 256, (rng.randint(3, 30), rng.randint(3, 30))
        ).astype(np.uint8)
        dec = decode_jpeg(encode_jpeg(img))
        assert dec.shape == img.shape
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= 3
    # arithmetic-coded streams fail loud, not silently wrong
    # (progressive SOF2 is SUPPORTED since r9 — see
    # test_jpeg_progressive_agrees_with_baseline)
    import pytest

    with pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8\xff\xc9\x00\x04\x00\x00")


def test_jpeg_color_roundtrips():
    """Baseline COLOR: 4:2:0 interleaved MCU scan with per-component
    DC predictors. Exact for MCU-aligned block-constant planes (the
    oracle-query payload shape), near-lossless at Q=1 for arbitrary
    planes and odd dimensions, and the RGB conversion matches the
    documented floor(x+0.5) formula."""
    import numpy as np

    from n2khab_mhq_data_spark.llmdata.jpeg import (
        decode_jpeg,
        encode_jpeg_color,
        ycbcr_to_rgb,
    )

    rng = np.random.RandomState(11)
    ones = np.ones((8, 8), dtype=int)
    for _ in range(4):
        mh, mw = rng.randint(1, 4), rng.randint(1, 4)
        y = np.kron(rng.randint(0, 256, (2 * mh, 2 * mw)), ones)
        cb = np.kron(rng.randint(0, 256, (mh, mw)), ones)
        cr = np.kron(rng.randint(0, 256, (mh, mw)), ones)
        dy, dcb, dcr = decode_jpeg(encode_jpeg_color(y, cb, cr))
        assert (dy == y).all()
        assert (dcb == np.repeat(np.repeat(cb, 2, 0), 2, 1)).all()
        assert (dcr == np.repeat(np.repeat(cr, 2, 0), 2, 1)).all()
    # odd dims: decoder crops the padded MCU grid back to (h, w)
    for _ in range(3):
        h, w = rng.randint(3, 40), rng.randint(3, 40)
        ch, cw = (h + 1) // 2, (w + 1) // 2
        y = rng.randint(0, 256, (h, w))
        cb = rng.randint(0, 256, (ch, cw))
        cr = rng.randint(0, 256, (ch, cw))
        dy, dcb, dcr = decode_jpeg(encode_jpeg_color(y, cb, cr))
        assert dy.shape == (h, w) and dcb.shape == (h, w)
        assert np.abs(dy.astype(int) - y).max() <= 3
    # RGB formula: hand-check one pixel against the documented math
    y1 = np.array([[100]], dtype=np.uint8)
    cb1 = np.array([[200]], dtype=np.uint8)
    cr1 = np.array([[50]], dtype=np.uint8)
    r, g, b = ycbcr_to_rgb(y1, cb1, cr1)
    assert r[0, 0] == max(0, int(np.floor(100 + 1.402 * (50 - 128) + 0.5)))
    assert b[0, 0] == min(
        255, int(np.floor(100 + 1.772 * (200 - 128) + 0.5))
    )


def test_avi_mjpeg_roundtrip_and_alignment():
    """RIFF mux/demux: frames come back byte-identical, odd-length
    chunks are word-padded per RIFF (the next chunk header must stay
    aligned), fps survives, and a frameless AVI fails loud."""
    import pytest

    from n2khab_mhq_data_spark.llmdata.jpeg import (
        decode_avi_mjpeg,
        encode_avi_mjpeg,
    )

    # deliberately odd-length payloads exercise the pad byte on every
    # chunk boundary
    frames = [b"a", b"abc", b"abcde", b"even", b"x" * 7]
    avi = encode_avi_mjpeg(frames, fps=24, width=2, height=2)
    fps, back = decode_avi_mjpeg(avi)
    assert fps == 24
    assert back == frames
    with pytest.raises(ValueError, match="no video frames"):
        decode_avi_mjpeg(encode_avi_mjpeg([], fps=10))
    with pytest.raises(ValueError, match="not an AVI"):
        decode_avi_mjpeg(b"RIFFxxxxWAVE")


def test_decode_image_real_tier_sniffing():
    """decode_image must route each magic to its real decoder: PNG,
    WAV, baseline JPEG, MJPEG-AVI — and report the right metadata."""
    import numpy as np

    from n2khab_mhq_data_spark.llmdata.jpeg import (
        encode_avi_mjpeg,
        encode_jpeg,
    )
    from n2khab_mhq_data_spark.llmdata.multimodal import (
        decode_image,
        encode_png,
        encode_wav,
    )

    img = np.full((16, 8), 77, dtype=np.uint8)
    m = decode_image(encode_png(img))
    assert (m["format"], m["width"], m["height"]) == ("png", 8, 16)
    m = decode_image(encode_wav(np.zeros(30, dtype=np.int16), 8000))
    assert (m["format"], m["n_frames"], m["sample_rate"]) == (
        "wav", 30, 8000,
    )
    m = decode_image(encode_jpeg(img))
    assert (m["format"], m["width"], m["height"]) == ("jpeg", 8, 16)
    m = decode_image(
        encode_avi_mjpeg([encode_jpeg(img)] * 3, fps=10, width=8, height=16)
    )
    assert (m["format"], m["n_frames"], m["fps"]) == ("avi/mjpeg", 3, 10)


def test_codecs_fail_loud_on_truncation_and_corruption():
    """Decoders must raise on truncated or bit-flipped payloads — never
    hang, loop, or return a silently wrong image. Every truncation
    point of each format and a sweep of single-byte corruptions must
    produce an exception (any ValueError/struct/zlib error class), with
    bounded runtime."""
    import numpy as np

    from n2khab_mhq_data_spark.llmdata.jpeg import (
        decode_avi_mjpeg,
        decode_jpeg,
        encode_avi_mjpeg,
        encode_jpeg,
    )
    from n2khab_mhq_data_spark.llmdata.multimodal import (
        decode_png,
        decode_wav,
        encode_png,
        encode_wav,
    )

    from n2khab_mhq_data_spark.llmdata.gif import decode_gif, encode_gif

    rng = np.random.RandomState(13)
    img = rng.randint(0, 256, (16, 16)).astype(np.uint8)
    jpg = encode_jpeg(img)
    payloads = [
        (decode_png, encode_png(img)),
        (decode_wav, encode_wav(np.arange(50, dtype=np.int16), 8000)),
        (decode_jpeg, jpg),
        (decode_avi_mjpeg, encode_avi_mjpeg([jpg, jpg], fps=5)),
        (decode_gif, encode_gif(img)),
    ]
    for dec, full in payloads:
        # sanity: the intact payload decodes
        dec(full)
        # truncations: every prefix either raises or (for container
        # formats whose tail is padding) still decodes — but must not
        # hang; decoding a prefix may legitimately succeed only if the
        # result equals the full decode
        for cut in range(0, len(full), max(1, len(full) // 37)):
            try:
                dec(full[:cut])
            except Exception:
                continue
        # single-byte corruption sweep: flip a byte at many offsets;
        # outcome must be an exception or a *decoded* result — never a
        # hang (runtime is the assertion; pytest would time out)
        for off in range(0, len(full), max(1, len(full) // 53)):
            bad = bytearray(full)
            bad[off] ^= 0xA5
            try:
                dec(bytes(bad))
            except Exception:
                continue


def test_gif_decode_hand_packed_bitstream():
    """A minimal GIF87a assembled by hand (independent of the encoder)
    must decode to the expected pixels.

    2x1 image [5, 9]: LZW codes CLEAR(256), 5, 9, EOI(257), all at
    width 9 (the decoder's one table add leaves next_free=259 < 512).
    LSB-first packing is expressed as one integer to_bytes — a
    different code path from the codec's incremental bit writer."""
    import numpy as np

    from n2khab_mhq_data_spark.llmdata.gif import decode_gif

    lzw = (256 | (5 << 9) | (9 << 18) | (257 << 27)).to_bytes(5, "little")
    gif = bytearray(b"GIF87a")
    gif += (2).to_bytes(2, "little") + (1).to_bytes(2, "little")
    gif += bytes([0xF7, 0, 0])  # global table, 256 entries
    for i in range(256):
        gif += bytes((i, i, i))
    # image descriptor: left 0, top 0, w=2, h=1, no local table
    gif += b"\x2c"
    gif += (0).to_bytes(2, "little") + (0).to_bytes(2, "little")
    gif += (2).to_bytes(2, "little") + (1).to_bytes(2, "little")
    gif += bytes([0])
    gif += bytes([8])  # LZW min code size
    gif += bytes([len(lzw)]) + lzw + b"\x00"  # one sub-block
    gif += b"\x3b"
    img = decode_gif(bytes(gif))
    assert img.shape == (1, 2)
    assert img.tolist() == [[5, 9]]


def test_gif_roundtrips_and_width_growth():
    import numpy as np

    from n2khab_mhq_data_spark.llmdata.gif import decode_gif, encode_gif

    rng = np.random.RandomState(21)
    for _ in range(5):
        img = rng.randint(
            0, 256, (rng.randint(1, 50), rng.randint(1, 50))
        ).astype(np.uint8)
        assert (decode_gif(encode_gif(img)) == img).all()
    # large image: forces width growth through 10/11/12 bits and a
    # CLEAR/reset mid-stream; constant region exercises KwKwK
    big = np.tile(np.arange(256, dtype=np.uint8), (80, 30))
    big[:20] = 9
    assert (decode_gif(encode_gif(big)) == big).all()
    # dispatch integration
    m = decode_image(encode_gif(big))
    assert (m["format"], m["width"], m["height"]) == ("gif", 7680, 80)


def test_gif_lzw_full_table_boundary():
    # noise fills the string table ~1 entry/pixel: 128x128 forces the
    # 4096-entry table to fill and CLEAR multiple times, so the encoder's
    # delayed-reset path (code 4095 assignable AND emittable before the
    # CLEAR) round-trips against the decoder's lagged table
    import numpy as np

    from n2khab_mhq_data_spark.llmdata.gif import decode_gif, encode_gif

    rng = np.random.RandomState(4095)
    noise = rng.randint(0, 256, (128, 128)).astype(np.uint8)
    assert (decode_gif(encode_gif(noise)) == noise).all()
    # repeating block right as the table refills targets the KwKwK case
    # near the 12-bit boundary
    mix = np.vstack([noise[:96], np.tile(noise[0], (32, 1))])
    assert (decode_gif(encode_gif(mix)) == mix).all()


def test_image_dhash_groups_planted_duplicates(spark):
    from pyspark.sql import functions as F

    from n2khab_mhq_data_spark.llmdata.multimodal import (
        image_dhash,
        png_payloads,
    )

    docs = spark.range(30).select(F.col("id").alias("doc_id"))
    h = image_dhash(png_payloads(docs, key_mod=10))
    rows = {r.doc_id: r.dhash for r in h.collect()}
    # doc_id % 10 keys byte-identical images -> identical hashes
    for i in range(30):
        assert rows[i] == rows[i % 10]
    # 10 distinct planted images -> hashes non-negative, under 2^56
    assert all(0 <= v < (1 << 56) for v in rows.values())


def test_image_dhash_flips_on_pixel_change(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    from n2khab_mhq_data_spark.llmdata.multimodal import (
        encode_png,
        image_dhash,
    )
    import numpy as np

    base = (np.arange(64, dtype=np.uint8).reshape(8, 8) * 3) % 256
    tweaked = base.copy()
    tweaked[0, :4] = 255  # strong local gradient flip
    df = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2, 3],
             "payload": [encode_png(base), encode_png(base),
                         encode_png(tweaked)]}
        )
    )
    got = {r.doc_id: r.dhash for r in image_dhash(df).collect()}
    assert got[1] == got[2]
    assert got[1] != got[3]


def test_dhash_near_pairs_pigeonhole_complete(spark):
    from n2khab_mhq_data_spark.llmdata.multimodal import dhash_near_pairs

    base = 0x00FA_CADE_0B0E_55
    rows = [
        (1, base),
        (2, base ^ 0b11),          # hamming 2 (one band touched)
        (3, base ^ (1 << 55)),     # hamming 1 in the TOP band
        (4, base ^ 0x5555),        # hamming 8 spread -> candidate via
                                   # shared high bands, verify rejects
        (5, 0),                    # far away entirely
    ]
    df = spark.createDataFrame(rows, "doc_id long, dhash long")
    got = {(r.doc_a, r.doc_b): r.hamming
           for r in dhash_near_pairs(df, bands=4, max_hamming=2).collect()}
    assert got[(1, 2)] == 2
    assert got[(1, 3)] == 1
    assert (2, 3) not in got        # hamming 3 > max_hamming
    assert (1, 4) not in got        # verify rejects spread diff
    assert all(5 not in pair for pair in got)


def test_dhash_near_pairs_first_band_equals_distinct(spark):
    """r11 opt: the first-agreeing-band ownership filter must emit
    exactly the pair set of the old candidate distinct() — one row per
    qualifying pair even when the pair agrees on SEVERAL bands (equal
    hashes agree on all four)."""
    from n2khab_mhq_data_spark.llmdata.multimodal import dhash_near_pairs

    base = 0x00FA_CADE_0B0E_55
    rows = [
        (1, base),
        (2, base),                 # identical: agrees on ALL 4 bands
        (3, base ^ 1),             # hamming 1: agrees on bands 1-3
        (4, base ^ (0b11 << 14)),  # hamming 2 in band 1: agrees 0,2,3
    ]
    df = spark.createDataFrame(rows, "doc_id long, dhash long")
    out = dhash_near_pairs(df, bands=4, max_hamming=2).collect()
    pairs = [(r.doc_a, r.doc_b) for r in out]
    # every qualifying pair exactly once (no duplicates from the
    # multi-band agreements), hamming exact
    assert sorted(pairs) == [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4)
    ]  # (3,4) is a candidate via bands 2-3 but hamming 3 > 2
    assert len(pairs) == len(set(pairs))
    ham = {(r.doc_a, r.doc_b): r.hamming for r in out}
    assert ham[(1, 2)] == 0 and ham[(1, 3)] == 1 and ham[(1, 4)] == 2


def test_grouped_payload_memo_is_byte_identical(spark):
    """r11 opt: the per-task memo + group-key spread in the grouped
    payload generators must be invisible — payload bytes identical to
    an independent per-row encode."""
    import numpy as np
    from pyspark.sql import functions as F

    from n2khab_mhq_data_spark.llmdata.multimodal import (
        encode_png,
        png_payloads,
    )

    docs = spark.range(60).select(F.col("id").alias("doc_id"))
    got = {
        r.doc_id: bytes(r.payload)
        for r in png_payloads(
            docs, key_div=10, perturb=True, textured=True
        ).collect()
    }
    for did in range(60):
        k = did // 10
        w, h = 8 + k % 5, 8 + k % 3
        r = np.arange(h)[:, None]
        c = np.arange(w)[None, :]
        img = (k + 37 * r * r + 73 * c * c + 11 * r * c) % 256
        if did % 2:
            img = img.copy()
            img[0, 0] = (img[0, 0] + 200) % 256
        assert got[did] == encode_png(img), did


def test_codec_wrappers_keep_schema_and_fanout(spark):
    """Every codec wrapper maps rows through one mapInPandas primitive:
    an empty input still yields the declared DDL schema (Arrow casts the
    plain row values, no per-column pandas dtypes), and a fan-out
    generator emits one row per returned tuple."""
    from n2khab_mhq_data_spark.llmdata.multimodal import (
        bmp_payloads,
        bmp_stats,
        image_stats,
        png_payloads,
    )

    docs = spark.range(6).select(F.col("id").alias("doc_id"))
    empty = docs.filter("doc_id < 0")
    payloads = png_payloads(empty)
    stats = image_stats(payloads)
    assert payloads.collect() == [] and stats.collect() == []
    assert payloads.schema.simpleString() == (
        "struct<doc_id:bigint,payload:binary>"
    )
    assert stats.schema.simpleString() == (
        "struct<doc_id:bigint,width:int,height:int,n_px:bigint,"
        "mean_luma:double,max_luma:int>"
    )

    fanned = bmp_payloads(docs)
    assert fanned.schema.simpleString() == (
        "struct<doc_id:bigint,kind:string,payload:binary>"
    )
    assert sorted((r.doc_id, r.kind) for r in fanned.collect()) == [
        (i, k) for i in range(6) for k in ("bgr24", "pal8")
    ]
    assert len(bmp_stats(fanned).collect()) == 12


def test_truncated_payloads_fail_the_spark_action(spark):
    """A malformed binary payload must fail the Spark action with the
    decoder's own ValueError: no row comes back and nothing is
    swallowed, even when the batch also holds a valid payload."""
    from pyspark.errors import PythonException

    from n2khab_mhq_data_spark.llmdata.jpeg import encode_jpeg
    from n2khab_mhq_data_spark.llmdata.multimodal import (
        encode_png,
        image_stats,
        jpeg_stats,
    )

    img = (np.arange(256).reshape(16, 16) % 256).astype(np.uint8)
    jpg, png = encode_jpeg(img), encode_png(img)
    cases = [
        (jpeg_stats, jpg, jpg[:-3], "JPEG entropy stream truncated"),
        (image_stats, png, png[:12], "PNG missing IHDR"),
    ]
    for stats, good, truncated, message in cases:
        df = spark.createDataFrame(
            [(1, good), (2, truncated)], "doc_id long, payload binary"
        )
        with pytest.raises(PythonException) as err:
            stats(df).collect()
        assert f"ValueError: {message}" in str(err.value)


def test_audio_fingerprint_groups_planted_duplicates(spark):
    from pyspark.sql import functions as F

    from n2khab_mhq_data_spark.llmdata.multimodal import (
        audio_fingerprint,
        wav_payloads_grouped,
    )

    docs = spark.range(40).select(F.col("id").alias("doc_id"))
    fp = audio_fingerprint(wav_payloads_grouped(docs, key_div=10))
    got = {r.doc_id: r.fingerprint for r in fp.collect()}
    for i in range(40):
        assert got[i] == got[(i // 10) * 10]  # same clip -> same print
    assert all(0 <= v < (1 << 15) for v in got.values())


def test_jpeg_progressive_agrees_with_baseline():
    """Progressive (SOF2) and baseline (SOF0) entropy codings of the
    SAME quantized coefficients must decode bit-identically — this
    exercises the full T.81 G.1/G.2 machinery: DC first/refine scans,
    split AC bands with EOBRUN, one-bit AC refinement with buffered
    correction bits, interleaved DC + non-interleaved AC block order,
    and (via quant) rich EOB-run diversity."""
    import numpy as np

    from n2khab_mhq_data_spark.llmdata.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_color,
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(3)
    for _ in range(12):
        h, w = rng.randint(3, 50), rng.randint(3, 50)
        img = rng.randint(0, 256, (h, w)).astype(np.uint8)
        assert (
            decode_jpeg(encode_jpeg_progressive(img))
            == decode_jpeg(encode_jpeg(img))
        ).all()
    for _ in range(6):
        h, w = rng.randint(3, 40), rng.randint(3, 40)
        y = rng.randint(0, 256, (h, w))
        cb = rng.randint(0, 256, ((h + 1) // 2, (w + 1) // 2))
        cr = rng.randint(0, 256, ((h + 1) // 2, (w + 1) // 2))
        b3 = decode_jpeg(encode_jpeg_color(y, cb, cr))
        p3 = decode_jpeg(encode_jpeg_progressive(y, cb, cr))
        for a, b in zip(p3, b3):
            assert (a == b).all()
    # a real quant table zeroes most ACs -> long EOB runs + refinement
    qt = list(range(1, 65))
    for _ in range(6):
        h, w = rng.randint(3, 40), rng.randint(3, 40)
        img = rng.randint(0, 256, (h, w)).astype(np.uint8)
        assert (
            decode_jpeg(encode_jpeg_progressive(img, quant=qt))
            == decode_jpeg(encode_jpeg(img, quant=qt))
        ).all()
    # block-constant color stays exact through the progressive path
    ones = np.ones((8, 8), dtype=int)
    y = np.kron(rng.randint(0, 256, (6, 4)), ones)
    cb = np.kron(rng.randint(0, 256, (3, 2)), ones)
    cr = np.kron(rng.randint(0, 256, (3, 2)), ones)
    dy, dcb, dcr = decode_jpeg(encode_jpeg_progressive(y, cb, cr))
    assert (dy == y).all()
    assert (dcb == np.repeat(np.repeat(cb, 2, 0), 2, 1)).all()
    assert (dcr == np.repeat(np.repeat(cr, 2, 0), 2, 1)).all()


def test_jpeg_restart_intervals_roundtrip():
    """DRI/RSTm resync (T.81 F.1.2.3/F.2.1.3.1): encodes with restart
    intervals — byte-aligned 1-padded segments, cyclic RST markers,
    DC predictors reset per interval — must decode bit-identically to
    the unsegmented stream, including intervals that do not divide the
    MCU count."""
    import numpy as np

    from n2khab_mhq_data_spark.llmdata.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_color,
    )

    rng = np.random.RandomState(5)
    for ri in (1, 3, 7):
        h, w = rng.randint(9, 60), rng.randint(9, 60)
        img = rng.randint(0, 256, (h, w)).astype(np.uint8)
        assert (
            decode_jpeg(encode_jpeg(img, restart_interval=ri))
            == decode_jpeg(encode_jpeg(img))
        ).all(), (ri, h, w)
    for ri in (1, 2):
        h, w = rng.randint(17, 50), rng.randint(17, 50)
        y = rng.randint(0, 256, (h, w))
        cb = rng.randint(0, 256, ((h + 1) // 2, (w + 1) // 2))
        cr = rng.randint(0, 256, ((h + 1) // 2, (w + 1) // 2))
        a3 = decode_jpeg(encode_jpeg_color(y, cb, cr))
        b3 = decode_jpeg(
            encode_jpeg_color(y, cb, cr, restart_interval=ri)
        )
        for a, b in zip(a3, b3):
            assert (a == b).all(), (ri, h, w)


def test_gif89a_animation_compositing():
    """Animated GIF89a: GCE delays survive, sub-rect frames composite
    left-in-place, transparent pixels keep the prior composite, and
    disposal 2 restores the touched rect to the background before the
    next frame. Hand-derived expectations per the GIF89a spec."""
    import numpy as np

    from n2khab_mhq_data_spark.llmdata.gif import (
        decode_gif_frames,
        encode_gif,
        encode_gif_frames,
    )

    rng = np.random.RandomState(4)
    f0 = rng.randint(0, 256, (8, 16)).astype(np.uint8)
    p1 = rng.randint(0, 256, (4, 6)).astype(np.uint8)
    raw = encode_gif_frames(
        [f0, p1], [10, 4], canvas=(8, 16), offsets=[(0, 0), (2, 4)]
    )
    delays, frames = decode_gif_frames(raw)
    assert delays == [10, 4]
    want1 = f0.copy()
    want1[2:6, 4:10] = p1
    assert (frames[0] == f0).all() and (frames[1] == want1).all()

    # transparency: value-7 pixels show through to what is beneath
    hole = p1.copy()
    hole[1, 2] = 7
    raw = encode_gif_frames(
        [f0, hole], [1, 2], canvas=(8, 16), offsets=[(0, 0), (2, 4)],
        transparent=7,
    )
    _, fr2 = decode_gif_frames(raw)
    w0 = f0.copy()
    w0[f0 == 7] = 0  # frame 0's own 7s show the (black) background
    m = hole != 7
    exp1 = w0.copy()
    exp1[2:6, 4:10][m] = hole[m]
    assert (fr2[0] == w0).all() and (fr2[1] == exp1).all()

    # disposal 2: the patch rect is restored to background before the
    # next frame, so frame 2 shows bg (0) in frame 1's rect
    raw = bytearray(
        encode_gif_frames(
            [f0, p1, p1], [1, 1, 1], canvas=(8, 16),
            offsets=[(0, 0), (2, 4), (0, 8)],
        )
    )
    # rewrite frame 1's GCE disposal bits (flags byte: 0x04 -> 0x08)
    gce_positions = [
        i for i in range(len(raw) - 2)
        if raw[i] == 0x21 and raw[i + 1] == 0xF9
    ]
    raw[gce_positions[1] + 3] = 0x08  # disposal 2, no transparency
    delays3, fr3 = decode_gif_frames(bytes(raw))
    want2 = f0.copy()
    want2[2:6, 4:10] = p1        # frame 1 composite
    assert (fr3[1] == want2).all()
    want3 = f0.copy()
    want3[2:6, 4:10] = 0         # disposal 2 wiped frame 1's rect
    want3[0:4, 8:14] = p1        # frame 2's own patch
    assert (fr3[2] == want3).all()

    # single-frame 87a flows through the animation API
    d, fr = decode_gif_frames(encode_gif(f0))
    assert d == [0] and (fr[0] == f0).all()


def test_g711_known_codepoints_and_roundtrip():
    """G.711 expansion pinned against the published extreme/zero code
    points (mu-law 0x00 -> -32124, 0xFF -> 0; A-law 0x2A -> -32256,
    0x55 -> -8, 0xD5 -> +8), plus a WAV container round trip for both
    laws and the unsupported-shape guard."""
    import numpy as np
    import pytest as _pytest

    from n2khab_mhq_data_spark.llmdata.multimodal import (
        decode_wav,
        encode_wav_g711,
        g711_expand,
    )

    assert g711_expand([0x00], "mulaw")[0] == -32124
    assert g711_expand([0xFF], "mulaw")[0] == 0
    assert g711_expand([0x7F], "mulaw")[0] == 0
    assert g711_expand([0x2A], "alaw")[0] == -32256
    assert g711_expand([0x55], "alaw")[0] == -8
    assert g711_expand([0xD5], "alaw")[0] == 8
    codes = (np.arange(256)).astype(np.uint8)
    for law in ("mulaw", "alaw"):
        rate, pcm = decode_wav(encode_wav_g711(codes, 8000, law))
        assert rate == 8000 and len(pcm) == 256
        assert (pcm == g711_expand(codes, law)).all()
        # expansion is monotone within each sign half's segments: the
        # all-codes decode must cover the full dynamic range
        assert pcm.min() < -30000 and pcm.max() > 30000
    with _pytest.raises(ValueError, match="unsupported WAV shape"):
        # format tag 2 (ADPCM) stays a declared unsupported shape
        bad = bytearray(encode_wav_g711(codes, 8000, "mulaw"))
        bad[20] = 2
        decode_wav(bytes(bad))


def test_gif_interlace_local_tables_disposal3():
    """r10 GIF tier: four-pass interlace scatter, per-image LOCAL color
    tables (permuted, no global table), disposal 3 restore-to-previous,
    and the malformed-input ValueError contract (truncation, background
    index outside the table, sub-rect outside the logical screen,
    mismatched encode lengths)."""
    import struct

    import numpy as np
    import pytest

    from n2khab_mhq_data_spark.llmdata.gif import (
        decode_gif,
        decode_gif_frames,
        encode_gif,
        encode_gif_frames,
        interlace_order,
    )

    rng = np.random.RandomState(10)
    # interlace scatter: row permutation is a bijection at every height,
    # including heights that leave later passes empty (h < 5, h < 3)
    for h in (1, 2, 4, 5, 6, 8, 9, 13, 17):
        assert sorted(interlace_order(h)) == list(range(h))
        img = rng.randint(0, 256, (h, 7)).astype(np.uint8)
        assert (decode_gif(encode_gif(img, interlace=True)) == img).all()
    # local color table: stored indices map through the permuted table;
    # the animation API composites through the same palette
    pal = [(181 * k + 7) % 256 for k in range(256)]
    idx = rng.randint(0, 256, (9, 11)).astype(np.uint8)
    want = np.array(pal, dtype=np.uint8)[idx]
    assert (decode_gif(encode_gif(idx, local_palette=pal)) == want).all()
    raw = encode_gif(idx, interlace=True, local_palette=pal)
    assert (decode_gif(raw) == want).all()
    _, fr = decode_gif_frames(raw)
    assert len(fr) == 1 and (fr[0] == want).all()

    # disposal 3: frame 2's patch draws onto the RESTORED pre-frame-1
    # canvas, not onto frame 1's patch
    base = rng.randint(0, 256, (8, 16)).astype(np.uint8)
    p1 = np.full((4, 6), 99, dtype=np.uint8)
    p2 = np.full((4, 6), 50, dtype=np.uint8)
    raw = bytearray(
        encode_gif_frames(
            [base, p1, p2], [1, 2, 3], canvas=(8, 16),
            offsets=[(0, 0), (2, 4), (2, 4)],
        )
    )
    gces = [
        i for i in range(len(raw) - 2)
        if raw[i] == 0x21 and raw[i + 1] == 0xF9
    ]
    raw[gces[1] + 3] = (raw[gces[1] + 3] & ~0x1C) | (3 << 2)
    _, fr = decode_gif_frames(bytes(raw))
    w1 = base.copy(); w1[2:6, 4:10] = 99
    w2 = base.copy(); w2[2:6, 4:10] = 50  # NOT stacked on top of 99
    assert (fr[1] == w1).all() and (fr[2] == w2).all()

    # malformed inputs raise ValueError, never IndexError/broadcast
    good = encode_gif(base)
    for bad in (good[:20], good[:-5]):
        with pytest.raises(ValueError):
            decode_gif_frames(bad)
    # an OUT-OF-RANGE background index must be tolerated, not rejected:
    # GIMP-class encoders write junk bg bytes when no frame exposes the
    # background, and real decoders render such files (the r9 ADVICE
    # hazard was the numpy IndexError, not the file). Hand-built GIF:
    # 4-entry global table, bg byte 200, full-canvas 2x2 frame.
    from n2khab_mhq_data_spark.llmdata.gif import _lzw_encode, _sub_blocks

    oor = bytearray(b"GIF87a")
    oor += struct.pack("<HHBBB", 2, 2, 0x81, 200, 0)  # 4-entry table
    for p in (10, 20, 30, 40):
        oor += bytes((p, p, p))
    oor += b"\x2c" + struct.pack("<HHHHB", 0, 0, 2, 2, 0)
    oor.append(8)  # min_code (decoder honors the stream's value)
    oor += _sub_blocks(bytes(_lzw_encode([0, 1, 2, 3])))
    oor += b"\x3b"
    _, frames_oor = decode_gif_frames(bytes(oor))
    assert (frames_oor[0] == np.array([[10, 20], [30, 40]])).all()
    r = bytearray(encode_gif_frames([p1], [1], canvas=(4, 6)))
    di = r.index(b"\x2c", 13 + 768)  # image descriptor, after palette
    struct.pack_into("<HH", r, di + 1, 5, 3)  # rect now off-screen
    with pytest.raises(ValueError):
        decode_gif_frames(bytes(r))
    with pytest.raises(ValueError):
        encode_gif_frames([base, p1], [1])  # mismatched delay count


def test_bmp_roundtrip_and_guards():
    """r10 BMP tier: 8-bit palettized and 24-bit BGR round-trips across
    padding-relevant widths, bottom-up AND top-down row order (verified
    against a position-weighted checksum, since mean/max cannot see a
    missed flip), BT.601 integer luminance for color pixels, and the
    malformed-input ValueError contract."""
    import numpy as np
    import pytest

    from n2khab_mhq_data_spark.llmdata.bmp import decode_bmp, encode_bmp
    from n2khab_mhq_data_spark.llmdata.multimodal import decode_image

    rng = np.random.RandomState(11)
    for w in (1, 2, 3, 4, 5, 6, 7, 8):  # every stride-padding residue
        for td in (False, True):
            g = rng.randint(0, 256, (5, w)).astype(np.uint8)
            assert (decode_bmp(encode_bmp(g, top_down=td)) == g).all()
            pal = [(149 * k + 3) % 256 for k in range(256)]
            idx = rng.randint(0, 256, (5, w)).astype(np.uint8)
            out = decode_bmp(encode_bmp(idx, palette=pal, top_down=td))
            assert (out == np.array(pal, dtype=np.uint8)[idx]).all()
    # color: BT.601 integer luminance, exact on the integer grid
    rgb = rng.randint(0, 256, (6, 5, 3)).astype(np.uint8)
    r, g, b = (rgb[:, :, k].astype(np.int64) for k in range(3))
    want = ((299 * r + 587 * g + 114 * b + 500) // 1000).astype(np.uint8)
    assert (decode_bmp(encode_bmp(rgb)) == want).all()
    assert (decode_bmp(encode_bmp(rgb, top_down=True)) == want).all()
    # a bottom-up payload whose rows differ MUST decode differently when
    # the height sign is flipped (guards against an ignored flip)
    stripes = np.arange(4 * 20, dtype=np.uint8).reshape(4, 20) % 251
    up = decode_bmp(encode_bmp(stripes))
    assert (up == stripes).all() and not (up == up[::-1]).all()
    # decode_image dispatch
    m = decode_image(encode_bmp(stripes))
    assert m["format"] == "bmp" and (m["width"], m["height"]) == (20, 4)
    # malformed inputs
    good = encode_bmp(stripes)
    for bad in (b"XX" + good[2:], good[:30], good[:-7]):
        with pytest.raises(ValueError):
            decode_bmp(bad)
    hacked = bytearray(good)
    hacked[30] = 1  # biCompression = BI_RLE8
    with pytest.raises(ValueError):
        decode_bmp(bytes(hacked))


def test_bmp_rle_roundtrip_and_escapes():
    """r10 BMP RLE tier: BI_RLE8/BI_RLE4 round-trips (runs, EOL, EOB,
    nibble packing, bottom-up order) plus hand-built streams for the
    decoder-side features the encoder never emits — absolute mode with
    word-alignment padding (both depths) and delta skips (skipped
    pixels read as index 0) — and the truncation ValueError contract."""
    import struct

    import numpy as np
    import pytest

    from n2khab_mhq_data_spark.llmdata.bmp import decode_bmp, encode_bmp_rle

    rng = np.random.RandomState(12)
    pal = [(149 * k + 3) % 256 for k in range(256)]
    lut = np.array(pal, dtype=np.uint8)
    for w in (1, 2, 3, 5, 8, 13):
        for h in (1, 2, 4, 7):
            idx = (rng.randint(0, 8, (h, w)) * 31 % 256).astype(np.uint8)
            out = decode_bmp(encode_bmp_rle(idx, pal, bits=8))
            assert (out == lut[idx]).all(), ("rle8", w, h)
            idx4 = rng.randint(0, 16, (h, w)).astype(np.uint8)
            out = decode_bmp(encode_bmp_rle(idx4, pal, bits=4))
            assert (out == lut[idx4]).all(), ("rle4", w, h)

    # hand-built stream: run + absolute + EOL + delta + run + EOB
    table = b"".join(bytes((p, p, p, 0)) for p in range(256))
    off = 14 + 40 + len(table)

    def bmp(body: bytes, w: int, h: int, bits: int) -> bytes:
        comp = 1 if bits == 8 else 2
        hdr = b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
        hdr += struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, bits, comp, len(body),
            0, 0, 256, 0,
        )
        return hdr + table + body

    body = bytes(
        (3, 7)                      # run 7,7,7
        + (0, 4, 1, 2, 3, 4)        # absolute 4 px (word-aligned)
        + (0, 0)                    # end of line
        + (0, 2, 2, 1)              # delta: +2 right, +1 up
        + (2, 9)                    # run 9,9
        + (0, 1)                    # end of bitmap
    )
    out = decode_bmp(bmp(body, 8, 4, 8))
    want = np.zeros((4, 8), dtype=np.uint8)
    want[3, 0:3] = 7
    want[3, 3:7] = [1, 2, 3, 4]
    want[1, 2:4] = 9  # delta left the skipped pixels at index 0
    assert (out == want).all()

    # odd-count absolute mode consumes its padding byte (RLE8)
    out = decode_bmp(bmp(bytes((0, 3, 5, 6, 7, 0, 0, 1)), 4, 1, 8))
    assert (out == np.array([[5, 6, 7, 0]], dtype=np.uint8)).all()
    # RLE4 absolute: 5 nibbles = 3 data bytes + 1 alignment pad
    out = decode_bmp(
        bmp(bytes((0, 5, 0x12, 0x34, 0x50, 0x00, 0, 1)), 6, 1, 4)
    )
    assert (out == np.array([[1, 2, 3, 4, 5, 0]], dtype=np.uint8)).all()
    # truncation and bounds violations raise ValueError
    with pytest.raises(ValueError):
        decode_bmp(bmp(body, 8, 4, 8)[:-3])
    with pytest.raises(ValueError):
        decode_bmp(bmp(bytes((9, 1, 0, 1)), 4, 1, 8))  # run wider than w
    # ADVICE r10: zero-dim input must fail loud at ENCODE time (it used
    # to emit a payload decode_bmp itself rejects)
    from n2khab_mhq_data_spark.llmdata.bmp import encode_bmp

    for shape in ((0, 5), (5, 0), (0, 0)):
        z = np.zeros(shape, dtype=np.uint8)
        with pytest.raises(ValueError):
            encode_bmp_rle(z, pal, bits=8)
        with pytest.raises(ValueError):
            encode_bmp(z, palette=pal)
        with pytest.raises(ValueError):
            encode_bmp(z)


def test_decompression_bomb_guards():
    """r11 adversarial review: hostile header dims must fail as
    ValueError BEFORE the canvas allocation (a 65535 x 65535 claim is
    4 GiB — sparse RLE/GIF streams are legal, so stream length cannot
    bound the canvas), and a hostile LZW stream must be cut off the
    moment its output exceeds the declared pixel count (LZW expansion
    is ~quadratic in input bytes)."""
    import struct

    import numpy as np
    import pytest

    from n2khab_mhq_data_spark.llmdata.bmp import decode_bmp, encode_bmp_rle
    from n2khab_mhq_data_spark.llmdata.gif import (
        _lzw_decode,
        decode_gif,
        decode_gif_frames,
        encode_gif,
    )

    # BMP: take a valid 2x2 RLE8 payload and inflate the header dims
    pal = list(range(256))
    good = bytearray(
        encode_bmp_rle(np.array([[1, 2], [3, 4]], np.uint8), pal)
    )
    struct.pack_into("<ii", good, 18, 60000, 60000)  # biWidth, biHeight
    with pytest.raises(ValueError, match="decompression-bomb"):
        decode_bmp(bytes(good))

    # GIF: inflate the image-descriptor dims of a valid single frame
    g = bytearray(encode_gif(np.array([[1, 2], [3, 4]], np.uint8)))
    ipos = 13 + 3 * 256  # header + screen descriptor + global table
    assert g[ipos] == 0x2C  # image descriptor introducer
    struct.pack_into("<HH", g, ipos + 5, 60000, 60000)  # image w, h
    with pytest.raises(ValueError, match="decompression-bomb"):
        decode_gif(bytes(g))
    # ... and the logical-screen dims for the animation canvas
    g2 = bytearray(encode_gif(np.array([[1, 2], [3, 4]], np.uint8)))
    struct.pack_into("<HH", g2, 6, 60000, 60000)
    with pytest.raises(ValueError, match="decompression-bomb"):
        decode_gif_frames(bytes(g2))

    # LZW: repeated max-length dictionary hits expand far past the
    # declared max_out -> loud cutoff, not GiB of driver memory
    from n2khab_mhq_data_spark.llmdata.gif import _lzw_encode

    data = _lzw_encode([7] * 100_000)
    assert len(_lzw_decode(bytes(data), 8)) == 100_000
    with pytest.raises(ValueError, match="exceeds declared pixel count"):
        _lzw_decode(bytes(data), 8, max_out=64)


def test_ima_adpcm_expand_and_wav_roundtrip():
    """r10 ADPCM tier: the published IMA expansion pinned by a
    hand-computed vector (pred=0, index=0, nibbles [2, 9] ->
    [3, 2] with index clamped at 0), predictor saturation clamps at
    both rails, WAV tag-0x11 container round-trip (initial predictor is
    sample 0, low-nibble-first packing), and the malformed-input
    contract."""
    import numpy as np
    import pytest

    from n2khab_mhq_data_spark.llmdata.multimodal import (
        decode_wav,
        encode_wav_adpcm,
        ima_expand,
    )

    assert ima_expand([2, 9], 0, 0).tolist() == [3, 2]
    rate, s = decode_wav(encode_wav_adpcm([2, 9, 15, 0], 100, 5, 8000))
    assert rate == 8000 and s[0] == 100 and len(s) == 5
    assert np.array_equal(s[1:], ima_expand([2, 9, 15, 0], 100, 5))
    assert ima_expand([7] * 200, 32000, 88).max() == 32767
    assert ima_expand([15] * 200, -32000, 88).min() == -32768
    with pytest.raises(ValueError):
        encode_wav_adpcm([1, 2, 3], 0, 0)  # odd nibble count
    with pytest.raises(ValueError):
        encode_wav_adpcm([1, 2], 0, 89)  # index out of range
    good = encode_wav_adpcm([2, 9], 0, 0)
    bad = bytearray(good)
    bad[bad.index(b"data") + 8 + 2] = 89  # corrupt the block's index
    with pytest.raises(ValueError):
        decode_wav(bytes(bad))


def test_ima_adpcm_multiblock():
    """ADVICE r10: a foreign multi-block ADPCM WAV must decode each
    nBlockAlign stride with ITS OWN header state (the old single-block
    walk decoded garbage past block 1), and the fact chunk must trim
    tail padding / fail loud when it overclaims."""
    import struct

    import numpy as np
    import pytest

    from n2khab_mhq_data_spark.llmdata.multimodal import (
        decode_wav,
        ima_expand,
    )

    def block(pred, idx, nibs):
        packed = bytes(
            (nibs[k] & 15) | ((nibs[k + 1] & 15) << 4)
            for k in range(0, len(nibs), 2)
        )
        return struct.pack("<hBB", pred, idx, 0) + packed

    blocks = [(100, 5, [2, 9, 15, 0]), (-200, 30, [7, 7, 1, 14])]
    data = b"".join(block(*b) for b in blocks)
    ba = 6  # 4-byte header + 2 packed bytes per block
    n_samples = 10  # (1 + 4) per block

    def wav(fact_n):
        fmt = struct.pack(
            "<HHIIHHHH", 0x11, 1, 8000, 8000 * ba // 5, ba, 4, 2, 5
        )
        fact = struct.pack("<I", fact_n)
        body = (
            b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"fact" + struct.pack("<I", len(fact)) + fact
            + b"data" + struct.pack("<I", len(data)) + data
        )
        return b"RIFF" + struct.pack("<I", len(body)) + body

    rate, s = decode_wav(wav(n_samples))
    want = np.concatenate(
        [
            np.concatenate(
                [np.array([p], dtype=np.int16), ima_expand(nb, p, i)]
            )
            for p, i, nb in blocks
        ]
    )
    assert rate == 8000 and np.array_equal(s, want)
    # fact trims tail padding samples of the last block
    assert np.array_equal(decode_wav(wav(n_samples - 1))[1], want[:-1])
    # fact overclaiming what the blocks hold fails loud
    with pytest.raises(ValueError):
        decode_wav(wav(n_samples + 1))
    # truncated final block fails loud
    trunc = wav(n_samples)
    trunc = trunc.replace(data, data[:-3])
    trunc = (
        trunc[: trunc.index(b"data") + 4]
        + struct.pack("<I", len(data) - 3)
        + trunc[trunc.index(b"data") + 8 :]
    )
    with pytest.raises(ValueError):
        decode_wav(trunc)


def test_png_adam7_roundtrip_and_guards():
    """r11 Adam7 tier: interlaced round-trips across sizes that exercise
    empty passes (1x1 transmits only pass 1; 8x8 fills all seven), a
    hand-pinned scatter check, and the malformed-input contract."""
    import struct

    import numpy as np
    import pytest

    from n2khab_mhq_data_spark.llmdata.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(5)
    for h, w in ((1, 1), (1, 8), (8, 1), (2, 3), (5, 5), (8, 8), (9, 17)):
        a = rng.randint(0, 256, (h, w)).astype(np.uint8)
        assert (decode_png(encode_png(a, interlace=True)) == a).all(), (h, w)
        assert (decode_png(encode_png(a)) == a).all()
    # hand-pinned: in a 2x2 image the Adam7 stream is pass1=[p00],
    # pass6=[p01], pass7=[p10 p11] -> scatter must place each back
    a = np.array([[10, 20], [30, 40]], np.uint8)
    assert (decode_png(encode_png(a, interlace=True)) == a).all()
    # truncated IDAT fails loud (scanline length mismatch)
    good = bytearray(encode_png(np.zeros((4, 4), np.uint8), interlace=True))
    import zlib

    short = zlib.compress(b"\x00" * 5)  # wrong payload size
    # rebuild with a bogus IDAT
    from n2khab_mhq_data_spark.llmdata.multimodal import _PNG_MAGIC

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 1)
    bad = (
        _PNG_MAGIC + chunk(b"IHDR", ihdr) + chunk(b"IDAT", short)
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        decode_png(bad)
    # hostile header dims fail before allocation (shared bomb guard)
    ihdr = struct.pack(">IIBBBBB", 60000, 60000, 8, 0, 0, 0, 0)
    bomb = (
        _PNG_MAGIC + chunk(b"IHDR", ihdr) + chunk(b"IDAT", short)
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="decompression-bomb"):
        decode_png(bomb)


def test_tiff_roundtrip_and_guards():
    """r11 TIFF tier: baseline-gray round-trips over both byte orders x
    strip layouts x compression, the TIFF 6.0 PackBits spec vector, the
    -128 noop, and the malformed-input contract (truncated strips,
    out-of-scope shapes, bomb dims, PackBits overrun)."""
    import struct

    import numpy as np
    import pytest

    from n2khab_mhq_data_spark.llmdata.tiff import (
        decode_tiff,
        encode_tiff,
        packbits_decode,
        packbits_encode,
    )

    rng = np.random.RandomState(11)
    for h, w in ((1, 1), (2, 5), (7, 3), (16, 13)):
        a = rng.randint(0, 256, (h, w)).astype(np.uint8)
        for bo in ("<", ">"):
            for rps in (None, 1, 3):
                for pb in (False, True):
                    out = decode_tiff(
                        encode_tiff(
                            a, byte_order=bo, rows_per_strip=rps,
                            packbits=pb,
                        )
                    )
                    assert (out == a).all(), (h, w, bo, rps, pb)

    # TIFF 6.0 spec's published PackBits example round-trips
    spec = bytes.fromhex(
        "aaaaaa80008aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"
    )
    assert packbits_decode(packbits_encode(spec), len(spec)) == spec
    # -128 is a noop the decoder must skip
    assert packbits_decode(b"\x80\x00\x41", 1) == b"A"
    # overrun and truncation fail loud
    with pytest.raises(ValueError):
        packbits_decode(b"\x03AB", 4)  # literal of 4 but only 2 bytes
    with pytest.raises(ValueError):
        packbits_decode(b"\xfeZ", 1)  # run of 3 overruns expect=1

    good = encode_tiff(
        np.arange(24, dtype=np.uint8).reshape(4, 6), rows_per_strip=2
    )
    with pytest.raises(ValueError):
        decode_tiff(good[:-10])  # IFD truncated (it sits at the end)
    with pytest.raises(ValueError):
        decode_tiff(b"XX" + good[2:])  # bad byte-order mark
    # hostile dims: patch ImageWidth/ImageLength SHORT values
    bad = bytearray(good)
    # find the width tag (256) in the IFD and inflate both dims
    (ifd_off,) = struct.unpack_from("<I", bad, 4)
    (n,) = struct.unpack_from("<H", bad, ifd_off)
    for k in range(n):
        e = ifd_off + 2 + 12 * k
        tag, typ, cnt = struct.unpack_from("<HHI", bad, e)
        if tag in (256, 257):
            struct.pack_into("<H", bad, e + 8, 60000)
    with pytest.raises(ValueError, match="decompression-bomb"):
        decode_tiff(bytes(bad))
    # out-of-scope: LZW compression id fails with the scope message
    bad2 = bytearray(good)
    for k in range(n):
        e = ifd_off + 2 + 12 * k
        tag, typ, cnt = struct.unpack_from("<HHI", bad2, e)
        if tag == 259:
            struct.pack_into("<H", bad2, e + 8, 5)  # LZW
    with pytest.raises(ValueError, match="unsupported TIFF compression"):
        decode_tiff(bytes(bad2))
    # encoder refuses what it can't round-trip
    with pytest.raises(ValueError):
        encode_tiff(np.zeros((0, 4), np.uint8))
    with pytest.raises(ValueError):
        encode_tiff(np.zeros((2, 2), np.uint8), byte_order="x")
    # hostile cnt=0 on a required tag: ValueError (missing tag), never
    # an IndexError from an empty value list (r11 review)
    bad3 = bytearray(good)
    for k in range(n):
        e = ifd_off + 2 + 12 * k
        tag, typ, cnt = struct.unpack_from("<HHI", bad3, e)
        if tag == 256:
            struct.pack_into("<I", bad3, e + 4, 0)
    with pytest.raises(ValueError, match="missing required tag"):
        decode_tiff(bytes(bad3))
    # tall-thin beyond SHORT range: RowsPerStrip rides a LONG tag, so
    # a 70000x1 default-strip image round-trips (r11 review)
    tall = np.arange(70000, dtype=np.uint8).reshape(70000, 1) % 256
    assert (decode_tiff(encode_tiff(tall)) == tall).all()


def test_codec_property_roundtrips():
    """Hypothesis property pass over the r11 codecs: ANY uint8 array
    must round-trip through Adam7 PNG, every TIFF layout, and raw
    PackBits — the hand-vector tests pin known shapes, this pins the
    shapes nobody thought of (the §5 property-test discipline)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from hypothesis.extra.numpy import arrays

    import numpy as np

    from n2khab_mhq_data_spark.llmdata.multimodal import (
        decode_png,
        encode_png,
    )
    from n2khab_mhq_data_spark.llmdata.tiff import (
        decode_tiff,
        encode_tiff,
        packbits_decode,
        packbits_encode,
    )

    @settings(max_examples=25, deadline=None)
    @given(
        arrays(
            np.uint8,
            st.tuples(
                st.integers(1, 24), st.integers(1, 24)
            ),
        ),
        st.sampled_from(["<", ">"]),
        st.integers(1, 9),
        st.booleans(),
    )
    def tiff_prop(a, bo, rps, pb):
        out = decode_tiff(
            encode_tiff(a, byte_order=bo, rows_per_strip=rps, packbits=pb)
        )
        assert (out == a).all()

    @settings(max_examples=25, deadline=None)
    @given(
        arrays(
            np.uint8,
            st.tuples(
                st.integers(1, 24), st.integers(1, 24)
            ),
        ),
        st.booleans(),
    )
    def png_prop(a, interlace):
        assert (decode_png(encode_png(a, interlace=interlace)) == a).all()

    @settings(max_examples=50, deadline=None)
    @given(st.binary(min_size=0, max_size=600))
    def pb_prop(data):
        assert packbits_decode(packbits_encode(data), len(data)) == data

    tiff_prop()
    png_prop()
    pb_prop()
