"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

Every encode/decode wrapper below hands a per-row function to one
primitive, :func:`_map_rows` — the module's only ``mapInPandas`` call.
It owns the Spark side: the batch loop, assembling each output batch
from the plain row tuples the function returns, and the DDL schema
Arrow casts those values to. Payload generators map an id to payload
rows (after :func:`_spread_ids` spreads the ids over the session's
cores); decoders map a payload row to statistic rows. Fan-out is just
several tuples per input row. A decoder's error on a truncated or
corrupt payload propagates and fails the task — nothing is caught.
:func:`_bounded_memo` is the one per-task cache, used only where a task
sees repeated keys: the grouped planted-duplicate generators and the
hash decoders that read their output.

Decode support comes in two tiers. PNG (sequential + Adam7
interlaced), WAV (PCM16 + G.711
mu-law/A-law + IMA ADPCM incl. multi-block), GIF (87a + animated 89a
incl. interlace, local color
tables, and disposal 0-3), BMP (8-bit palettized + 24-bit BGR, both
row orders, plus BI_RLE8/BI_RLE4 run-length incl. absolute mode and
delta skips), TIFF (baseline 8-bit gray, II and MM byte orders,
multi-strip, uncompressed + PackBits), JPEG (baseline grayscale and
color, progressive, restart intervals), and MJPEG-in-AVI video decode
is REAL and pure stdlib/numpy (zlib inflate + scanline unfilter incl.
the seven-pass Adam7 scatter;
RIFF/PCM16/G.711 parse; GIF-LZW + GCE compositing + deinterlace;
BITMAPINFOHEADER walk; IFD tag walk + PackBits RLE; canonical-Huffman +
IDCT incl. progressive scan reassembly; RIFF AVI demux — see
``decode_png`` / ``decode_wav`` here and ``llmdata/jpeg.py`` /
``llmdata/gif.py`` / ``llmdata/bmp.py`` / ``llmdata/tiff.py``), with
matching encoders/muxers
so the registered
queries build spec-valid payloads and hash-check the decoded
statistics against arithmetic oracles (IMA ADPCM's stateful
recursion is walked by a recursive-CTE oracle). The remaining codecs
(TIFF beyond baseline gray + PackBits — the multi-codec container:
LZW, JPEG-in-TIFF, tiles, planar color — arithmetic-coded JPEG,
H.264/MP4-class video) are ALSO pure logic in principle — the
honest waiver is SCOPE, not library-necessity: each is a large
standalone engineering effort, and they remain STUBBED:
``decode_image`` raises NotImplementedError for unrecognized
magic unless ``fake=True``, in which case a deterministic fake decoder
derives metadata from the raw bytes. Swapping in PIL/ffmpeg later only
changes the per-row functions.

Scale notes: binary payloads dominate partition size — size
``spark.sql.files.maxPartitionBytes`` for the payload, not the row count,
and never collect_list binary columns. Feature extraction is one
mapInPandas pass: no shuffle, output is narrow metadata."""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _map_rows(
    df: DataFrame,
    cols: tuple[str, ...],
    row_fn: Callable[..., Iterable[tuple]],
    schema: str,
) -> DataFrame:
    """The module's one engine boundary: a ``mapInPandas`` pass calling
    ``row_fn(*values)`` on each input row's ``cols`` and concatenating
    the tuples it returns (zero or more per input row) into the output
    batch. The tuples hold plain Python values in ``schema``'s column
    order; Arrow casts them to the declared DDL types on the way out,
    empty batches included."""
    names = [field.split()[0] for field in schema.split(",")]

    def map_batches(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            rows = [
                out
                for values in zip(*(pdf[c] for c in cols))
                for out in row_fn(*values)
            ]
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(map_batches, schema)


def _bounded_memo(fn: Callable) -> Callable:
    """``fn`` of one hashable key, memoized in a dict that is emptied
    once it holds more than 65536 entries. The dict travels empty
    inside the pickled row function and Spark unpickles that function
    per task, so the cache lives for one task. Use it only where a task
    sees repeated keys — on a path with unique keys it is all misses."""
    cache: dict = {}

    def memo(key):
        hit = cache.get(key)
        if hit is None:
            if len(cache) > 65536:
                cache.clear()
            hit = cache[key] = fn(key)
        return hit

    return memo


def _round3(x) -> float:
    """A statistic rounded to 3 places as the SQL oracles round it: the
    1e-9 nudge settles .0005 knife-edges the same way in both engines."""
    return round(float(x) + 1e-9, 3)


def _luma(img) -> tuple[float, int]:
    """(mean, max) of one decoded plane."""
    return _round3(np.mean(img)), int(img.max())


def _spread_ids(
    df: DataFrame, id_col: str, key: Column | None = None
) -> DataFrame:
    """Repartition the bare id column across the session's cores before
    a CPU-bound payload-generation pass: the testbed's documents table
    is one parquet file (one input partition), which would serialize
    the whole encode stage onto a single Python worker — measured 7.3 s
    for the video query at sf0.1 vs ~0.8 s spread. Shuffling ids is
    bytes-trivial (one long per row); at 100 TB the source scan has
    ample partitions and this is a near-no-op rebalance.

    ``key``: optional partitioning expression. The grouped payload
    generators (key_div / key_mod planted-duplicate families) pass the
    GROUP key here so that ids sharing a payload land in the same task
    and the generator's per-task memo turns the group's repeated
    encode work into one encode + (group_size - 1) dict hits. Key
    cardinality stays ~|ids|/group_size — far above the partition
    count, so the hash spread stays even (guide §2.5)."""
    sc = df.sparkSession.sparkContext
    if key is None:
        return df.select(id_col).repartition(
            sc.defaultParallelism, id_col
        )
    return df.select(id_col).repartition(sc.defaultParallelism, key)


def _payloads(
    df: DataFrame,
    id_col: str,
    encode: Callable[[int], bytes],
    key: Column | None = None,
) -> DataFrame:
    """One ``(id, payload)`` row per id, ``encode(int(id))`` producing
    the bytes; the id keeps its input name and type."""
    idt = df.schema[id_col].dataType.simpleString()
    return _map_rows(
        _spread_ids(df, id_col, key),
        (id_col,),
        lambda did: [(did, encode(int(did)))],
        f"{id_col} {idt}, payload binary",
    )


FRAME_META_SCHEMA = (
    "doc_id long, n_bytes long, format string, n_frames int, first_byte int"
)


def decode_image(raw: bytes, fake: bool = False) -> dict:
    """Decode a media payload. PNG, WAV (PCM16/G.711), GIF (incl.
    animated 89a), JPEG (baseline gray/color + progressive), and
    MJPEG-in-AVI are decoded FOR REAL (pure stdlib/numpy — see module
    docstring); other codecs need an imaging/audio library not present
    in this environment and stay stubbed. With ``fake=True`` the
    deterministic fake decoder is used regardless of magic (the
    existing fake-payload queries pin that path)."""
    if fake:
        return {
            "format": "fake/raw",
            "n_frames": len(raw) % 7 + 1,
            "first_byte": raw[0] if raw else -1,
        }
    if raw[:8] == _PNG_MAGIC:
        img = decode_png(raw)
        return {
            "format": "png",
            "n_frames": 1,
            "first_byte": raw[0],
            "width": int(img.shape[1]),
            "height": int(img.shape[0]),
        }
    if raw[:4] == b"RIFF" and raw[8:12] == b"WAVE":
        rate, samples = decode_wav(raw)
        return {
            "format": "wav",
            "n_frames": int(len(samples)),
            "first_byte": raw[0],
            "sample_rate": int(rate),
        }
    if raw[:4] == b"RIFF" and raw[8:12] == b"AVI ":
        from n2khab_mhq_data_spark.llmdata.jpeg import decode_avi_mjpeg

        fps, frames = decode_avi_mjpeg(raw)
        return {
            "format": "avi/mjpeg",
            "n_frames": len(frames),
            "first_byte": raw[0],
            "fps": fps,
        }
    if raw[:2] == b"\xff\xd8":
        from n2khab_mhq_data_spark.llmdata.jpeg import decode_jpeg

        img = decode_jpeg(raw)  # gray array, or (y, cb, cr) for color
        if isinstance(img, tuple):
            img = img[0]
        return {
            "format": "jpeg",
            "n_frames": 1,
            "first_byte": raw[0],
            "width": int(img.shape[1]),
            "height": int(img.shape[0]),
        }
    if raw[:6] in (b"GIF87a", b"GIF89a"):
        from n2khab_mhq_data_spark.llmdata.gif import decode_gif_frames

        _, frames = decode_gif_frames(raw)
        return {
            "format": "gif",
            "n_frames": len(frames),
            "first_byte": raw[0],
            "width": int(frames[0].shape[1]),
            "height": int(frames[0].shape[0]),
        }
    if raw[:2] == b"BM":
        from n2khab_mhq_data_spark.llmdata.bmp import decode_bmp

        img = decode_bmp(raw)
        return {
            "format": "bmp",
            "n_frames": 1,
            "first_byte": raw[0],
            "width": int(img.shape[1]),
            "height": int(img.shape[0]),
        }
    if raw[:2] in (b"II", b"MM"):
        from n2khab_mhq_data_spark.llmdata.tiff import decode_tiff

        img = decode_tiff(raw)
        return {
            "format": "tiff",
            "n_frames": 1,
            "first_byte": raw[0],
            "width": int(img.shape[1]),
            "height": int(img.shape[0]),
        }
    raise NotImplementedError(
        "codec not implemented (video beyond MJPEG-AVI, TIFF beyond"
        " baseline gray + PackBits (the multi-codec container: LZW,"
        " JPEG-in-TIFF, tiles, planar color), arithmetic-coded JPEG —"
        " waived on SCOPE, each is a large standalone decoder, not"
        " because a library is required); PNG (sequential + Adam7"
        " interlaced), WAV (PCM16 + G.711 + IMA ADPCM multi-block),"
        " GIF (incl. animated 89a, interlace, local color tables,"
        " disposal 0-3), BMP (uncompressed + RLE8/RLE4), TIFF"
        " (baseline gray, both endians, multi-strip, PackBits), JPEG"
        " (baseline gray/color + progressive) and MJPEG-AVI decode for"
        " real, or pass fake=True for the deterministic test decoder"
    )


def extract_frame_meta(binary_df: DataFrame, fake: bool = True) -> DataFrame:
    """Feature extraction over (doc_id, payload binary): one pass,
    narrow output."""

    def row(did, raw):
        m = decode_image(raw, fake=fake)
        return [(did, len(raw), m["format"], m["n_frames"], m["first_byte"])]

    return _map_rows(binary_df, ("doc_id", "payload"), row, FRAME_META_SCHEMA)


FRAME_SAMPLE_SCHEMA = "doc_id long, frame_idx int, frame_byte int"


def sample_frames(
    binary_df: DataFrame, stride: int = 2, fake: bool = True
) -> DataFrame:
    """Frame sampling over opaque video-ish payloads: every ``stride``-th
    frame of each payload becomes one output row (doc_id, frame_idx,
    frame_byte). Input rows fan out to 0..n_frames rows, still one scan,
    no shuffle; the frame decode is the same stubbed fake decoder as
    extract_frame_meta."""

    def row(did, raw):
        n_frames = decode_image(raw, fake=fake)["n_frames"]
        return [
            (did, idx, raw[(idx * 13) % len(raw)] if raw else -1)
            for idx in range(0, n_frames, stride)
        ]

    return _map_rows(
        binary_df, ("doc_id", "payload"), row, FRAME_SAMPLE_SCHEMA
    )


def with_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adapter for the testbed: treat the document text's UTF-8 bytes as an
    opaque binary payload (the real pipeline reads binary parquet/files)."""
    return df.select(
        "doc_id", F.encode(F.col(text_col), "UTF-8").alias("payload")
    )


# Gear table for content-defined chunking: a deterministic per-byte
# 64-bit mix (splitmix64 finalizer over the byte value), so chunk
# boundaries are reproducible across runs, engines, and languages.
def _gear(b: int) -> int:
    z = (b + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return z ^ (z >> 31)


def cdc_chunks(
    binary_df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    mask: int = 0x3F,
    min_len: int = 16,
    max_len: int = 512,
) -> DataFrame:
    """Content-defined chunking (Gear/FastCDC family, public literature):
    boundaries where a rolling per-byte hash masks to zero, clamped to
    [min_len, max_len]. Unlike fixed-size chunking (multimodal_chunk), an
    insertion early in a payload only perturbs chunks up to the next
    content boundary — the property that makes chunk-level dedup of
    binary blobs survive edits, which is why backup/dedup systems use it.

    Spark shape: ``mapInPandas`` over the binary column — per batch the
    rolling hash is 64 vectorized shift-adds (numpy), boundary-candidate
    selection is a masked nonzero, and only the sparse candidate list is
    walked in Python. Zero shuffle; chunk rows stream out of the scan
    partition-locally. Genuinely sequential semantics (the min/max clamp
    consumes boundaries in order), so there is no SQL oracle — the
    python-reference pytest is the check, and the registered query gets
    the driver's rows-only verdict.
    """
    # id name AND type propagate from the input (the bpe_encode /
    # mmr_rerank convention) — the old hardcoded "doc_id long" schema
    # crashed on string ids and silently renamed every other id column
    idt = binary_df.schema[id_col].dataType.simpleString()
    schema = (
        f"{id_col} {idt}, chunk_idx long, offset long, n_bytes long,"
        " chunk_md5 string"
    )

    def row(did, raw):
        chunks = cdc_chunk_one(bytes(raw), mask, min_len, max_len)
        return [
            (did, i, off, ln, dig) for i, (off, ln, dig) in enumerate(chunks)
        ]

    return _map_rows(binary_df, (id_col, payload_col), row, schema)


_GEAR_TABLE = None


def cdc_chunk_one(
    raw: bytes, mask: int = 0x3F, min_len: int = 16, max_len: int = 512
) -> list[tuple[int, int, str]]:
    """Single-payload CDC kernel (module-level so the invariants are
    unit/property-testable without Spark): (offset, length, md5) chunk
    tuples per the FastCDC-style walk documented in :func:`cdc_chunks`."""
    import hashlib

    global _GEAR_TABLE
    if _GEAR_TABLE is None:
        _GEAR_TABLE = np.array(
            [_gear(b) for b in range(256)], dtype=np.uint64
        )
    G = _GEAR_TABLE
    n = len(raw)
    if n == 0:
        return []
    b = np.frombuffer(raw, dtype=np.uint8)
    g = G[b]
    h = np.zeros(n, dtype=np.uint64)
    for s in range(min(64, n)):
        # h_i += G[b_{i-s}] << s  (terms shifted past 64 bits vanish)
        h[s:] += g[: n - s] << np.uint64(s)
    cand = np.nonzero((h & np.uint64(mask)) == 0)[0]
    # FastCDC-style walk: from each chunk start, cut at the FIRST
    # boundary candidate in [start+min_len, start+max_len]; if none,
    # force a cut at start+max_len. Every cut is therefore >= min_len
    # from its start — no sub-min mid-chunk can ever be emitted (the
    # naive skip-short-then-split walk produced one whenever the next
    # candidate fell in (max_len, max_len+min_len)); only the final
    # chunk may undershoot.
    chunks: list[tuple[int, int]] = []
    start = 0
    ptr = 0
    while start < n:
        while ptr < len(cand) and int(cand[ptr]) + 1 < start + min_len:
            ptr += 1
        if (
            ptr < len(cand)
            and int(cand[ptr]) + 1 <= start + max_len
            and int(cand[ptr]) + 1 < n
        ):
            end = int(cand[ptr]) + 1
            ptr += 1
        elif n - start > max_len:
            end = start + max_len
        else:
            end = n
        chunks.append((start, end - start))
        start = end
    return [
        (off, ln, hashlib.md5(raw[off : off + ln]).hexdigest())
        for off, ln in chunks
    ]


# --- REAL codecs (pure stdlib: zlib/struct — no PIL/ffmpeg needed) -----
#
# PNG and WAV are decodable with nothing beyond zlib + struct: full
# chunk walk, inflate, scanline unfilter (all five PNG filter types),
# RIFF parse, PCM16, G.711 mu-law/A-law and IMA ADPCM samples. The
# other real codecs live in llmdata/jpeg.py, gif.py, bmp.py and tiff.py.

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

# shared decompression-bomb ceiling — rationale at its definition
from n2khab_mhq_data_spark.llmdata.gif import _MAX_PIXELS  # noqa: E402


def encode_png(img, interlace: bool = False) -> bytes:
    """Minimal real PNG encoder: 8-bit grayscale, filter 0, one IDAT;
    ``interlace=True`` writes the seven Adam7 passes (r11). Output is a
    spec-valid PNG (CRC'd chunks) any external tool can open — used to
    build REAL binary payloads for the decode queries."""
    import struct
    import zlib

    a = np.asarray(img, dtype=np.uint8)
    h, w = a.shape

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 1 if interlace else 0)
    if interlace:
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            sub = a[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            parts += [b"\x00" + sub[r].tobytes() for r in range(sub.shape[0])]
        scan = b"".join(parts)
    else:
        scan = b"".join(b"\x00" + a[r].tobytes() for r in range(h))
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scan))
        + chunk(b"IEND", b"")
    )


# Adam7 pass grid: (x_start, y_start, x_step, y_step), PNG spec 4.5.2 —
# shared by decode_png and encode_png(interlace=True)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter(flat: bytes, pos: int, h: int, w: int, ch: int):
    """Unfilter ONE scanline sequence (a whole non-interlaced image, or
    one Adam7 pass — each pass filters against its own previous scanline
    per the spec) starting at ``pos``; returns ((h, w*ch) array,
    next_pos)."""
    stride = w * ch
    if pos + h * (stride + 1) > len(flat):
        raise ValueError("PNG scanline payload length mismatch")
    img = np.zeros((h, stride), dtype=np.uint8)
    for r in range(h):
        f = flat[pos]
        line = np.frombuffer(flat, np.uint8, stride, pos + 1).copy()
        pos += stride + 1
        prev = img[r - 1] if r > 0 else np.zeros(stride, np.uint8)
        if f == 0:
            pass
        elif f == 2:  # Up — vectorized (mod-256 uint8 add)
            line += prev
        elif f in (1, 3, 4):  # Sub / Average / Paeth need the left
            # neighbour sequentially; scalar walk (decode here is
            # dimension-sized — thumbnails/tiles, not rasters)
            out = line.astype(np.int64)
            pr = prev.astype(np.int64)
            for i in range(stride):
                a = out[i - ch] if i >= ch else 0
                b = pr[i]
                c = pr[i - ch] if i >= ch else 0
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = (
                        a if pa <= pb and pa <= pc else b if pb <= pc else c
                    )
                out[i] = (out[i] + pred) % 256
            line = out.astype(np.uint8)
        else:
            raise ValueError(f"invalid PNG filter type {f}")
        img[r] = line
    return img, pos


def decode_png(raw: bytes):
    """Real PNG decode (pure stdlib): chunk walk, IDAT inflate, scanline
    unfilter (types 0-4 incl. Paeth), 8-bit grayscale/RGB, sequential
    AND Adam7-interlaced (r11 — each of the seven passes is its own
    independently-filtered sub-image, scattered back onto the sparse
    pixel grid). Returns an (h, w) or (h, w, 3) uint8 numpy array."""
    import struct
    import zlib

    if raw[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    off, idat = 8, []
    w = h = ctype = inter = None
    while off + 8 <= len(raw):
        (ln,) = struct.unpack_from(">I", raw, off)
        typ = raw[off + 4 : off + 8]
        data = raw[off + 8 : off + 8 + ln]
        if typ == b"IHDR":
            w, h, depth, ctype, comp, filt, inter = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8 or ctype not in (0, 2) or comp or filt or (
                inter not in (0, 1)
            ):
                raise ValueError(
                    f"unsupported PNG shape (depth={depth} ctype={ctype}"
                    f" interlace={inter})"
                )
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
        off += 12 + ln
    if w is None:
        raise ValueError("PNG missing IHDR")
    if w * h > _MAX_PIXELS:
        raise ValueError("PNG dimensions exceed decompression-bomb guard")
    ch = 1 if ctype == 0 else 3
    flat = zlib.decompress(b"".join(idat))
    if not inter:
        img, pos = _png_unfilter(flat, 0, h, w, ch)
        if pos != len(flat):
            raise ValueError("PNG scanline payload length mismatch")
        return img.reshape(h, w) if ch == 1 else img.reshape(h, w, 3)
    full = np.zeros((h, w, ch), dtype=np.uint8)
    pos = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue  # spec: empty passes transmit nothing
        sub, pos = _png_unfilter(flat, pos, ph, pw, ch)
        full[y0::dy, x0::dx] = sub.reshape(ph, pw, ch)
    if pos != len(flat):
        raise ValueError("PNG scanline payload length mismatch")
    return full.reshape(h, w) if ch == 1 else full


def encode_wav(samples, rate: int = 8000) -> bytes:
    """Minimal real WAV encoder: PCM16 mono RIFF container."""
    import struct

    s = np.asarray(samples, dtype=np.int16)
    data = s.tobytes()
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def encode_wav_g711(codes, rate: int = 8000, law: str = "mulaw") -> bytes:
    """Real G.711 WAV encoder: 8-bit mono mu-law (format tag 7) or
    A-law (format tag 6) RIFF container around already-companded code
    bytes — the telephony capture format."""
    import struct

    tag = 7 if law == "mulaw" else 6
    data = np.asarray(codes, dtype=np.uint8).tobytes()
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, tag, 1, rate, rate, 1, 8)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def g711_expand(codes, law: str):
    """Vectorized G.711 expansion to linear PCM16 (ITU-T G.711 / the
    public-domain Sun g711.c formulas — stateless per sample, which is
    what makes a SQL oracle able to reproduce the decode exactly).

    mu-law: u = ~c; mag = (((u & 15) << 3) + 0x84) << ((u >> 4) & 7);
            pcm = (0x84 - mag) if sign bit else (mag - 0x84)
    A-law:  a = c ^ 0x55; seg = (a >> 4) & 7; t = (a & 15) << 4;
            mag = t + 8 (seg 0) | (t + 0x108) << (seg - 1);
            pcm = +mag if sign bit else -mag"""
    c = np.asarray(codes, dtype=np.int64)
    if law == "mulaw":
        u = (~c) & 0xFF
        mag = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x07)
        pcm = np.where(u & 0x80, 0x84 - mag, mag - 0x84)
    elif law == "alaw":
        a = c ^ 0x55
        seg = (a >> 4) & 0x07
        t = (a & 0x0F) << 4
        mag = np.where(
            seg == 0, t + 8, (t + 0x108) << np.clip(seg - 1, 0, None)
        )
        pcm = np.where(a & 0x80, mag, -mag)
    else:
        raise ValueError(f"unknown G.711 law {law!r}")
    return pcm.astype(np.int16)


# IMA/DVI ADPCM spec constants (IMA Digital Audio Compatibility
# Project, "Recommended Practices for Enhancing Digital Audio
# Compatibility in Multimedia Systems" rev 3.00): the 8-entry index
# adjustment and the 89-entry quantizer step table.
_IMA_INDEX = (-1, -1, -1, -1, 2, 4, 6, 8)
_IMA_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767,
)


def ima_expand(nibbles, pred: int, index: int):
    """Expand IMA ADPCM 4-bit codes to linear PCM16 from the block's
    initial (predictor, step index) — the published IMA algorithm,
    STATEFUL per sample: diff = step>>3 (+ step>>2 if b0) (+ step>>1 if
    b1) (+ step if b2), sign from b3, predictor clamped to int16, index
    stepped by the adjustment table and clamped to [0, 88]. Returns an
    int16 array of len(nibbles) decoded samples (the initial predictor
    itself is sample 0 of the block, emitted by the caller)."""
    out = []
    for b in nibbles:
        step = _IMA_STEPS[index]
        diff = step >> 3
        if b & 1:
            diff += step >> 2
        if b & 2:
            diff += step >> 1
        if b & 4:
            diff += step
        pred = pred - diff if b & 8 else pred + diff
        pred = max(-32768, min(32767, pred))
        index = max(0, min(88, index + _IMA_INDEX[b & 7]))
        out.append(pred)
    return np.array(out, dtype=np.int16)


def encode_wav_adpcm(
    nibbles, pred: int, index: int, rate: int = 8000
) -> bytes:
    """Mono IMA ADPCM WAV (format tag 0x11), one block: fmt chunk with
    cbSize=2 + wSamplesPerBlock, a fact chunk, and a data chunk holding
    the 4-byte block header (initial predictor int16 LE, step index
    byte, reserved 0) plus the nibble stream packed TWO PER BYTE, first
    sample in the LOW nibble per the IMA layout. len(nibbles) must be
    even."""
    import struct

    n = len(nibbles)
    if n % 2:
        raise ValueError("IMA ADPCM nibble count must be even")
    if not (-32768 <= pred <= 32767 and 0 <= index <= 88):
        raise ValueError("IMA ADPCM initial state out of range")
    packed = bytearray()
    for k in range(0, n, 2):
        packed.append((nibbles[k] & 0x0F) | ((nibbles[k + 1] & 0x0F) << 4))
    block = struct.pack("<hBB", pred, index, 0) + bytes(packed)
    block_align = len(block)
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, 1, rate, rate * block_align // (n + 1),
        block_align, 4, 2, n + 1,
    )
    fact = struct.pack("<I", n + 1)
    out = bytearray(b"RIFF")
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<I", len(fact)) + fact
        + b"data" + struct.pack("<I", len(block)) + block
    )
    out += struct.pack("<I", len(body)) + body
    return bytes(out)


def decode_wav(raw: bytes):
    """Real WAV decode (pure stdlib): RIFF chunk walk; PCM16 mono, the
    two G.711 telephony formats (mu-law tag 7 / A-law tag 6, 8-bit
    mono, expanded to linear PCM16), and mono IMA ADPCM (tag 0x11,
    4-bit, MULTI-block — the data chunk is walked in nBlockAlign
    strides, each block restarting the predictor/step-index state from
    its own 4-byte header per the IMA spec; a fact chunk, when present,
    trims the tail block's padding samples to the true count; ADVICE
    r10 — the single-block decode silently produced garbage past block
    1 on foreign multi-block files). Returns (sample_rate, int16 numpy
    array)."""
    import struct

    if raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    off = 12
    rate = None
    fmt = None
    block_align = None
    fact_n = None
    samples = None
    while off + 8 <= len(raw):
        typ = raw[off : off + 4]
        (ln,) = struct.unpack_from("<I", raw, off + 4)
        body = raw[off + 8 : off + 8 + ln]
        if typ == b"fmt ":
            fmt, nch, rate, _br, block_align, bits = struct.unpack_from(
                "<HHIIHH", body
            )
            if not (
                (fmt == 1 and nch == 1 and bits == 16)
                or (fmt in (6, 7) and nch == 1 and bits == 8)
                or (fmt == 0x11 and nch == 1 and bits == 4)
            ):
                raise ValueError(
                    f"unsupported WAV shape (fmt={fmt} ch={nch} bits={bits})"
                )
        elif typ == b"fact":
            if len(body) >= 4:
                (fact_n,) = struct.unpack_from("<I", body)
        elif typ == b"data":
            samples = body
        off += 8 + ln + (ln & 1)
    if rate is None or samples is None:
        raise ValueError("WAV missing fmt/data chunk")
    if fmt == 1:
        return rate, np.frombuffer(samples, dtype="<i2")
    if fmt == 0x11:
        if block_align is None or block_align < 4:
            raise ValueError("IMA ADPCM block align too small")
        parts = []
        for b0 in range(0, len(samples), block_align):
            block = samples[b0 : b0 + block_align]
            if len(block) < 4:
                raise ValueError("IMA ADPCM block truncated")
            pred, index, _rsv = struct.unpack_from("<hBB", block)
            if index > 88:
                raise ValueError("IMA ADPCM step index out of range")
            packed = np.frombuffer(block[4:], dtype=np.uint8)
            nibbles = np.empty(2 * len(packed), dtype=np.uint8)
            # first sample rides the LOW nibble per the IMA layout
            nibbles[0::2] = packed & 0x0F
            nibbles[1::2] = packed >> 4
            decoded = ima_expand(nibbles.tolist(), int(pred), int(index))
            parts.append(np.array([pred], dtype=np.int16))
            parts.append(decoded)
        out = np.concatenate(parts)
        if fact_n is not None:
            if fact_n > len(out):
                raise ValueError("IMA ADPCM fact count exceeds decoded data")
            out = out[:fact_n]
        return rate, out
    codes = np.frombuffer(samples, dtype=np.uint8)
    return rate, g711_expand(codes, "mulaw" if fmt == 7 else "alaw")


# --- test-payload images and clips -------------------------------------
#
# Each is a pure function of one integer key, so a SQL oracle re-derives
# every decoded statistic from the key; the generators and
# mixed_payloads share them.


def _gradient(k: int, textured: bool = False):
    """The PNG/GIF test image of key k: (8 + k%3) rows x (8 + k%5)
    columns, pixel(r, c) = (k + 7r + 13c) mod 256, or with ``textured``
    (k + 37r^2 + 73c^2 + 11rc) mod 256 (see :func:`png_payloads`)."""
    r = np.arange(8 + k % 3)[:, None]
    c = np.arange(8 + k % 5)[None, :]
    if textured:
        img = k + 37 * r * r + 73 * c * c + 11 * r * c
    else:
        img = k + 7 * r + 13 * c
    return (img % 256).astype(np.uint8)


def _blocks(vals):
    """Each value of ``vals`` as a constant 8x8 block (int64). Under the
    all-ones quantization a block-constant image survives the JPEG DCT
    round trip bit-exactly."""
    return np.kron(vals, np.ones((8, 8), dtype=np.int64))


def _ycbcr_blocks(k: int):
    """(y, cb, cr) planes of the color JPEG test image of key k:
    (1 + k%3) x (1 + k%2) 4:2:0 MCUs, luma block (bi, bj) =
    (k*13 + 7bi + 3bj) mod 256, chroma constant per MCU (Cb =
    (k*5 + 11ci + 17cj) mod 256, Cr = (k*7 + 13ci + 5cj) mod 256)."""
    mw, mh = 1 + k % 2, 1 + k % 3
    bi = np.arange(2 * mh)[:, None]
    bj = np.arange(2 * mw)[None, :]
    ci = np.arange(mh)[:, None]
    cj = np.arange(mw)[None, :]
    return (
        _blocks((k * 13 + 7 * bi + 3 * bj) % 256),
        _blocks((k * 5 + 11 * ci + 17 * cj) % 256),
        _blocks((k * 7 + 13 * ci + 5 * cj) % 256),
    )


def _wav_clip(k: int) -> bytes:
    """PCM16 WAV of key k: 64 + k%32 samples at 8 kHz,
    sample_i = ((k*31 + i*17) mod 4096) - 2048."""
    i = np.arange(64 + k % 32, dtype=np.int64)
    return encode_wav(((k * 31 + i * 17) % 4096) - 2048, 8000)


def _gray_jpeg(k: int) -> bytes:
    """Baseline grayscale JPEG of key k: (2 + k%2) x (2 + k%3) constant
    blocks, block (bi, bj) = (k*13 + 7bi + 3bj) mod 256."""
    from n2khab_mhq_data_spark.llmdata.jpeg import encode_jpeg

    bi = np.arange(2 + k % 2)[:, None]
    bj = np.arange(2 + k % 3)[None, :]
    return encode_jpeg(_blocks((k * 13 + 7 * bi + 3 * bj) % 256))


def _avi_clip(k: int) -> bytes:
    """MJPEG-in-AVI clip of key k: 3 + k%4 frames at 10 fps, frame f a
    16x16 image of constant blocks (k*11 + 19f + 7bi + 3bj) mod 256."""
    from n2khab_mhq_data_spark.llmdata.jpeg import (
        encode_avi_mjpeg,
        encode_jpeg,
    )

    bi = np.arange(2)[:, None]
    bj = np.arange(2)[None, :]
    frames = [
        encode_jpeg(_blocks((k * 11 + 19 * f + 7 * bi + 3 * bj) % 256))
        for f in range(3 + k % 4)
    ]
    return encode_avi_mjpeg(frames, fps=10, width=16, height=16)


def png_payloads(
    df: DataFrame,
    id_col: str = "doc_id",
    key_mod: int | None = None,
    perturb: bool = False,
    textured: bool = False,
    key_div: int | None = None,
) -> DataFrame:
    """REAL image payloads for the decode queries: one 8-bit grayscale
    PNG per row, pixel(r, c) = (k + 7r + 13c) mod 256 at
    (8 + k%5) x (8 + k%3) — integer arithmetic, so a SQL oracle can
    re-derive every decoded statistic without touching the bytes.
    k = id by default; ``key_mod`` folds it to id % key_mod, and
    ``key_div`` to id // key_div, so rows sharing a key carry
    byte-identical PNGs (planted duplicates for the image-dedup
    queries — key_div keeps GROUP SIZE constant as the corpus grows,
    so planted pair counts stay linear in corpus size, key_mod grows
    groups linearly); ``perturb`` additionally edits pixel (0, 0) on
    every second replica (planted NEAR-duplicates for the
    Hamming-banded matcher). ``textured`` switches to the quadratic
    pattern (k + 37r^2 + 73c^2 + 11rc) mod 256 whose mod-wrap positions
    depend on k — the smooth gradient's dHash collapses to ~0 for every
    image (monotone rows have no sign changes), which is fine for
    stats/resize but makes hash-dedup degenerate; the textured pattern
    gives distinct keys distinct signatures."""

    def encode(key: tuple[int, bool]) -> bytes:
        k, edited = key
        img = _gradient(k, textured)
        if edited:
            # near-duplicate: one strong pixel edit at (0, 0) — flips at
            # most ONE dHash bit (only resized cell (0,0) samples it)
            img[0, 0] = (int(img[0, 0]) + 200) % 256
        return encode_png(img)

    if key_div is None and key_mod is None:
        return _payloads(df, id_col, lambda did: encode((did, False)))

    def group(did: int) -> tuple[int, bool]:
        k = did // key_div if key_div is not None else did % key_mod
        return k, bool(perturb and did % 2)

    if key_div is not None:
        key = F.expr(f"`{id_col}` div {key_div}")
    else:
        key = F.col(id_col) % key_mod
    # rows sharing (k, perturb-parity) carry byte-identical PNGs and the
    # group-key spread co-locates them, so the memo pays ONE zlib
    # deflate per group instead of group_size
    encode_once = _bounded_memo(encode)
    return _payloads(df, id_col, lambda did: encode_once(group(did)), key)


def _dhash(raw: bytes) -> int:
    """56-bit difference hash of one PNG (see :func:`image_dhash`)."""
    g = decode_png(raw)
    if g.ndim == 3:  # RGB -> integer-mean luma
        g = g.astype(np.int64).sum(axis=2) // 3
    h, w = g.shape
    rw = np.arange(8)
    small = g[np.ix_((rw * h) // 8, (rw * w) // 8)].astype(np.int64)
    bits = (small[:, :-1] > small[:, 1:]).astype(np.int64)
    weights = 1 << (rw[:, None] * 7 + np.arange(7)[None, :])
    return int((bits * weights).sum())


def image_dhash(binary_df: DataFrame) -> DataFrame:
    """Perceptual difference-hash over REAL decoded rasters: decode the
    PNG, nearest-neighbour-resize to 8x8, set bit (r, c) when
    pixel(r, c) > pixel(r, c+1) — 8 rows x 7 comparisons = a 56-bit
    signature (deliberately under 63 bits so the hash stays a plain
    non-negative BIGINT in any engine; dedup quality is unaffected).
    Identical images hash identically byte-for-byte; near-identical
    images differ in few bits (Hamming-ball matching is the banded-LSH
    extension). One Arrow pass, zero shuffle — the hash is computed
    inside the scan like every other decode query. Planted-duplicate
    corpora repeat payload bytes within a task, so each distinct
    payload is decoded once."""
    dhash = _bounded_memo(_dhash)
    return _map_rows(
        binary_df,
        ("doc_id", "payload"),
        lambda did, raw: [(did, dhash(bytes(raw)))],
        "doc_id long, dhash long",
    )


def dhash_near_pairs(
    hashes: DataFrame, bands: int = 4, max_hamming: int = 2
) -> DataFrame:
    """Hamming-ball near-duplicate pairs over dHash signatures via
    banded candidate generation — the SimHash scale path applied to
    images: split the 56-bit hash into ``bands`` 14-bit bands; two
    images whose Hamming distance is <= bands-1 MUST agree on at least
    one whole band (pigeonhole), so the band-equality join captures
    every pair within ``max_hamming`` < bands without ever comparing
    all pairs. Candidates then verify by exact popcount of the XOR.
    One shuffle per band on the band value; candidate volume tracks
    duplicate density, not corpus size squared.

    PRECONDITION: ``hashes`` must carry ONE row per doc_id. The
    first-agreeing-band ownership filter below replaces the old
    candidate ``.distinct()`` and is equivalent to it only under that
    grain — duplicate doc_id rows (previously collapsed by the distinct
    on identical ha/hb) would emit duplicate pairs (ADVICE r11). Every
    caller feeds one hash per document; dedupe upstream if yours does
    not."""
    width = 56 // bands
    mask = (1 << width) - 1
    # pin the (doc_id, dhash) table once: the band self-join otherwise
    # re-executes the whole upstream decode/hash Python pipeline for
    # BOTH join sides — at any scale that is two full payload passes
    # for one (guide §5 caching; the rank operators' checkpoint-pin
    # pattern)
    hashes = hashes.localCheckpoint(eager=False)
    b = F.explode(
        F.array(*[F.lit(i) for i in range(bands)])
    ).alias("b")
    banded = hashes.select("doc_id", "dhash", b).select(
        "doc_id",
        "dhash",
        "b",
        F.expr(f"shiftright(dhash, {width} * b) & {mask}").alias("bv"),
    )
    left = banded.select(
        F.col("doc_id").alias("doc_a"),
        F.col("dhash").alias("ha"),
        "b",
        "bv",
    )
    right = banded.select(
        F.col("doc_id").alias("doc_b"),
        F.col("dhash").alias("hb"),
        "b",
        "bv",
    )
    # first-agreeing-band ownership replaces the candidate distinct():
    # a pair agreeing on several bands is emitted ONLY at its smallest
    # agreeing band — a codegen filter instead of a full dedup exchange
    # of the candidate set (guide §2.4 remove shuffles outright)
    no_earlier = F.lit(True)
    for j in range(bands - 1):
        agree_j = F.expr(
            f"(shiftright(ha, {width * j}) & {mask}) = "
            f"(shiftright(hb, {width * j}) & {mask})"
        )
        no_earlier = no_earlier & ((F.col("b") <= j) | ~agree_j)
    cand = (
        left.join(right, ["b", "bv"])
        .filter((F.col("doc_a") < F.col("doc_b")) & no_earlier)
        .select("doc_a", "doc_b", "ha", "hb")
    )
    ham = F.expr("bit_count(ha ^ hb)")
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def image_stats(binary_df: DataFrame, fmt: str = "png") -> DataFrame:
    """REAL decode feature extraction: fully decode each image (PNG
    inflate + unfilter, or GIF LZW) and emit (width, height, n_px,
    mean_luma, max_luma). One Arrow pass, no shuffle; narrow output."""
    if fmt == "png":
        decode = decode_png
    elif fmt == "gif":
        from n2khab_mhq_data_spark.llmdata.gif import decode_gif

        decode = decode_gif
    else:
        raise ValueError(f"unsupported image_stats format {fmt!r}")

    def row(did, raw):
        img = decode(bytes(raw))
        h, w = img.shape[:2]
        return [(did, w, h, h * w, *_luma(img))]

    return _map_rows(
        binary_df,
        ("doc_id", "payload"),
        row,
        "doc_id long, width int, height int, n_px long,"
        " mean_luma double, max_luma int",
    )


def gif_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL GIF payloads (llmdata/gif.py — GIF87a LZW, lossless): the
    same gradient image per row as ``png_payloads``, so the identical
    arithmetic oracle verifies the whole LZW round trip."""
    from n2khab_mhq_data_spark.llmdata.gif import encode_gif

    return _payloads(df, id_col, lambda did: encode_gif(_gradient(did)))


def image_resize_nn(
    binary_df: DataFrame, out_w: int = 4, out_h: int = 4
) -> DataFrame:
    """REAL decode + nearest-neighbour resize: each PNG decodes and
    downsamples to out_h x out_w (src index = floor(out_idx * src / out),
    the standard NN mapping); output is one row per output pixel —
    the thumbnail/tile-pyramid primitive. Fan-out is bounded
    (out_w * out_h rows per payload), one Arrow pass, no shuffle."""

    def row(did, raw):
        img = decode_png(bytes(raw))
        h, w = img.shape[:2]
        return [
            (did, ro, co, int(img[ro * h // out_h, co * w // out_w]))
            for ro in range(out_h)
            for co in range(out_w)
        ]

    return _map_rows(
        binary_df,
        ("doc_id", "payload"),
        row,
        "doc_id long, ro int, co int, v int",
    )


def wav_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL audio payloads: one PCM16 mono WAV per row with
    (64 + id%32) samples at 8 kHz, sample_i = ((id*31 + i*17) mod 4096)
    - 2048 — integer arithmetic for the oracle, real RIFF bytes for the
    decoder."""
    return _payloads(df, id_col, _wav_clip)


def wav_payloads_grouped(
    df: DataFrame, id_col: str = "doc_id", key_div: int = 10
) -> DataFrame:
    """REAL audio payloads with planted duplicates: the
    :func:`wav_payloads` clip keyed on id // key_div (constant group
    size at any corpus scale, like the image-dedup payloads). The
    group-key spread co-locates a group's ids, so each group encodes
    once."""
    clip = _bounded_memo(_wav_clip)
    return _payloads(
        df,
        id_col,
        lambda did: clip(did // key_div),
        F.expr(f"`{id_col}` div {key_div}"),
    )


def audio_fingerprint(binary_df: DataFrame, frames: int = 16) -> DataFrame:
    """Acoustic fingerprint over REALLY decoded PCM: partition each
    clip into ``frames`` equal-share frames (sample i -> frame
    (i*frames)//n), take per-frame energy (sum of squares — exact
    integer arithmetic on int16 samples), set bit f when
    E_f > E_{f+1} — a (frames - 1)-bit energy-envelope signature, the
    shape of Shazam-class fingerprints reduced to its integer core so a
    SQL oracle can re-derive it. One Arrow pass, zero shuffle;
    planted-duplicate clips repeat payload bytes within a task, so each
    distinct clip is decoded once."""

    def fingerprint(raw: bytes) -> int:
        s = decode_wav(raw)[1].astype(np.int64)
        n = len(s)
        e = np.zeros(frames, dtype=np.int64)
        np.add.at(e, (np.arange(n) * frames) // n, s * s)
        bits = (e[:-1] > e[1:]).astype(np.int64)
        return int((bits << np.arange(frames - 1)).sum())

    fingerprint_once = _bounded_memo(fingerprint)
    return _map_rows(
        binary_df,
        ("doc_id", "payload"),
        lambda did, raw: [(did, fingerprint_once(bytes(raw)))],
        "doc_id long, fingerprint long",
    )


def audio_stats(binary_df: DataFrame) -> DataFrame:
    """REAL WAV decode feature extraction: (sample_rate, n_samples,
    peak, rms) per payload — the audio-quality gate primitive."""

    def row(did, raw):
        rate, s = decode_wav(bytes(raw))
        x = s.astype(np.float64)
        peak = int(np.abs(s.astype(np.int64)).max())
        return [(did, rate, len(s), peak, _round3(np.sqrt(np.mean(x * x))))]

    return _map_rows(
        binary_df,
        ("doc_id", "payload"),
        row,
        "doc_id long, sample_rate int, n_samples long, peak long,"
        " rms double",
    )


def jpeg_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL JPEG payloads (llmdata/jpeg.py — baseline grayscale,
    all-ones quantization): one image per row built from CONSTANT 8x8
    blocks, block (bi, bj) value = (id*13 + 7*bi + 3*bj) mod 256 at
    (2 + id%3) x (2 + id%2) blocks — under Q=1 a block-constant image
    survives the DCT/Huffman round trip bit-exactly, so the decoded
    statistics stay SQL-derivable while the full entropy-coding path
    (canonical Huffman, byte stuffing, zigzag, IDCT) really runs."""
    return _payloads(df, id_col, _gray_jpeg)


def jpeg_stats(binary_df: DataFrame) -> DataFrame:
    """REAL JPEG decode feature extraction (Huffman decode, dequantize,
    IDCT per block): (width, height, n_px, mean_luma, max_luma)."""
    from n2khab_mhq_data_spark.llmdata.jpeg import decode_jpeg

    def row(did, raw):
        img = decode_jpeg(bytes(raw))
        h, w = img.shape
        return [(did, w, h, h * w, *_luma(img))]

    return _map_rows(
        binary_df,
        ("doc_id", "payload"),
        row,
        "doc_id long, width int, height int, n_px long,"
        " mean_luma double, max_luma int",
    )


def color_jpeg_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL baseline COLOR JPEG payloads (llmdata/jpeg.py — 3-component
    YCbCr, 4:2:0, interleaved MCU scan, all-ones quantization): one
    (16*(1+id%2)) x (16*(1+id%3)) image per row, luma block (bi, bj)
    value = (id*13 + 7bi + 3bj) mod 256 with chroma constant per MCU
    (Cb = (id*5 + 11ci + 17cj) mod 256, Cr = (id*7 + 13ci + 5cj) mod
    256 at the half-resolution chroma block grid) — block-constant
    planes survive the subsampled round trip bit-exactly under Q=1,
    so decoded per-channel statistics stay SQL-derivable while the
    full interleaved-scan entropy path really runs."""
    from n2khab_mhq_data_spark.llmdata.jpeg import encode_jpeg_color

    return _payloads(
        df, id_col, lambda did: encode_jpeg_color(*_ycbcr_blocks(did))
    )


def progressive_jpeg_payloads(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """REAL PROGRESSIVE (SOF2) color JPEG payloads: the same generative
    YCbCr image spec as ``color_jpeg_payloads``, encoded through the
    libjpeg-style 10-scan progressive script (spectral selection +
    successive approximation, EOBRUN, buffered refinement correction
    bits) — the decoder reassembles the coefficients across scans, so
    equal stats against the SAME oracle prove the progressive path
    end-to-end."""
    from n2khab_mhq_data_spark.llmdata.jpeg import encode_jpeg_progressive

    return _payloads(
        df, id_col, lambda did: encode_jpeg_progressive(*_ycbcr_blocks(did))
    )


def g711_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL G.711 telephony WAV payloads: per document TWO files — one
    mu-law (tag 7), one A-law (tag 6) — each holding 64 + id%16 code
    bytes code(k) = (id*7 + 13k) mod 256 at 8 kHz. The expansion
    formulas are stateless per sample, so every decoded PCM value is
    SQL-derivable from (id, k) while a real RIFF walk + companded
    expansion runs."""

    def row(did):
        did = int(did)
        codes = (did * 7 + 13 * np.arange(64 + did % 16)) % 256
        return [
            (did, law, encode_wav_g711(codes, 8000, law))
            for law in ("mulaw", "alaw")
        ]

    return _map_rows(
        _spread_ids(df, id_col),
        (id_col,),
        row,
        f"{id_col} long, law string, payload binary",
    )


def g711_stats(binary_df: DataFrame) -> DataFrame:
    """REAL G.711 decode feature extraction through the shared WAV
    chunk walk: (law, sample_rate, n_samples, peak, sum_pcm,
    mean_pcm) per payload — sums are exact integers, so the oracle
    compares on the integer grid."""

    def row(did, law, raw):
        rate, pcm = decode_wav(bytes(raw))
        x = pcm.astype(np.int64)
        total = int(x.sum())
        return [(
            did, law, rate, len(pcm), int(np.abs(x).max()), total,
            _round3(float(total) / len(pcm)),
        )]

    return _map_rows(
        binary_df,
        ("doc_id", "law", "payload"),
        row,
        "doc_id long, law string, sample_rate int, n_samples long,"
        " peak long, sum_pcm long, mean_pcm double",
    )


def gif_animation_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL animated GIF89a payloads (llmdata/gif.py): per document a
    (2 + id%3)-frame animation on an 8x16 canvas — frame 0 is the full
    base image base(i,j) = (id*17 + 5i + 9j) mod 256, frame g >= 1 is a
    CONSTANT 4x6 patch v_g = (id*29 + 31g) mod 256 at (top, left) =
    (2*(g%2), 4*(g%3)) with leave-in-place disposal, delay 3 + 2f cs —
    so every composited snapshot is SQL-derivable (latest covering
    patch wins per pixel) while real GCE parsing, sub-rect compositing,
    and per-frame LZW decode run."""
    from n2khab_mhq_data_spark.llmdata.gif import encode_gif_frames

    def encode(did: int) -> bytes:
        nf = 2 + did % 3
        i = np.arange(8)[:, None]
        j = np.arange(16)[None, :]
        frames = [((did * 17 + 5 * i + 9 * j) % 256).astype(np.uint8)]
        offsets = [(0, 0)]
        for g in range(1, nf):
            v = (did * 29 + 31 * g) % 256
            frames.append(np.full((4, 6), v, dtype=np.uint8))
            offsets.append((2 * (g % 2), 4 * (g % 3)))
        return encode_gif_frames(
            frames,
            [3 + 2 * f for f in range(nf)],
            canvas=(8, 16),
            offsets=offsets,
        )

    return _payloads(df, id_col, encode)


def gif_animation_stats(binary_df: DataFrame) -> DataFrame:
    """REAL animated-GIF frame extraction: demux the 89a block stream,
    honor GCE delays/disposal, composite each frame onto the canvas,
    and emit per-frame statistics."""
    from n2khab_mhq_data_spark.llmdata.gif import decode_gif_frames

    def row(did, raw):
        delays, frames = decode_gif_frames(bytes(raw))
        return [
            (did, f, len(frames), d, *_luma(img))
            for f, (d, img) in enumerate(zip(delays, frames))
        ]

    return _map_rows(
        binary_df,
        ("doc_id", "payload"),
        row,
        "doc_id long, frame_idx int, n_frames int, delay_cs int,"
        " mean_v double, max_v int",
    )


def color_jpeg_stats(binary_df: DataFrame) -> DataFrame:
    """REAL color JPEG decode feature extraction: interleaved-MCU
    Huffman decode with per-component predictors, replication chroma
    upsample, JFIF YCbCr->RGB — per-channel means a SQL oracle can
    re-derive from the generative block arithmetic."""
    from n2khab_mhq_data_spark.llmdata.jpeg import decode_jpeg, ycbcr_to_rgb

    def row(did, raw):
        y, cb, cr = decode_jpeg(bytes(raw))
        h, w = y.shape
        planes = (y, cb, cr, *ycbcr_to_rgb(y, cb, cr))
        return [(did, w, h, *(_round3(np.mean(p)) for p in planes))]

    return _map_rows(
        binary_df,
        ("doc_id", "payload"),
        row,
        "doc_id long, width int, height int, mean_y double,"
        " mean_cb double, mean_cr double, mean_r double,"
        " mean_g double, mean_b double",
    )


def video_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL video payloads: one MJPEG-in-AVI clip per row (llmdata/
    jpeg.py::encode_avi_mjpeg), (3 + id%4) frames at 10 fps; frame f is
    a 16x16 image of constant 8x8 blocks, block (bi, bj) value =
    (id*11 + 19*f + 7*bi + 3*bj) mod 256 — exact under the all-ones
    JPEG quantization, so every sampled frame's statistics stay
    SQL-derivable while a real RIFF demux + entropy decode runs."""
    return _payloads(df, id_col, _avi_clip)


def video_frame_stats(binary_df: DataFrame, stride: int = 2) -> DataFrame:
    """REAL video frame sampling: demux the AVI container, decode every
    ``stride``-th MJPEG frame (full baseline-JPEG entropy decode), emit
    one row per sampled frame — the frame-sample primitive with real
    bytes instead of the fake decoder. Bounded fan-out (n_frames /
    stride rows per clip), one Arrow pass, no shuffle."""
    from n2khab_mhq_data_spark.llmdata.jpeg import (
        decode_avi_mjpeg,
        decode_jpeg,
    )

    def row(did, raw):
        fps, frames = decode_avi_mjpeg(bytes(raw))
        return [
            (did, f, len(frames), fps, *_luma(decode_jpeg(frames[f])))
            for f in range(0, len(frames), stride)
        ]

    return _map_rows(
        binary_df,
        ("doc_id", "payload"),
        row,
        "doc_id long, frame_idx int, n_frames int, fps int,"
        " mean_luma double, max_luma int",
    )


def mixed_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """One REAL payload per row in a format chosen by id mod 5 — PNG /
    WAV / JPEG / MJPEG-AVI / GIF — with the same deterministic content
    as the per-format generators, so the format-dispatch query has an
    arithmetic oracle for every decoded field."""
    from n2khab_mhq_data_spark.llmdata.gif import encode_gif

    by_kind = (
        lambda did: encode_png(_gradient(did)),
        _wav_clip,
        _gray_jpeg,
        _avi_clip,
        lambda did: encode_gif(_gradient(did)),
    )
    return _payloads(df, id_col, lambda did: by_kind[did % 5](did))


def format_dispatch(binary_df: DataFrame) -> DataFrame:
    """REAL format sniffing over a mixed binary column: decode_image
    routes each payload by magic to its real decoder and reports the
    format tag, frame count, and leading byte — the ingestion-side
    triage a multimodal pipeline runs before modality-specific
    processing. One Arrow pass, no shuffle."""

    def row(did, raw):
        m = decode_image(bytes(raw), fake=False)
        return [(did, m["format"], m["n_frames"], m["first_byte"])]

    return _map_rows(
        binary_df,
        ("doc_id", "payload"),
        row,
        "doc_id long, format string, n_frames long, first_byte int",
    )


def gif_interlace_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL interlaced GIF payloads with LOCAL color tables
    (llmdata/gif.py): per document one single-frame GIF of
    (5 + id%8) x (7 + id%9) pixels whose stored INDICES are
    idx(i, j) = (id*23 + 11i + 5j) mod 256, written through a permuted
    local palette p[k] = (181k + id) mod 256 in INTERLACED row order —
    so the decoded luminance (181*idx + id) mod 256 is SQL-derivable
    while the four-pass deinterlace scatter and the local-table
    override both run for real. 181 is odd, so p is a permutation and
    a skipped palette lookup (or a wrong row scatter, via the
    position-weighted checksum) breaks the hash."""
    from n2khab_mhq_data_spark.llmdata.gif import encode_gif

    def encode(did: int) -> bytes:
        i = np.arange(5 + did % 8)[:, None]
        j = np.arange(7 + did % 9)[None, :]
        idx = ((did * 23 + 11 * i + 5 * j) % 256).astype(np.uint8)
        pal = [(181 * k + did) % 256 for k in range(256)]
        return encode_gif(idx, interlace=True, local_palette=pal)

    return _payloads(df, id_col, encode)


def _lum_frame_stats(img) -> tuple:
    """(width, height, mean, max, position-weighted checksum) of one
    decoded luminance frame — the ONE definition shared by every
    luminance stats extractor: the rounding epsilon and the wsum formula
    sum(v * (i*w + j + 1)) must match the SQL oracles verbatim, and a
    single helper keeps the queries from drifting apart. wsum is
    the statistic that SEES row placement (mean/max are row-order
    invariant, so a missed deinterlace scatter, bottom-up flip, or
    wrong-rect disposal restore only breaks wsum)."""
    h, w = img.shape
    v = img.astype(np.int64)
    pos = np.arange(1, h * w + 1, dtype=np.int64).reshape(h, w)
    return (w, h, *_luma(v), int((v * pos).sum()))


def gif_interlace_stats(
    binary_df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """REAL interlaced-GIF decode feature extraction: width, height,
    mean/max luminance, and the position-weighted checksum that proves
    the deinterlace scatter put every transmitted row back where it
    belongs (see :func:`_lum_frame_stats`)."""
    from n2khab_mhq_data_spark.llmdata.gif import decode_gif

    idt = binary_df.schema[id_col].dataType.simpleString()
    return _map_rows(
        binary_df,
        (id_col, "payload"),
        lambda did, raw: [(did, *_lum_frame_stats(decode_gif(bytes(raw))))],
        f"{id_col} {idt}, width int, height int, mean_v double,"
        " max_v int, wsum long",
    )


def bmp_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL uncompressed-BMP payloads (llmdata/bmp.py): per document TWO
    files on a (3 + id%5) x (5 + id%6) grid — kind 'pal8' is an 8-bit
    PALETTIZED bottom-up bitmap with indices
    idx(i, j) = (id*19 + 7i + 3j) mod 256 through the permuted gray
    table p[k] = (149k + id) mod 256, and kind 'bgr24' is a 24-bit BGR
    TOP-DOWN (negative biHeight) bitmap with channels
    r = (id*3 + 7i + j) mod 256, g = (id*5 + 2i + 3j) mod 256,
    b = (id*11 + i + 9j) mod 256 — so both pixel depths, both row
    orders, the 4-byte row padding, and the color-table lookup are all
    exercised with SQL-derivable luminance."""
    from n2khab_mhq_data_spark.llmdata.bmp import encode_bmp

    def row(did):
        did = int(did)
        i = np.arange(3 + did % 5)[:, None]
        j = np.arange(5 + did % 6)[None, :]
        idx = ((did * 19 + 7 * i + 3 * j) % 256).astype(np.uint8)
        pal = [(149 * k + did) % 256 for k in range(256)]
        # i (h,1) x j (1,w) broadcasting already yields (h, w)
        rgb = np.stack(
            [
                (did * 3 + 7 * i + j) % 256,
                (did * 5 + 2 * i + 3 * j) % 256,
                (did * 11 + i + 9 * j) % 256,
            ],
            axis=2,
        ).astype(np.uint8)
        return [
            (did, "pal8", encode_bmp(idx, palette=pal)),
            (did, "bgr24", encode_bmp(rgb, top_down=True)),
        ]

    return _map_rows(
        _spread_ids(df, id_col),
        (id_col,),
        row,
        f"{id_col} long, kind string, payload binary",
    )


def bmp_stats(binary_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL BMP decode feature extraction through the shared header
    parse + BT.601 luminance: width, height, mean/max luminance, and
    the position-weighted checksum that catches a missed bottom-up flip
    (see :func:`_lum_frame_stats`)."""
    from n2khab_mhq_data_spark.llmdata.bmp import decode_bmp

    idt = binary_df.schema[id_col].dataType.simpleString()
    return _map_rows(
        binary_df,
        (id_col, "kind", "payload"),
        lambda did, kind, raw: [
            (did, kind, *_lum_frame_stats(decode_bmp(bytes(raw))))
        ],
        f"{id_col} {idt}, kind string, width int, height int,"
        " mean_lum double, max_lum int, wsum long",
    )


def gif_disposal_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL animated GIF89a payloads exercising ALL THREE disposal
    methods: per document a (4 + id%2)-frame animation on an 8x12
    canvas — frame 0 the full base base(i,j) = (id*17 + 5i + 9j) mod
    256, then 3 + id%2 constant 3x4 patches v_g = (id*29 + 31g) mod 256
    at (top, left) = (2*(g mod 2), 4*(g mod 3)) whose disposal cycles
    1 -> leave-in-place, 2 -> restore-to-background, 3 -> restore-to-
    previous (dg = 1 + (g-1) mod 3), delays 2 + f cs. Every composited
    snapshot pixel is SQL-derivable: the latest covering patch effect
    wins, where a past disposal-2 patch contributes the background (0),
    a past disposal-3 patch contributes NOTHING, and the current frame
    always draws — so the full GCE disposal state machine is
    oracle-checked, not just pytest-pinned."""
    from n2khab_mhq_data_spark.llmdata.gif import encode_gif_frames

    def encode(did: int) -> bytes:
        n_patches = 3 + did % 2
        i = np.arange(8)[:, None]
        j = np.arange(12)[None, :]
        frames = [((did * 17 + 5 * i + 9 * j) % 256).astype(np.uint8)]
        offsets = [(0, 0)]
        disposals = [1]
        for g in range(1, n_patches + 1):
            v = (did * 29 + 31 * g) % 256
            frames.append(np.full((3, 4), v, dtype=np.uint8))
            offsets.append((2 * (g % 2), 4 * (g % 3)))
            disposals.append(1 + (g - 1) % 3)
        return encode_gif_frames(
            frames,
            [2 + f for f in range(n_patches + 1)],
            canvas=(8, 12),
            offsets=offsets,
            disposals=disposals,
        )

    return _payloads(df, id_col, encode)


def gif_disposal_stats(
    binary_df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """REAL animated-GIF frame extraction with a position-weighted
    checksum per composited snapshot — wsum is what proves the disposal
    restores happened at the right RECTS (see
    :func:`_lum_frame_stats`)."""
    from n2khab_mhq_data_spark.llmdata.gif import decode_gif_frames

    def row(did, raw):
        delays, frames = decode_gif_frames(bytes(raw))
        return [
            (did, f, len(frames), d, *_lum_frame_stats(img)[2:])
            for f, (d, img) in enumerate(zip(delays, frames))
        ]

    return _map_rows(
        binary_df,
        (id_col, "payload"),
        row,
        f"{id_col} long, frame_idx int, n_frames int, delay_cs int,"
        " mean_v double, max_v int, wsum long",
    )


def bmp_rle_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL run-length BMP payloads (llmdata/bmp.py): per document a
    BI_RLE8 and a BI_RLE4 bitmap on a (4 + id%4) x (6 + id%5) grid with
    RUN-FRIENDLY content — RLE8 indices idx8(i, j) = (id*13 + 5i +
    3*(j div 3)) mod 256 through the permuted table p[k] = (149k + id)
    mod 256, RLE4 indices idx4(i, j) = (id + 2i + (j div 2)) mod 16
    through the same table's first 16 entries — so runs, per-row
    end-of-line escapes, the end-of-bitmap escape, and the nibble
    packing all round-trip with SQL-derivable luminance (absolute mode
    and delta skips are decoder-side features pinned by hand-built
    streams in tests)."""
    from n2khab_mhq_data_spark.llmdata.bmp import encode_bmp_rle

    def row(did):
        did = int(did)
        i = np.arange(4 + did % 4)[:, None]
        j = np.arange(6 + did % 5)[None, :]
        pal = [(149 * k + did) % 256 for k in range(256)]
        idx8 = ((did * 13 + 5 * i + 3 * (j // 3)) % 256).astype(np.uint8)
        idx4 = ((did + 2 * i + j // 2) % 16).astype(np.uint8)
        return [
            (did, "rle8", encode_bmp_rle(idx8, pal, bits=8)),
            (did, "rle4", encode_bmp_rle(idx4, pal, bits=4)),
        ]

    return _map_rows(
        _spread_ids(df, id_col),
        (id_col,),
        row,
        f"{id_col} long, kind string, payload binary",
    )


def adpcm_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL IMA ADPCM WAV payloads: per document one mono tag-0x11 file
    of n = 32 + 2*(id%8) nibbles nib(k) = (id*7 + 3k) mod 16, initial
    predictor ((id*97) mod 4096) - 2048 and initial step index id mod
    89 — every decoded sample is derivable by walking the PUBLISHED
    stateful IMA recursion, which the DuckDB oracle does with a
    recursive CTE (the first genuinely sequential-decode oracle in the
    suite)."""

    def encode(did: int) -> bytes:
        nibs = [(did * 7 + 3 * k) % 16 for k in range(32 + 2 * (did % 8))]
        return encode_wav_adpcm(
            nibs, ((did * 97) % 4096) - 2048, did % 89, 8000
        )

    return _payloads(df, id_col, encode)


def adpcm_stats(binary_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL IMA ADPCM decode feature extraction through the shared WAV
    chunk walk: (sample_rate, n_samples, peak, sum_pcm, last_pcm) per
    payload — last_pcm is the maximally state-sensitive statistic (one
    wrong step anywhere in the recursion lands on a different final
    predictor), sums compare on the exact integer grid."""

    def row(did, raw):
        rate, pcm = decode_wav(bytes(raw))
        x = pcm.astype(np.int64)
        return [(
            did, rate, len(pcm), int(np.abs(x).max()), int(x.sum()),
            int(x[-1]),
        )]

    idt = binary_df.schema[id_col].dataType.simpleString()
    return _map_rows(
        binary_df,
        (id_col, "payload"),
        row,
        f"{id_col} {idt}, sample_rate int, n_samples long, peak long,"
        " sum_pcm long, last_pcm long",
    )


def png_interlace_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL Adam7-interlaced PNG payloads: per document one
    grayscale PNG on a (9 + id%8) x (11 + id%9) grid — large enough
    that all SEVEN passes transmit rows — with
    v(i, j) = (id*13 + 7i + 3j) mod 256. Interlace scatters pixels
    across passes, so only the position-weighted checksum proves the
    de-interlace reassembly (mean/max are placement-invariant)."""

    def row(did):
        k = int(did)
        i = np.arange(9 + k % 8)[:, None]
        j = np.arange(11 + k % 9)[None, :]
        img = ((k * 13 + 7 * i + 3 * j) % 256).astype(np.uint8)
        return [(did, encode_png(img, interlace=True))]

    return _map_rows(
        _spread_ids(df, id_col),
        (id_col,),
        row,
        f"{id_col} long, payload binary",
    )


def png_interlace_stats(
    binary_df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Decode Adam7 PNGs through the real decoder and emit the shared
    luminance stats (see :func:`_lum_frame_stats`)."""
    idt = binary_df.schema[id_col].dataType.simpleString()
    return _map_rows(
        binary_df,
        (id_col, "payload"),
        lambda did, raw: [(did, *_lum_frame_stats(decode_png(bytes(raw))))],
        f"{id_col} {idt}, width int, height int,"
        " mean_lum double, max_lum int, wsum long",
    )


def tiff_payloads(
    df: DataFrame, id_col: str = "doc_id", packbits: bool = False
) -> DataFrame:
    """REAL baseline-TIFF payloads (llmdata/tiff.py): per document
    TWO files on a (3 + id%5) x (5 + id%6) grid. Uncompressed mode:
    kind 'ii_strips' is little-endian with rows_per_strip=2
    (multi-strip walk) and kind 'mm_single' is big-endian in one strip,
    pixel v(i, j) = (id*7 + 5i + 11j) mod 256. PackBits mode: the same
    two kinds but run-friendly content v(i, j) = (id*19 + 3i + j div 3)
    mod 256 (runs of 3 along each row) compressed per strip with the
    TIFF 6.0 PackBits RLE."""
    from n2khab_mhq_data_spark.llmdata.tiff import encode_tiff

    def row(did):
        did = int(did)
        i = np.arange(3 + did % 5)[:, None]
        j = np.arange(5 + did % 6)[None, :]
        if packbits:
            img = (did * 19 + 3 * i + j // 3) % 256
        else:
            img = (did * 7 + 5 * i + 11 * j) % 256
        img = img.astype(np.uint8)
        return [
            (did, "ii_strips", encode_tiff(
                img, byte_order="<", rows_per_strip=2, packbits=packbits
            )),
            (did, "mm_single", encode_tiff(
                img, byte_order=">", packbits=packbits
            )),
        ]

    return _map_rows(
        _spread_ids(df, id_col),
        (id_col,),
        row,
        f"{id_col} long, kind string, payload binary",
    )


def tiff_stats(binary_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode baseline TIFFs through the real IFD walk and emit the
    shared stats (see :func:`_lum_frame_stats` — TIFF gray is the raw
    sample value, no luminance transform)."""
    from n2khab_mhq_data_spark.llmdata.tiff import decode_tiff

    idt = binary_df.schema[id_col].dataType.simpleString()
    return _map_rows(
        binary_df,
        (id_col, "kind", "payload"),
        lambda did, kind, raw: [
            (did, kind, *_lum_frame_stats(decode_tiff(bytes(raw))))
        ],
        f"{id_col} {idt}, kind string, width int, height int,"
        " mean_lum double, max_lum int, wsum long",
    )
