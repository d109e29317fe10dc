"""Multimodal columns (§2.2 extension): image/audio/video as opaque
``binary`` columns + typed metadata structs.

Two decode tiers. Formats with a pure-numpy decoder are decoded FOR REAL
— PPM (P6, the netpbm raw-RGB format), uncompressed 24-bit BMP,
EVERY legal static PNG (stdlib ``zlib`` inflate + all five scanline
filters; all five color types including palette, depths 1-16, Adam7
interlacing — full since round 8) and Huffman JPEG — both
baseline-sequential (marker parse, per-MCU Huffman entropy decode,
dequant, 8x8 IDCT, chroma upsample, YCbCr→RGB) and PROGRESSIVE (SOF2:
multi-scan spectral selection + successive approximation per T.81
annex G, coefficients accumulated across scans) — PNG + JPEG together
cover the overwhelming majority of real crawl images — for images,
RIFF 16-bit-PCM WAV for audio, all parseable with struct + frombuffer
+ zlib + numpy, no codec library — including real pixel/PCM features
and a real nearest-neighbor resample (images) / windowed frame
sampling (audio). Formats that genuinely need codec libraries
(MP3, video FRAMES, arithmetic or hierarchical JPEG) stay stubbed
(deterministic fake derived from the content digest, or
``NotImplementedError`` in strict mode); GIF (LZW + palette, first
frame) decodes for real since round 8, and MP4 video gets REAL
container metadata (width/height/frame count from a pure ISO-BMFF box
walk) with only the pixel feature faked.
Either way the Spark-side plumbing is identical and real: binary schema,
Arrow-batched ``mapInPandas``, per-batch vectorization,
partition-preserving shape.
"""

from __future__ import annotations

import re
import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MIME_PPM = "image/x-portable-pixmap"
MIME_PGM = "image/x-portable-graymap"
MIME_PBM = "image/x-portable-bitmap"
MIME_BMP = "image/bmp"
MIME_PNG = "image/png"
MIME_WAV = "audio/wav"

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("mime", T.StringType()),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


_MAGIC_MIMES = (
    ("5036", MIME_PPM),          # 'P6'
    ("5033", MIME_PPM),          # 'P3' (ASCII pixmap)
    ("5031", MIME_PBM),          # 'P1' (ASCII bitmap)
    ("5034", MIME_PBM),          # 'P4' (binary bitmap)
    ("5032", MIME_PGM),          # 'P2' (ASCII graymap)
    ("5035", MIME_PGM),          # 'P5' (binary graymap)
    ("424D", MIME_BMP),          # 'BM'
    ("89504E47", MIME_PNG),
    ("49492A00", "image/tiff"),   # little-endian 'II*\0'
    ("4D4D002A", "image/tiff"),   # big-endian 'MM\0*'
    ("FFD8FF", "image/jpeg"),
    ("47494638", "image/gif"),   # 'GIF8'
    ("52494646", "audio/x-riff"),  # RIFF container (WAV/AVI/WebP outer)
    ("664C6143", "audio/flac"),  # 'fLaC'
    ("25504446", "application/pdf"),
)

_MP4_FTYP_HEX = "66747970"  # 'ftyp' at byte offset 4 (after the box size)


def detect_mime(content_col) -> "F.Column":
    """Magic-byte mime sniff as a pure codegen expression (hex-prefix
    compare on the first bytes — no UDF, no decode): routes unknown
    blobs to the right decode tier. Unrecognized content falls back to
    application/octet-stream (the stub tier)."""
    content = (
        F.col(content_col) if isinstance(content_col, str) else content_col
    )
    h = F.hex(F.substring(content, 1, 8))
    # RIFF is a container: bytes 9-12 name the form ('WAVE' → audio/wav);
    # other forms (AVI, WebP's outer) keep the generic container mime
    riff_form = F.hex(F.substring(content, 9, 4))
    expr = None
    for prefix, mime in _MAGIC_MIMES:
        cond = h.startswith(prefix)
        val = (
            F.when(riff_form == "57415645", MIME_WAV)
            .when(riff_form == "57454250", "image/webp")
            .otherwise(mime)
            if prefix == "52494646"
            else F.lit(mime)
        )
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    # MP4/ISO-BMFF: the magic sits at offset 4 ('ftyp' after the first
    # box's 32-bit size), so it can't ride the prefix table above
    expr = expr.when(
        F.hex(F.substring(content, 5, 4)) == _MP4_FTYP_HEX, "video/mp4"
    )
    return expr.otherwise("application/octet-stream")


def attach_binary(df: DataFrame, text_col: str, id_col: str,
                  mime: str = "application/octet-stream") -> DataFrame:
    """Make a media table from any string column: UTF-8 encode → binary
    content + typed metadata. Stands in for reading real image/audio blobs
    (at scale: parquet binary columns, or spark.read.format('binaryFile'))."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.encode(F.col(text_col), "utf-8").alias("content"),
        F.lit(mime).alias("mime"),
    )


def _decode_ppm_p6(content: bytes) -> np.ndarray:
    """Pure-numpy PPM (P6) decode → uint8 pixel array (H, W, 3).

    Header grammar: ``P6 <ws> width <ws> height <ws> maxval <one ws>``
    with ``#``-comments allowed between tokens; raw RGB bytes follow.
    maxval == 255 carries bytes verbatim; every other maxval scales
    round(v·255/maxval) per the spec (one-byte samples for maxval
    2..254 — round 10; big-endian two-byte samples for 256..65535 —
    round 9), so the same image re-encoded at a different maxval
    decodes to the same pixels. High-byte narrowing would mis-scale
    every maxval except 65535."""
    if not content or not content.startswith(b"P6"):
        raise ValueError("not a P6 PPM (missing magic)")
    (width, height, maxval), pos = _pnm_header_ints(content, 3)
    if maxval > 65535 or maxval < 1:
        raise ValueError("Netpbm maxval out of range")
    pos += 1  # exactly one whitespace byte separates header from raster
    need = width * height * 3
    if maxval > 255:
        avail = (len(content) - pos) // 2  # ignore a trailing odd byte
        px = np.frombuffer(content, dtype=">u2", count=avail, offset=pos)
        if px.size < need:
            raise ValueError("truncated PPM raster")
        px = px[:need]
        if int(px.max(initial=0)) > maxval:
            # the ASCII path validates range; the binary path must too,
            # or out-of-range samples wrap mod 256 after narrowing
            raise ValueError("binary Netpbm sample out of range")
        px = _pnm_rescale(px, maxval)
    else:
        px = np.frombuffer(content, dtype=np.uint8, count=-1, offset=pos)
        if px.size < need:
            raise ValueError("truncated PPM raster")
        px = px[:need]
        if maxval != 255:
            if int(px.max(initial=0)) > maxval:
                raise ValueError("binary Netpbm sample out of range")
            px = _pnm_rescale(px, maxval)
    return px.reshape(height, width, 3).copy()


def _pnm_rescale(samples: np.ndarray, maxval: int) -> np.ndarray:
    """Scale Netpbm samples to uint8: round(v·255/maxval) — exact 0→0
    and maxval→255 endpoints at any legal maxval. Applied to EVERY
    maxval != 255, not just the two-byte rasters: per the Netpbm spec
    all sample values are fractions of maxval, so an image re-encoded
    at maxval 200 vs 400 must decode to the same pixels or pHash /
    near-dup signals desynchronize across re-encodings (round-10
    review finding; only maxval == 255 carries bytes verbatim)."""
    return np.round(
        samples.astype(np.float64) * (255.0 / maxval)
    ).astype(np.uint8)


def _encode_ppm_p6(px: np.ndarray) -> bytes:
    height, width = px.shape[:2]
    return b"P6\n%d %d\n255\n" % (width, height) + px.astype(np.uint8).tobytes()


def _pnm_header_ints(content: bytes, n_vals: int) -> tuple[list[int], int]:
    """Parse ``n_vals`` whitespace-separated decimal header tokens after
    the 2-byte Netpbm magic, honoring ``#`` comments; returns
    (values, position just past the last digit) — the P6 grammar,
    shared by every family member."""
    pos, vals = 2, []
    while len(vals) < n_vals:
        while pos < len(content) and content[pos : pos + 1].isspace():
            pos += 1
        if content[pos : pos + 1] == b"#":
            while pos < len(content) and content[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(content) and content[pos : pos + 1].isdigit():
            pos += 1
        if start == pos:
            raise ValueError("malformed Netpbm header")
        vals.append(int(content[start:pos]))
    return vals, pos


def _gray3(gray: np.ndarray) -> np.ndarray:
    """(H, W) gray → (H, W, 3) — the decode tier's channel convention."""
    return np.repeat(gray[:, :, None], 3, axis=2)


def _tiff_lzw_decode(data: bytes, n_bytes: int) -> bytes:
    """TIFF-flavor LZW (Compression=5) → exactly ``n_bytes`` raw bytes.
    The same parent-pointer LZW core as ``_gif_lzw_decode`` with the
    TIFF 6.0 §13 differences: MSB-first bit packing, fixed 8-bit
    literals (256=Clear, 257=EOI, first entry 258), and the EarlyChange
    off-by-one — the DECODER widens when next_code reaches 2^w − 1
    (511/1023/2047), one code earlier than GIF's 2^w (the PDF
    LZWDecode EarlyChange=1 rule; the paired encoder below widens at
    2^w, preserving the one-entry encoder/decoder lag)."""
    clear, eoi = 256, 257
    out = bytearray()
    prefix = np.full(4096, -1, dtype=np.int32)
    suffix = np.zeros(4096, dtype=np.uint8)
    for i in range(clear):
        suffix[i] = i
    next_code, width = 258, 9
    acc = nbits = 0
    prev = -1
    pos, n = 0, len(data)
    while len(out) < n_bytes:
        while nbits < width:
            if pos >= n:
                raise ValueError("truncated TIFF LZW stream")
            acc = (acc << 8) | data[pos]
            nbits += 8
            pos += 1
        nbits -= width
        code = (acc >> nbits) & ((1 << width) - 1)
        acc &= (1 << nbits) - 1
        if code == clear:
            next_code, width, prev = 258, 9, -1
            continue
        if code == eoi:
            break
        if prev < 0:
            if code >= clear:
                raise ValueError("TIFF LZW first code not a literal")
            out.append(code)
            prev = code
            continue
        if code > next_code or code >= 4096:
            raise ValueError("TIFF LZW code out of sequence")
        probe = prev if code == next_code else code
        seq = []
        while probe >= 0:
            seq.append(int(suffix[probe]))
            probe = prefix[probe] if probe >= clear else -1
        seq.reverse()
        if code == next_code:
            seq.append(seq[0])
        out.extend(seq[: n_bytes - len(out)])
        if next_code < 4096:
            prefix[next_code] = prev
            suffix[next_code] = seq[0]
            next_code += 1
            if next_code == (1 << width) - 1 and width < 12:
                width += 1
        prev = code
    if len(out) < n_bytes:
        raise ValueError("TIFF LZW stream ended before strip complete")
    return bytes(out)


def _tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF-flavor LZW encoder — the round-trip twin of
    ``_tiff_lzw_decode`` (in-repo fixtures only, like the GIF/PNG
    encoders): MSB-first packing, leading Clear, EarlyChange width bump
    at next_code == 2^w (one after the decoder's 2^w − 1), table reset
    via Clear before the decoder's 4094 ceiling."""
    out = bytearray()
    acc = nbits = 0
    width = 9

    def put(code: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
            acc &= (1 << nbits) - 1

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    put(256)  # spec: streams begin with a Clear
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        put(table[w])
        table[wc] = next_code
        next_code += 1
        if next_code == (1 << width) and width < 12:
            width += 1
        w = bytes([b])
        if next_code >= 4093:
            put(256)
            table = {bytes([i]): i for i in range(256)}
            next_code, width = 258, 9
    if w:
        put(table[w])
    put(257)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _tiff_undo_predictor2(chunk: bytes, rows: int, width: int,
                          spp: int) -> bytes:
    """Invert TIFF horizontal differencing (Predictor=2, 8-bit): each
    row stores per-channel deltas left-to-right; a cumulative sum mod
    256 along the row restores the samples."""
    a = np.frombuffer(chunk, np.uint8, count=rows * width * spp).reshape(
        rows, width, spp
    )
    return (
        np.cumsum(a, axis=1, dtype=np.int64) % 256
    ).astype(np.uint8).tobytes()


def _decode_tiff(content: bytes) -> np.ndarray:
    """Pure-struct TIFF decode → uint8 (H, W, 3): both byte orders
    (II/MM), first IFD, 8-bit chunky strips, grayscale (Photometric
    0 = WhiteIsZero inverted, 1 = BlackIsZero) or RGB, any strip
    layout; Compression 1 (none) or 5 (LZW — the most common
    compressed flavor in the wild, per-strip streams) with horizontal
    Predictor 2. JPEG-in-TIFF/deflate, planar, tiled, or non-8-bit
    files raise ValueError (the stub-routable class, like 16-bit PPM /
    RLE BMP)."""
    if len(content) < 8 or content[:2] not in (b"II", b"MM"):
        raise ValueError("not a TIFF (missing byte-order magic)")
    e = "<" if content[:2] == b"II" else ">"
    magic, ifd_off = struct.unpack_from(e + "HI", content, 2)
    if magic != 42:
        raise ValueError("not a TIFF (bad magic number)")
    if ifd_off + 2 > len(content):
        raise ValueError("truncated TIFF IFD")
    (n_entries,) = struct.unpack_from(e + "H", content, ifd_off)
    type_fmt = {3: ("H", 2), 4: ("I", 4)}  # SHORT, LONG

    def values(pos: int) -> tuple[int, list[int]]:
        tag, typ, cnt = struct.unpack_from(e + "HHI", content, pos)
        got = type_fmt.get(typ)
        if got is None:
            return tag, []  # RATIONAL/ASCII etc. — not needed here
        fmt, size = got
        off = pos + 8 if cnt * size <= 4 else struct.unpack_from(
            e + "I", content, pos + 8
        )[0]
        if off + cnt * size > len(content):
            raise ValueError("truncated TIFF entry")
        return tag, list(struct.unpack_from(e + str(cnt) + fmt, content, off))

    tags: dict[int, list[int]] = {}
    for i in range(n_entries):
        tag, vals = values(ifd_off + 2 + 12 * i)
        tags[tag] = vals

    def one(tag: int, default: int | None = None) -> int:
        v = tags.get(tag)
        if not v:
            if default is None:
                raise ValueError(f"TIFF missing required tag {tag}")
            return default
        return v[0]

    width, height = one(256), one(257)
    if width < 1 or height < 1:
        raise ValueError("malformed TIFF dimensions")
    comp = one(259, 1)
    if comp not in (1, 5):
        raise ValueError(f"TIFF compression {comp} unsupported (codec class)")
    pred = one(317, 1)
    if pred not in (1, 2):
        raise ValueError(f"TIFF predictor {pred} unsupported")
    photometric = one(262, 1)
    spp = one(277, 1)
    bits = tags.get(258, [8])
    if any(b != 8 for b in bits) or spp not in (1, 3):
        raise ValueError("only 8-bit gray/RGB TIFF supported")
    if photometric not in (0, 1, 2) or (photometric == 2) != (spp == 3):
        raise ValueError("unsupported TIFF photometric/spp combination")
    if one(284, 1) != 1:
        raise ValueError("planar TIFF unsupported")
    offsets = tags.get(273) or []
    counts = tags.get(279) or []
    if not offsets or len(offsets) != len(counts):
        raise ValueError("malformed TIFF strip tables")
    need = width * height * spp
    rows_per = one(278, height)
    if rows_per < 1:
        raise ValueError("malformed TIFF RowsPerStrip")
    row_bytes = width * spp
    raw = bytearray()
    for i, (off, cnt) in enumerate(zip(offsets, counts)):
        if off + cnt > len(content):
            raise ValueError("truncated TIFF strip")
        chunk = content[off : off + cnt]
        rows_i = min(rows_per, height - i * rows_per)
        if rows_i <= 0:
            break  # surplus strip entries beyond the raster
        if comp == 5:
            # LZW is per-strip (each strip is an independent stream)
            chunk = _tiff_lzw_decode(chunk, rows_i * row_bytes)
        if pred == 2:
            if len(chunk) < rows_i * row_bytes:
                raise ValueError("truncated TIFF strip raster")
            chunk = _tiff_undo_predictor2(chunk, rows_i, width, spp)
        raw += chunk
    if len(raw) < need:
        raise ValueError("truncated TIFF raster")
    px = np.frombuffer(bytes(raw[:need]), np.uint8)
    if spp == 3:
        return px.reshape(height, width, 3).copy()
    gray = px.reshape(height, width)
    if photometric == 0:  # WhiteIsZero
        gray = (255 - gray).astype(np.uint8)
    return _gray3(gray)


def _decode_pnm(content: bytes) -> np.ndarray:
    """Pure-numpy decode of the rest of the Netpbm family — P1 (ASCII
    bitmap), P2 (ASCII graymap), P3 (ASCII pixmap), P4 (packed-bit
    bitmap), P5 (binary graymap); P6 delegates to ``_decode_ppm_p6``.
    Bitmaps map 1=black→0 and 0=white→255 (PBM ink convention);
    gray/bitmap rasters replicate to (H, W, 3) — the tier's channel
    convention, like the PNG gray path. maxval == 255 carries samples
    verbatim (the P6 contract); every other maxval — one-byte 2..254
    and two-byte 256..65535 (big-endian binary / plain ASCII tokens)
    — scales through ``_pnm_rescale``."""
    magic = content[:2]
    if magic == b"P6":
        return _decode_ppm_p6(content)
    if magic not in (b"P1", b"P2", b"P3", b"P4", b"P5"):
        raise ValueError("not a Netpbm image")
    n_hdr = 2 if magic in (b"P1", b"P4") else 3
    vals, pos = _pnm_header_ints(content, n_hdr)
    if magic in (b"P1", b"P4"):
        width, height = vals
        maxval = 1
    else:
        width, height, maxval = vals
        if maxval > 65535 or maxval < 1:
            raise ValueError("Netpbm maxval out of range")
    if width < 1 or height < 1:
        raise ValueError("malformed Netpbm dimensions")
    if magic == b"P4":
        pos += 1  # exactly one whitespace byte before the raster
        row_bytes = (width + 7) // 8
        need = row_bytes * height
        raw = np.frombuffer(content, np.uint8, count=-1, offset=pos)
        if raw.size < need:
            raise ValueError("truncated PBM raster")
        bits = np.unpackbits(raw[:need].reshape(height, row_bytes), axis=1)
        return _gray3(((1 - bits[:, :width]) * 255).astype(np.uint8))
    if magic == b"P5":
        pos += 1
        need = width * height
        if maxval > 255:
            avail = (len(content) - pos) // 2  # ignore a trailing odd byte
            raw = np.frombuffer(content, ">u2", count=avail, offset=pos)
            if raw.size < need:
                raise ValueError("truncated PGM raster")
            raw = raw[:need]
            if int(raw.max(initial=0)) > maxval:
                raise ValueError("binary Netpbm sample out of range")
            return _gray3(
                _pnm_rescale(raw, maxval).reshape(height, width)
            )
        raw = np.frombuffer(content, np.uint8, count=-1, offset=pos)
        if raw.size < need:
            raise ValueError("truncated PGM raster")
        raw = raw[:need]
        if maxval != 255:
            if int(raw.max(initial=0)) > maxval:
                raise ValueError("binary Netpbm sample out of range")
            raw = _pnm_rescale(raw, maxval)
        return _gray3(raw.reshape(height, width))
    # ASCII rasters: comments legal between any tokens — strip them,
    # then tokenize the remainder
    body = re.sub(rb"#[^\n]*", b"", content[pos:])
    if magic == b"P1":
        arr = np.frombuffer(body, np.uint8)
        bits = arr[(arr == 0x30) | (arr == 0x31)] - 0x30
        if bits.size < width * height:
            raise ValueError("truncated P1 raster")
        bits = bits[: width * height].reshape(height, width)
        return _gray3(((1 - bits) * 255).astype(np.uint8))
    try:
        toks = [int(t) for t in body.split()]
    except ValueError as exc:
        raise ValueError("malformed ASCII Netpbm raster") from exc
    ch = 3 if magic == b"P3" else 1
    need = width * height * ch
    if len(toks) < need:
        raise ValueError("truncated ASCII Netpbm raster")
    px = np.asarray(toks[:need], dtype=np.int64)
    if px.min() < 0 or px.max() > maxval:
        raise ValueError("ASCII Netpbm sample out of range")
    px = _pnm_rescale(px, maxval) if maxval != 255 else px.astype(np.uint8)
    return (
        px.reshape(height, width, 3)
        if magic == b"P3"
        else _gray3(px.reshape(height, width))
    )


def _decode_bmp(content: bytes) -> np.ndarray:
    """Pure-numpy BMP decode → uint8 (H, W, 3) RGB: uncompressed
    24-bit, uncompressed 8-bit palette, and RLE8-compressed 8-bit
    palette (round 9 — previously a documented valid-magic gap routed
    to the stub).

    BITMAPFILEHEADER (14 bytes) + BITMAPINFOHEADER: rows are padded to
    4-byte multiples, stored bottom-up when height > 0, channels BGR;
    the palette (BGRA quads, biClrUsed entries or 256) sits right
    after the info header. RLE8 (BI_RLE8): (count, index) runs;
    count=0 escapes to end-of-line (0), end-of-bitmap (1), delta (2 —
    dx, dy follow; skipped pixels stay index 0 per the de-facto
    convention) or absolute mode (n literal indices, word-aligned)."""
    if len(content) < 54 or content[:2] != b"BM":
        raise ValueError("not a BMP (missing magic)")
    (data_off,) = struct.unpack_from("<I", content, 10)
    hdr_size, width, height = struct.unpack_from("<Iii", content, 14)
    _planes, bpp = struct.unpack_from("<HH", content, 26)
    (compression,) = struct.unpack_from("<I", content, 30)
    bottom_up, h_abs = height > 0, abs(height)
    if width < 1 or h_abs < 1:
        raise ValueError("malformed BMP dimensions")
    if bpp == 24 and compression == 0:
        row_bytes = (width * 3 + 3) // 4 * 4
        raw = np.frombuffer(
            content, dtype=np.uint8, count=row_bytes * h_abs, offset=data_off
        ).reshape(h_abs, row_bytes)
        px = raw[:, : width * 3].reshape(h_abs, width, 3)[..., ::-1]
        return (px[::-1] if bottom_up else px).copy()
    if bpp == 8 and compression in (0, 1):
        (clr_used,) = struct.unpack_from("<I", content, 46)
        n_pal = clr_used or 256
        pal_off = 14 + hdr_size
        # count=-1 + explicit size check: an explicit count makes
        # numpy raise its own error first and the diagnostic below
        # becomes unreachable (review finding)
        quads = np.frombuffer(content, dtype=np.uint8, count=-1,
                              offset=pal_off)
        if quads.size < n_pal * 4:
            raise ValueError("truncated BMP palette")
        quads = quads[: n_pal * 4]
        palette = quads.reshape(n_pal, 4)[:, :3][:, ::-1]  # BGRA→RGB
        if compression == 0:
            row_bytes = (width + 3) // 4 * 4
            raw = np.frombuffer(
                content, dtype=np.uint8, count=row_bytes * h_abs,
                offset=data_off,
            ).reshape(h_abs, row_bytes)
            idx = raw[:, :width]
        else:
            idx = _bmp_rle8(content[data_off:], width, h_abs)
        if int(idx.max(initial=0)) >= n_pal:
            raise ValueError("BMP palette index out of range")
        px = palette[idx]
        return (px[::-1] if bottom_up else px).copy()
    raise ValueError(
        "only uncompressed 24-bit / palette-8 / RLE8 BMP supported"
    )


def _bmp_rle8(data: bytes, width: int, height: int) -> np.ndarray:
    """RLE8 run decode → (height, width) palette indices, rows in STORED
    order (caller flips for bottom-up). Overflow past a row edge or the
    raster, and a truncated stream, raise — malformed compression must
    route to the stub, not wrap silently."""
    idx = np.zeros((height, width), dtype=np.uint8)
    x = y = pos = 0
    n = len(data)
    while pos + 1 < n:
        cnt, val = data[pos], data[pos + 1]
        pos += 2
        if cnt > 0:  # encoded run
            if y >= height or x + cnt > width:
                raise ValueError("RLE8 run overflows row")
            idx[y, x : x + cnt] = val
            x += cnt
            continue
        if val == 0:  # end of line
            x, y = 0, y + 1
            continue
        if val == 1:  # end of bitmap
            return idx
        if val == 2:  # delta
            if pos + 1 >= n:
                raise ValueError("truncated RLE8 delta")
            x += data[pos]
            y += data[pos + 1]
            pos += 2
            if x > width or y > height:
                raise ValueError("RLE8 delta overflows raster")
            continue
        # absolute mode: val literal indices, padded to a word boundary
        run = data[pos : pos + val]
        if len(run) < val:
            raise ValueError("truncated RLE8 absolute run")
        if y >= height or x + val > width:
            raise ValueError("RLE8 absolute run overflows row")
        idx[y, x : x + val] = np.frombuffer(run, np.uint8)
        x += val
        pos += val + (val & 1)
    raise ValueError("RLE8 stream missing end-of-bitmap")


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


# Adam7 interlace pass grid: (x_origin, y_origin, x_step, y_step)
_PNG_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_stride(width: int, channels: int, depth: int) -> int:
    """Scanline byte length (excluding the filter byte)."""
    return (width * channels * depth + 7) // 8


def _png_unfilter(
    raw: bytes, pos: int, nrows: int, stride: int, bpp: int
) -> tuple[np.ndarray, int]:
    """Reverse the five spec filters (None/Sub/Up/Average/Paeth) over
    ``nrows`` scanlines of ``stride`` bytes each, mod-256, with filter
    delta ``bpp`` bytes (= ceil(channels*depth/8), the byte distance to
    the pixel to the left). Returns the (nrows, stride) byte raster and
    the position past the last line."""
    out = np.empty((nrows, stride), dtype=np.uint8)
    npix = stride // bpp  # exact: stride is a multiple of bpp, or bpp=1
    prev = np.zeros((npix, bpp), dtype=np.int16)
    for y in range(nrows):
        f = raw[pos]
        line = np.frombuffer(raw, np.uint8, stride, pos + 1)
        pos += 1 + stride
        if f == 0:
            cur = line.reshape(npix, bpp).astype(np.int16)
        elif f == 2:  # Up — fully vectorized, mod-256 wrap
            cur = (line.reshape(npix, bpp) + prev) & 0xFF
        elif f == 1:  # Sub — per-byte-offset prefix sum mod 256
            cur = (
                np.cumsum(line.reshape(npix, bpp), axis=0, dtype=np.int64)
                & 0xFF
            ).astype(np.int16)
        elif f == 3:  # Average — sequential in x, vectorized per pixel
            enc = line.reshape(npix, bpp).astype(np.int16)
            cur = np.empty_like(enc)
            a = np.zeros(bpp, dtype=np.int16)
            for x in range(npix):
                a = (enc[x] + ((a + prev[x]) >> 1)) & 0xFF
                cur[x] = a
        elif f == 4:  # Paeth — sequential in x, vectorized per pixel
            enc = line.reshape(npix, bpp).astype(np.int16)
            cur = np.empty_like(enc)
            a = np.zeros(bpp, dtype=np.int16)
            c = np.zeros(bpp, dtype=np.int16)
            for x in range(npix):
                b = prev[x]
                p = a + b - c
                pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
                pr = np.where(
                    (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)
                )
                a = (enc[x] + pr) & 0xFF
                cur[x] = a
                c = b
        else:
            raise ValueError(f"unknown PNG filter {f}")
        out[y] = cur.astype(np.uint8).reshape(-1)
        prev = cur
    return out, pos


def _png_samples(
    rows: np.ndarray, width: int, channels: int, depth: int
) -> np.ndarray:
    """Byte raster → (nrows, width, channels) uint8 samples: 16-bit
    narrows to the high byte, sub-byte depths unpack MSB-first (raw
    index/gray values, NOT yet scaled)."""
    nrows = rows.shape[0]
    if depth == 8:
        return np.ascontiguousarray(
            rows[:, : width * channels]
        ).reshape(nrows, width, channels)
    if depth == 16:
        return np.ascontiguousarray(
            rows.reshape(nrows, -1)[:, : 2 * width * channels : 2]
        ).reshape(nrows, width, channels)
    bits = np.unpackbits(rows, axis=1)
    vals = bits.reshape(nrows, -1, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    v = (vals * weights).sum(axis=2).astype(np.uint8)
    return v[:, :width].reshape(nrows, width, 1)


def _decode_png(content: bytes) -> np.ndarray:
    """Pure stdlib-zlib/numpy PNG decode → uint8 (H, W, 3) RGB.

    Critical chunks only (CRCs not verified — a flipped bit shows up as
    garbage pixels, same policy as the other decoders' tolerance).
    Since round 8 the tier reads EVERY legal static PNG: color types 0
    (gray), 2 (RGB), 3 (palette via PLTE), 4 (gray+alpha), 6 (RGBA);
    every legal bit depth (1/2/4/8/16 — 16-bit narrows to the high
    byte, sub-byte gray scales by exact bit replication: ×255, ×85,
    ×17); and both interlace methods (none / Adam7's seven passes, each
    independently filtered). The single zlib stream is the
    concatenation of all IDAT chunks; each inflated scanline leads with
    a filter byte and all five filters (None/Sub/Up/Average/Paeth) are
    reversed per the spec's mod-256 arithmetic with the
    ceil(channels·depth/8)-byte pixel delta. Gray replicates to 3
    channels and alpha is dropped (features/pHash operate on color, not
    coverage). Decompression stays bounded by the IHDR-derived raster
    size (decompression-bomb guard).
    """
    if len(content) < 8 or not content.startswith(_PNG_SIG):
        raise ValueError("not a PNG (missing signature)")
    pos, ihdr, idat, plte = 8, None, [], None
    while pos + 8 <= len(content):
        (clen,) = struct.unpack_from(">I", content, pos)
        ctype = content[pos + 4 : pos + 8]
        data = content[pos + 8 : pos + 8 + clen]
        if len(data) < clen:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + clen  # length + type + data + crc
    if ihdr is None or len(ihdr) < 13 or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, ctype_, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr[:13]
    )
    if comp != 0 or filt != 0 or interlace not in (0, 1):
        raise ValueError("malformed PNG IHDR methods")
    legal_depths = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
                    4: (8, 16), 6: (8, 16)}
    if ctype_ not in legal_depths or depth not in legal_depths[ctype_]:
        raise ValueError(
            f"illegal PNG depth/color combination ({depth}, {ctype_})"
        )
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype_]
    if ctype_ == 3:
        if plte is None or len(plte) % 3 or not plte:
            raise ValueError("palette PNG missing/malformed PLTE")
        pal = np.frombuffer(plte, np.uint8).reshape(-1, 3)
    if w == 0 or h == 0:
        raise ValueError("empty PNG")
    bpp = max(1, channels * depth // 8)
    if interlace:
        passes = [
            (x0, y0, dx, dy, -(-(w - x0) // dx), -(-(h - y0) // dy))
            for x0, y0, dx, dy in _PNG_ADAM7
        ]
        passes = [p for p in passes if p[4] > 0 and p[5] > 0]
    else:
        passes = [(0, 0, 1, 1, w, h)]
    want = sum(
        ph * (1 + _png_stride(pw, channels, depth))
        for _, _, _, _, pw, ph in passes
    )
    # bounded inflate: the raster size is known from IHDR, so cap the
    # decompressed output at it — an adversarial decompression-bomb
    # PNG (tiny IDAT inflating to GBs) must reject as a ValueError the
    # non-strict tier can stub, never as an executor OOM
    try:
        d = zlib.decompressobj()
        raw = d.decompress(b"".join(idat), want)
        overflow = bool(d.decompress(d.unconsumed_tail, 1))
    except zlib.error as exc:
        raise ValueError(f"corrupt PNG zlib stream: {exc}") from exc
    if len(raw) < want:
        raise ValueError("truncated PNG raster")
    if overflow:
        raise ValueError("PNG raster exceeds IHDR-declared size")
    samples = np.zeros((h, w, channels), dtype=np.uint8)
    pos = 0
    for x0, y0, dx, dy, pw, ph in passes:
        rows, pos = _png_unfilter(
            raw, pos, ph, _png_stride(pw, channels, depth), bpp
        )
        samples[y0::dy, x0::dx] = _png_samples(rows, pw, channels, depth)
    if ctype_ == 3:
        if int(samples.max()) >= len(pal):
            raise ValueError("PNG palette index out of range")
        return np.ascontiguousarray(pal[samples[..., 0]])
    if ctype_ == 0 and depth < 8:
        samples = samples * np.uint8(255 // ((1 << depth) - 1))
    if channels == 1:
        return np.repeat(samples, 3, axis=2)
    if channels == 2:
        return np.repeat(samples[..., :1], 3, axis=2)
    if channels == 4:
        return np.ascontiguousarray(samples[..., :3])
    return samples


def _png_pack_rows(
    sub: np.ndarray, depth: int
) -> np.ndarray:
    """(ph, pw, channels) samples → (ph, stride) byte raster: 16-bit
    big-endian pairs, 8-bit as-is, sub-byte packed MSB-first with
    zero-padded scanline tails."""
    ph, pw, ch = sub.shape
    if depth == 8:
        return sub.astype(np.uint8).reshape(ph, pw * ch)
    if depth == 16:
        b = sub.astype(np.uint16)
        return np.stack(
            [(b >> 8).astype(np.uint8), (b & 0xFF).astype(np.uint8)],
            axis=-1,
        ).reshape(ph, pw * ch * 2)
    v = sub.astype(np.uint8).reshape(ph, pw)
    bits = (
        (v[:, :, None] >> np.arange(depth - 1, -1, -1)) & 1
    ).astype(np.uint8).reshape(ph, pw * depth)
    return np.packbits(bits, axis=1)  # zero-pads the tail


def _png_filter_rows(
    rows: np.ndarray, filter_type: int, bpp: int
) -> bytes:
    """Apply one spec filter to every scanline of a byte raster (the
    encoder half of ``_png_unfilter``; mod-256, ``bpp``-byte delta)."""
    out = []
    prev = np.zeros(rows.shape[1], dtype=np.int16)
    for y in range(rows.shape[0]):
        cur = rows[y].astype(np.int16)
        left = np.zeros_like(cur)
        left[bpp:] = cur[:-bpp]
        if filter_type == 0:
            enc = cur
        elif filter_type == 1:  # Sub
            enc = cur - left
        elif filter_type == 2:  # Up
            enc = cur - prev
        elif filter_type == 3:  # Average
            enc = cur - ((left + prev) >> 1)
        elif filter_type == 4:  # Paeth
            ul = np.zeros_like(prev)
            ul[bpp:] = prev[:-bpp]
            p = left + prev - ul
            pa, pb, pc = (
                np.abs(p - left),
                np.abs(p - prev),
                np.abs(p - ul),
            )
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul)
            )
            enc = cur - pred
        else:
            raise ValueError(f"unknown PNG filter {filter_type}")
        out.append(
            bytes([filter_type]) + (enc & 0xFF).astype(np.uint8).tobytes()
        )
        prev = cur
    return b"".join(out)


def _encode_png(
    px: np.ndarray,
    filter_type: int = 0,
    color_type: int = 2,
    depth: int = 8,
    palette: np.ndarray | None = None,
    interlace: bool = False,
) -> bytes:
    """Minimal PNG encoder for tests and round-trips, covering exactly
    the decoder's matrix: color types 0/2/3/4/6, depths 1/2/4/8/16,
    optional Adam7 interlacing, every scanline under ``filter_type``
    (all five spec filters 0-4). Input is the SAMPLE array — (h, w) or
    (h, w, 1) for gray/palette (palette indices with ``palette`` as the
    (n, 3) color table; sub-byte gray in 0..2^depth-1; 16-bit as
    uint16), (h, w, channels) otherwise; a 2-D input with the default
    ``color_type=2`` replicates to RGB for backward compatibility."""
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if channels is None:
        raise ValueError(f"unsupported PNG color type {color_type}")
    if color_type == 3 and palette is None:
        raise ValueError("palette PNG needs the palette argument")
    a = px.astype(np.uint16 if depth == 16 else np.uint8)
    if a.ndim == 2:
        a = a[..., None]
        if color_type == 2:
            a = np.repeat(a, 3, axis=2)
    if a.shape[2] != channels:
        raise ValueError(
            f"color type {color_type} needs {channels} channels, "
            f"got {a.shape[2]}"
        )
    h, w = a.shape[:2]
    bpp = max(1, channels * depth // 8)
    if interlace:
        passes = [
            (x0, y0, dx, dy)
            for x0, y0, dx, dy in _PNG_ADAM7
            if x0 < w and y0 < h
        ]
    else:
        passes = [(0, 0, 1, 1)]
    body = b"".join(
        _png_filter_rows(
            _png_pack_rows(a[y0::dy, x0::dx], depth), filter_type, bpp
        )
        for x0, y0, dx, dy in passes
    )

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(
        ">IIBBBBB", w, h, depth, color_type, 0, 0, 1 if interlace else 0
    )
    plte = (
        chunk(b"PLTE", np.asarray(palette, np.uint8).tobytes())
        if color_type == 3
        else b""
    )
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + plte
        + chunk(b"IDAT", zlib.compress(body))
        + chunk(b"IEND", b"")
    )


# --- GIF (87a/89a) codec, pure python/numpy ----------------------------------
#
# GIF is LZW + palette — no external codec needed (VERDICT r7 #3): header
# + logical screen descriptor, optional global color table, extension
# blocks skipped structurally, first image descriptor decoded (animation
# → FIRST frame, composed onto the logical screen over the background
# color; later frames are skipped — their delta-composition semantics
# need the full disposal-method state machine, out of scope for pixel
# features). Variable-width LSB-first LZW with clear/EOI codes, dict
# growth to 4095 and the deferred-clear rule; interlaced images reorder
# rows over the four passes. A GCE transparency index is ignored (alpha
# is dropped, the PNG tier's policy). Malformed files raise ValueError
# for the non-strict digest stub, same contract as every other tier.


def _gif_lzw_decode(mcs: int, data: bytes, n_px: int) -> np.ndarray:
    """GIF-flavor LZW → palette indices (uint8[n_px]). ``mcs`` is the
    LZW minimum code size from the stream; output is clamped at n_px
    (trailing codes beyond the raster are legal and ignored)."""
    if not 2 <= mcs <= 11:
        raise ValueError(f"GIF LZW min code size {mcs} out of range")
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out = np.empty(n_px, dtype=np.uint8)
    n_out = 0
    # dict as a parent-pointer table: entry -> (prefix code, last byte);
    # materializing each sequence lazily keeps memory at 4096 ints
    prefix = np.full(4096, -1, dtype=np.int32)
    suffix = np.zeros(4096, dtype=np.uint8)
    for i in range(clear):
        suffix[i] = i
    next_code, width = eoi + 1, mcs + 1
    acc = nbits = 0
    prev = -1
    pos, n = 0, len(data)
    while n_out < n_px:
        while nbits < width:
            if pos >= n:
                raise ValueError("truncated GIF LZW stream")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            next_code, width, prev = eoi + 1, mcs + 1, -1
            continue
        if code == eoi:
            break
        if prev < 0:
            if code >= clear:
                raise ValueError("GIF LZW first code not a literal")
            out[n_out] = code
            n_out += 1
            prev = code
            continue
        if code > next_code or code == next_code == 4096:
            raise ValueError("GIF LZW code out of sequence")
        # expand `code` (or prev+first(prev) for the KwKwK case)
        probe = prev if code == next_code else code
        seq = []
        while probe >= 0:
            seq.append(suffix[probe])
            probe = prefix[probe] if probe >= clear else -1
        seq.reverse()
        if code == next_code:
            seq.append(seq[0])
        take = min(len(seq), n_px - n_out)
        out[n_out : n_out + take] = seq[:take]
        n_out += take
        if next_code < 4096:
            prefix[next_code] = prev
            suffix[next_code] = seq[0]
            next_code += 1
            # width grows when the NEXT code would not fit; at 4096 the
            # dict is frozen (deferred clear) until an explicit clear
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = code
    if n_out < n_px:
        raise ValueError("GIF LZW stream ended before raster complete")
    return out


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _gif_interlace_order(h: int) -> np.ndarray:
    """Row indices in stream order for an interlaced image of height h."""
    return np.concatenate(
        [np.arange(start, h, step) for start, step in _GIF_INTERLACE_PASSES]
    ).astype(np.int64)


def _decode_gif(content: bytes) -> np.ndarray:
    """Pure-python/numpy GIF decode → uint8 (H, W, 3) RGB (first frame,
    composed onto the logical screen over the background color). See the
    codec block comment for the profile."""
    try:
        return _decode_gif_impl(content)
    except (IndexError, struct.error) as exc:
        raise ValueError(f"malformed GIF structure: {exc}") from exc


def _decode_gif_impl(content: bytes) -> np.ndarray:
    if len(content) < 13 or content[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (missing header)")
    sw, sh, packed, bg, _aspect = struct.unpack_from("<HHBBB", content, 6)
    if sw == 0 or sh == 0:
        raise ValueError("empty GIF logical screen")
    pos = 13
    gct = None
    if packed & 0x80:
        n_colors = 2 << (packed & 7)
        gct = np.frombuffer(
            content, np.uint8, n_colors * 3, pos
        ).reshape(n_colors, 3)
        pos += n_colors * 3

    def skip_subblocks(p: int) -> int:
        while True:
            if p >= len(content):
                raise ValueError("truncated GIF sub-blocks")
            size = content[p]
            p += 1 + size
            if size == 0:
                return p

    while pos < len(content):
        block = content[pos]
        pos += 1
        if block == 0x3B:  # trailer before any image
            break
        if block == 0x21:  # extension: label + sub-blocks, all skipped
            pos = skip_subblocks(pos + 1)
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02X}")
        left, top, fw, fh, ipacked = struct.unpack_from("<HHHHB", content, pos)
        pos += 9
        if fw == 0 or fh == 0:
            raise ValueError("empty GIF image descriptor")
        ct = gct
        if ipacked & 0x80:
            n_colors = 2 << (ipacked & 7)
            ct = np.frombuffer(
                content, np.uint8, n_colors * 3, pos
            ).reshape(n_colors, 3)
            pos += n_colors * 3
        if ct is None:
            raise ValueError("GIF image has no color table")
        mcs = content[pos]
        pos += 1
        chunks = []
        while True:
            size = content[pos]
            pos += 1
            if size == 0:
                break
            chunk = content[pos : pos + size]
            if len(chunk) < size:
                raise ValueError("truncated GIF image data")
            chunks.append(chunk)
            pos += size
        idx = _gif_lzw_decode(mcs, b"".join(chunks), fw * fh)
        if int(idx.max(initial=0)) >= len(ct):
            raise ValueError("GIF pixel index outside color table")
        frame = ct[idx.reshape(fh, fw)]
        if ipacked & 0x40:  # interlaced: rows arrive in 4-pass order
            ordered = np.empty_like(frame)
            ordered[_gif_interlace_order(fh)] = frame
            frame = ordered
        if (left, top, fw, fh) == (0, 0, sw, sh):
            return np.ascontiguousarray(frame)
        canvas = np.empty((sh, sw, 3), dtype=np.uint8)
        # the Background Color Index addresses the GLOBAL color table
        # (GIF89a §18) — a frame-local table must not recolor the
        # uncovered canvas
        canvas[:] = gct[bg] if gct is not None and bg < len(gct) else 0
        cw = min(fw, max(sw - left, 0))
        ch = min(fh, max(sh - top, 0))
        canvas[top : top + ch, left : left + cw] = frame[:ch, :cw]
        return canvas
    raise ValueError("GIF contains no image data")


def _gif_lzw_encode(indices: np.ndarray, mcs: int) -> bytes:
    """GIF-flavor LZW encoder (real dict growth, clear-on-full), LSB-first
    variable-width codes."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code, width = eoi + 1, mcs + 1
    emit(clear, width)
    run = b""
    for v in indices.tolist():
        cand = run + bytes([v])
        if cand in table:
            run = cand
            continue
        emit(table[run], width)
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            # one-ahead of the decoder's grow-at-(1<<width) rule: the
            # encoder's table leads by exactly one entry
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:  # dict full: clear rather than defer (simplest legal choice)
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code, width = eoi + 1, mcs + 1
        run = bytes([v])
    if run:
        emit(table[run], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _encode_gif(px: np.ndarray, interlace: bool = False) -> bytes:
    """Minimal GIF89a encoder for tests/round-trips: global color table
    from the image's unique colors (≤256 required — GIF is an indexed
    format; quantization is the caller's job), real LZW compression,
    optional interlacing. Single frame, no extensions."""
    a = px.astype(np.uint8)
    if a.ndim == 2:
        a = np.repeat(a[..., None], 3, axis=2)
    h, w = a.shape[:2]
    flat = a.reshape(-1, 3)
    palette, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(palette) > 256:
        raise ValueError(f"GIF needs <= 256 colors, image has {len(palette)}")
    ct_bits = max(int(len(palette) - 1).bit_length(), 1)
    n_ct = 1 << ct_bits
    ct = np.zeros((n_ct, 3), dtype=np.uint8)
    ct[: len(palette)] = palette
    idx = inverse.astype(np.uint8).reshape(h, w)
    if interlace:
        idx = idx[_gif_interlace_order(h)]
    mcs = max(ct_bits, 2)
    lzw = _gif_lzw_encode(idx.reshape(-1), mcs)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", w, h, 0x80 | (ct_bits - 1), 0, 0)
        + ct.tobytes()
        + b"\x2c"
        + struct.pack("<HHHHB", 0, 0, w, h, 0x40 if interlace else 0)
        + bytes([mcs])
        + bytes(blocks)
        + b"\x3b"
    )


# --- baseline JPEG (JFIF) codec, pure numpy ----------------------------------
#
# Decode tier for baseline-sequential Huffman JPEG (SOF0/SOF1): marker
# parse, DQT/DHT tables, per-MCU Huffman entropy decode with byte
# unstuffing and restart markers, dequant, 8x8 IDCT (orthonormal DCT
# matrix — one numpy matmul pair per block), nearest-neighbor chroma
# upsample, JFIF YCbCr->RGB. Progressive (SOF2), arithmetic (SOF9+),
# 12-bit, hierarchical and multi-scan files raise ValueError — valid
# files this tier cannot read, routed to the digest stub in non-strict
# mode, exactly the PNG tier's contract. The encoder exists for tests
# and round-trips (no codec libs in this container): 4:4:4 or 4:2:0,
# libjpeg-style quality-scaled Annex-K quant tables, fixed-length
# canonical Huffman tables (12 four-bit DC codes, 162 eight-bit AC
# codes — legal JPEG, trivially constructed, compression irrelevant
# for tests).

# zigzag index -> natural (row-major) position
_JPEG_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

_JPEG_STD_LUMA_Q = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.float64,
)

_JPEG_STD_CHROMA_Q = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.float64,
)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II basis: A @ A.T = I, forward B = A X A^T,
    inverse X = A^T B A."""
    x = np.arange(8)
    a = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16.0) / 2.0
    a[0] /= np.sqrt(2.0)
    return a


_DCT_A = _dct_matrix()


def _jpeg_quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    quality = min(max(int(quality), 1), 100)
    scale = 5000.0 / quality if quality < 50 else 200.0 - 2.0 * quality
    out = []
    for std in (_JPEG_STD_LUMA_Q, _JPEG_STD_CHROMA_Q):
        q = np.floor((std * scale + 50.0) / 100.0)
        out.append(np.clip(q, 1, 255))
    return out[0], out[1]


def _jpeg_huff_decode_table(
    counts: list[int], symbols: bytes
) -> dict[tuple[int, int], int]:
    """Canonical JPEG Huffman: (code_length, code) -> symbol."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _JpegBitReader:
    """MSB-first bit reader over the entropy-coded segment with 0xFF00
    unstuffing; restart markers are consumed only via restart()."""

    __slots__ = ("buf", "pos", "cur", "nbits")

    def __init__(self, buf: bytes, pos: int):
        self.buf, self.pos, self.cur, self.nbits = buf, pos, 0, 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            buf, pos = self.buf, self.pos
            if pos >= len(buf):
                raise ValueError("truncated JPEG entropy stream")
            b = buf[pos]
            pos += 1
            if b == 0xFF:
                nxt = buf[pos] if pos < len(buf) else -1
                if nxt != 0x00:
                    raise ValueError("unexpected marker in JPEG entropy stream")
                pos += 1
            self.buf, self.pos, self.cur, self.nbits = buf, pos, b, 8
        self.nbits -= 1
        return (self.cur >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def restart(self) -> None:
        self.nbits = 0  # byte-align
        buf, pos = self.buf, self.pos
        if pos + 2 > len(buf) or buf[pos] != 0xFF or not (
            0xD0 <= buf[pos + 1] <= 0xD7
        ):
            raise ValueError("missing JPEG restart marker")
        self.pos = pos + 2


def _jpeg_huff(reader: _JpegBitReader, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG huffman code")


def _jpeg_extend(v: int, n: int) -> int:
    if n == 0:
        return 0
    return v if v >= (1 << (n - 1)) else v - (1 << n) + 1


def _decode_jpeg(content: bytes) -> np.ndarray:
    """Pure-numpy baseline JPEG decode → uint8 (H, W, 3) RGB (grayscale
    replicates to 3 channels). See the codec block comment for the
    supported profile; anything else — including structurally truncated
    segments, whose out-of-range reads surface as IndexError — raises
    ValueError for the non-strict stub tier (the 'corrupt blobs must
    not kill the task' contract)."""
    try:
        return _decode_jpeg_impl(content)
    except IndexError as exc:
        raise ValueError(f"malformed JPEG structure: {exc}") from exc


def _decode_jpeg_impl(content: bytes) -> np.ndarray:
    if len(content) < 4 or content[:3] != b"\xff\xd8\xff":
        raise ValueError("not a JPEG (missing SOI)")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> decode table
    frame = None  # (h, w, comps) comps: list of (cid, hs, vs, tq)
    adobe_transform = None  # APP14 color-transform tag, if present
    progressive = False
    prog = None  # progressive coefficient accumulator across scans
    dri = 0
    pos = 2
    n = len(content)
    while pos + 4 <= n:
        if content[pos] != 0xFF:
            raise ValueError("malformed JPEG marker stream")
        marker = content[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI before SOS
            break
        (seglen,) = struct.unpack_from(">H", content, pos)
        seg = content[pos + 2 : pos + seglen]
        if len(seg) != seglen - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 15
                i += 1
                if pq == 0:
                    vals = np.frombuffer(seg, np.uint8, 64, i).astype(
                        np.float64
                    )
                    i += 64
                else:
                    vals = np.frombuffer(seg, ">u2", 64, i).astype(np.float64)
                    i += 128
                qt[tq] = vals  # zigzag order, as stored
        elif marker == 0xC4:  # DHT
            i = 0
            while i + 17 <= len(seg):
                tc, th = seg[i] >> 4, seg[i] & 15
                counts = list(seg[i + 1 : i + 17])
                total = sum(counts)
                symbols = seg[i + 17 : i + 17 + total]
                if len(symbols) < total:
                    raise ValueError("truncated JPEG DHT")
                huff[(tc, th)] = _jpeg_huff_decode_table(counts, symbols)
                i += 17 + total
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 prog
            prec, fh, fw, nc = struct.unpack_from(">BHHB", seg, 0)
            if prec != 8:
                raise ValueError("only 8-bit JPEG supported")
            if fh == 0 or fw == 0:
                raise ValueError("JPEG with DNL-deferred height unsupported")
            comps = []
            for c in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", seg, 6 + 3 * c)
                comps.append((cid, hv >> 4, hv & 15, tq))
            frame = (fh, fw, comps)
            progressive = marker == 0xC2
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF, 0xDE):
            raise ValueError(
                "only baseline-sequential or progressive Huffman JPEG "
                f"supported (SOF marker 0x{marker:02X})"
            )
        elif marker == 0xDD:  # DRI
            (dri,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xEE and seg[:5] == b"Adobe" and len(seg) >= 12:
            adobe_transform = seg[11]
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            # Adobe transform=0 declares the 3 components are plain RGB,
            # not YCbCr: decoding would SUCCEED with wrong colors and feed
            # silently-wrong pixel features downstream — route to the
            # digest stub instead (transform=1 is YCbCr, the normal path)
            if adobe_transform == 0 and len(frame[2]) == 3:
                raise ValueError(
                    "Adobe APP14 transform=0 (RGB) JPEG unsupported"
                )
            if progressive:
                if prog is None:
                    geom = _jpeg_prog_geom(frame)
                    comps_g = geom[0]
                    mcux_g, mcuy_g = geom[3], geom[4]
                    prog = {
                        "geom": geom,
                        "coefs": [
                            np.zeros(
                                (mcuy_g * vs, mcux_g * hs, 64), np.int32
                            )
                            for _, hs, vs, _ in comps_g
                        ],
                        "n_scans": 0,
                    }
                pos = _jpeg_progressive_scan(
                    content, pos + seglen, seg, huff, dri, prog
                )
                continue
            return _jpeg_decode_scan(
                content, pos + seglen, frame, seg, qt, huff, dri
            )
        # APPn / COM / others: skip
        pos += seglen
    if prog is not None and prog["n_scans"]:
        return _jpeg_progressive_reconstruct(prog, qt)
    raise ValueError("JPEG missing SOS")


def _jpeg_decode_scan(
    content: bytes,
    data_pos: int,
    frame: tuple,
    sos: bytes,
    qt: dict,
    huff: dict,
    dri: int,
) -> np.ndarray:
    fh, fw, comps = frame
    ns = sos[0]
    if ns != len(comps):
        raise ValueError("non-interleaved multi-scan JPEG unsupported")
    if len(comps) not in (1, 3):
        raise ValueError(f"unsupported JPEG component count {len(comps)}")
    if len(comps) == 1:
        # T.81 A.2.2: a single-component scan is non-interleaved — data is
        # plain 8x8 block order and the SOF sampling factors do NOT apply
        # (grayscale files legally declare h/v > 1 to hint chroma-less
        # 4:2:0 heritage); honoring them would mis-parse the MCU grid
        comps = [(comps[0][0], 1, 1, comps[0][3])]
    scan_tables = {}
    for i in range(ns):
        cs, tda = sos[1 + 2 * i], sos[2 + 2 * i]
        scan_tables[cs] = (tda >> 4, tda & 15)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax < 1 or vmax < 1 or any(
        hmax % c[1] or vmax % c[2] for c in comps
    ):
        raise ValueError("unsupported JPEG sampling factors")
    mcux = -(-fw // (8 * hmax))
    mcuy = -(-fh // (8 * vmax))
    planes, dc_tabs, ac_tabs, qtabs = [], [], [], []
    for cid, hs, vs, tq in comps:
        planes.append(np.zeros((mcuy * vs * 8, mcux * hs * 8), np.float64))
        if cid not in scan_tables:
            raise ValueError("JPEG scan references unknown component")
        td, ta = scan_tables[cid]
        if (0, td) not in huff or (1, ta) not in huff or tq not in qt:
            raise ValueError("JPEG references undefined table")
        dc_tabs.append(huff[(0, td)])
        ac_tabs.append(huff[(1, ta)])
        qtabs.append(qt[tq])
    reader = _JpegBitReader(content, data_pos)
    preds = [0] * len(comps)
    a_t, a = _DCT_A.T, _DCT_A
    zz = _JPEG_ZIGZAG
    n_mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if dri and n_mcu and n_mcu % dri == 0:
                reader.restart()
                preds = [0] * len(comps)
            n_mcu += 1
            for ci, (cid, hs, vs, tq) in enumerate(comps):
                for by in range(vs):
                    for bx in range(hs):
                        vec = np.zeros(64, np.float64)
                        s = _jpeg_huff(reader, dc_tabs[ci])
                        preds[ci] += _jpeg_extend(reader.read_bits(s), s)
                        vec[0] = preds[ci]
                        k = 1
                        while k < 64:
                            rs = _jpeg_huff(reader, ac_tabs[ci])
                            r, sz = rs >> 4, rs & 15
                            if sz == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG AC index overflow")
                            vec[k] = _jpeg_extend(
                                reader.read_bits(sz), sz
                            )
                            k += 1
                        nat = np.zeros(64, np.float64)
                        nat[zz] = vec * qtabs[ci]
                        block = a_t @ nat.reshape(8, 8) @ a
                        y0 = (my * vs + by) * 8
                        x0 = (mx * hs + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = block
    return _jpeg_assemble(planes, comps, hmax, vmax, fh, fw)


def _jpeg_assemble(
    planes: list, comps: list, hmax: int, vmax: int, fh: int, fw: int
) -> np.ndarray:
    """Shared decode tail: upsample component planes to full resolution,
    crop to the frame size, level-shift, and color-convert (single
    component replicates to gray RGB; three components are YCbCr)."""
    full = []
    for ci, (cid, hs, vs, tq) in enumerate(comps):
        p = planes[ci]
        p = np.repeat(np.repeat(p, vmax // vs, axis=0), hmax // hs, axis=1)
        full.append(p[:fh, :fw] + 128.0)
    if len(full) == 1:
        g = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return np.repeat(g[..., None], 3, axis=2)
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(
        np.round(np.stack([r, g, b], axis=2)), 0, 255
    ).astype(np.uint8)


# --- progressive JPEG (SOF2, T.81 annex G) ------------------------------------
#
# Coefficients accumulate across scans in per-component int32 arrays
# (zigzag index order); each SOS decodes one scan — DC first/refinement
# (optionally interleaved), AC first/refinement (single-component,
# spectral band Ss..Se, successive-approximation bit position Al) — and
# reconstruction (dequantize + IDCT + upsample) runs once at EOI. The
# entropy rules follow T.81 G.2 / the libjpeg reference decoder exactly:
# EOB runs span blocks, refinement scans carry correction bits for
# already-nonzero coefficients interleaved with newly-significant ones.


def _jpeg_prog_geom(frame: tuple) -> tuple:
    """Component geometry shared by every progressive scan: the
    grayscale sampling-ignore rule (T.81 A.2.2, same as the baseline
    path), MCU grid, and each component's REAL block dims — interleaved
    DC scans cover the MCU-padded grid, non-interleaved scans cover
    only ceil(comp_size/8) blocks."""
    fh, fw, comps = frame
    if len(comps) == 1:
        comps = [(comps[0][0], 1, 1, comps[0][3])]
    if len(comps) not in (1, 3):
        raise ValueError(
            f"unsupported JPEG component count {len(comps)}"
        )
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax < 1 or vmax < 1 or any(
        hmax % c[1] or vmax % c[2] for c in comps
    ):
        raise ValueError("unsupported JPEG sampling factors")
    mcux = -(-fw // (8 * hmax))
    mcuy = -(-fh // (8 * vmax))
    dims = []
    for cid, hs, vs, tq in comps:
        cw = -(-fw * hs // hmax)
        ch = -(-fh * vs // vmax)
        dims.append((-(-cw // 8), -(-ch // 8)))  # (bw, bh) real blocks
    return comps, hmax, vmax, mcux, mcuy, dims, fh, fw


def _jpeg_progressive_scan(
    content: bytes, data_pos: int, sos: bytes, huff: dict, dri: int,
    prog: dict,
) -> int:
    """Decode one progressive scan into ``prog['coefs']``; returns the
    byte position of the next marker after the entropy-coded data."""
    comps, hmax, vmax, mcux, mcuy, dims, fh, fw = prog["geom"]
    ns = sos[0]
    if len(sos) < 4 + 2 * ns:
        raise ValueError("truncated JPEG SOS header")
    scomp = []
    for i in range(ns):
        cs, tda = sos[1 + 2 * i], sos[2 + 2 * i]
        for j, c in enumerate(comps):
            if c[0] == cs:
                scomp.append((j, tda >> 4, tda & 15))
                break
        else:
            raise ValueError("JPEG scan references unknown component")
    ss, se = sos[1 + 2 * ns], sos[2 + 2 * ns]
    ahal = sos[3 + 2 * ns]
    ah, al = ahal >> 4, ahal & 15
    if al > 13 or (ah and ah != al + 1):
        raise ValueError("invalid JPEG successive-approximation bounds")
    reader = _JpegBitReader(content, data_pos)
    if ss == 0:
        if se != 0:
            raise ValueError("JPEG DC scan must have Se=0")
        _jpeg_prog_dc_scan(reader, scomp, ah, al, huff, dri, prog)
    else:
        if ns != 1:
            raise ValueError(
                "JPEG progressive AC scan must be single-component"
            )
        if se > 63 or ss > se:
            raise ValueError("invalid JPEG spectral band")
        _jpeg_prog_ac_scan(reader, scomp[0], ss, se, ah, al, huff, dri,
                           prog)
    prog["n_scans"] += 1
    # entropy data ends at reader.pos (consumed pad bits sit inside the
    # last read byte); skip residual pad/stuffed bytes to the next true
    # marker for the caller's segment loop
    p, n = reader.pos, len(content)
    while p + 1 < n and not (content[p] == 0xFF and content[p + 1] != 0x00):
        p += 1
    return p


def _jpeg_prog_dc_scan(
    reader: "_JpegBitReader", scomp: list, ah: int, al: int, huff: dict,
    dri: int, prog: dict,
) -> None:
    comps, hmax, vmax, mcux, mcuy, dims, fh, fw = prog["geom"]
    coefs = prog["coefs"]
    tabs = []
    if ah == 0:  # refinement scans read raw bits, no Huffman table
        for ci, td, ta in scomp:
            if (0, td) not in huff:
                raise ValueError("JPEG references undefined table")
            tabs.append(huff[(0, td)])
    preds = [0] * len(scomp)

    def one(si: int, by: int, bx: int) -> None:
        ci = scomp[si][0]
        if ah == 0:
            s = _jpeg_huff(reader, tabs[si])
            preds[si] += _jpeg_extend(reader.read_bits(s), s)
            coefs[ci][by, bx, 0] = preds[si] << al
        elif reader.read_bit():
            coefs[ci][by, bx, 0] |= 1 << al

    nunit = 0
    if len(scomp) == 1:
        # non-interleaved: plain block order over the REAL grid
        bw, bh = dims[scomp[0][0]]
        for by in range(bh):
            for bx in range(bw):
                if dri and nunit and nunit % dri == 0:
                    reader.restart()
                    preds[:] = [0] * len(scomp)
                nunit += 1
                one(0, by, bx)
    else:
        for my in range(mcuy):
            for mx in range(mcux):
                if dri and nunit and nunit % dri == 0:
                    reader.restart()
                    preds[:] = [0] * len(scomp)
                nunit += 1
                for si, (ci, td, ta) in enumerate(scomp):
                    _, hs, vs, _ = comps[ci]
                    for byy in range(vs):
                        for bxx in range(hs):
                            one(si, my * vs + byy, mx * hs + bxx)


def _jpeg_prog_ac_scan(
    reader: "_JpegBitReader", sc: tuple, ss: int, se: int, ah: int,
    al: int, huff: dict, dri: int, prog: dict,
) -> None:
    comps, hmax, vmax, mcux, mcuy, dims, fh, fw = prog["geom"]
    ci, td, ta = sc
    if (1, ta) not in huff:
        raise ValueError("JPEG references undefined table")
    ac = huff[(1, ta)]
    coef = prog["coefs"][ci]
    bw, bh = dims[ci]
    p1, m1 = 1 << al, -1 << al
    eobrun = 0
    nunit = 0
    for by in range(bh):
        for bx in range(bw):
            if dri and nunit and nunit % dri == 0:
                reader.restart()
                eobrun = 0
            nunit += 1
            row = coef[by, bx]
            if ah == 0:  # first pass for this band
                if eobrun:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    rs = _jpeg_huff(reader, ac)
                    r, s = rs >> 4, rs & 15
                    if s == 0:
                        if r != 15:
                            eobrun = (1 << r) - 1  # this block included
                            if r:
                                eobrun += reader.read_bits(r)
                            break
                        k += 16  # ZRL
                        continue
                    k += r
                    if k > se:
                        raise ValueError("JPEG AC index overflow")
                    row[k] = _jpeg_extend(reader.read_bits(s), s) << al
                    k += 1
            else:  # refinement: correction bits + newly-significant
                k = ss
                if eobrun == 0:
                    while k <= se:
                        rs = _jpeg_huff(reader, ac)
                        r, s = rs >> 4, rs & 15
                        sval = 0
                        if s:
                            if s != 1:
                                raise ValueError(
                                    "invalid JPEG refinement symbol"
                                )
                            sval = p1 if reader.read_bit() else m1
                        elif r != 15:
                            eobrun = 1 << r  # tail handles this block
                            if r:
                                eobrun += reader.read_bits(r)
                            break
                        # advance past r zero-history coefficients,
                        # emitting correction bits for nonzero-history
                        # ones passed along the way (ZRL: r == 15 skips
                        # 16 zero-history positions)
                        while k <= se:
                            c = int(row[k])
                            if c:
                                if reader.read_bit() and not (c & p1):
                                    row[k] = c + (p1 if c >= 0 else m1)
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if sval:
                            if k > se:
                                raise ValueError("JPEG AC index overflow")
                            row[k] = sval
                        k += 1
                if eobrun:
                    while k <= se:  # correction-bit tail of the EOB run
                        c = int(row[k])
                        if c and reader.read_bit() and not (c & p1):
                            row[k] = c + (p1 if c >= 0 else m1)
                        k += 1
                    eobrun -= 1


def _jpeg_progressive_reconstruct(prog: dict, qt: dict) -> np.ndarray:
    comps, hmax, vmax, mcux, mcuy, dims, fh, fw = prog["geom"]
    planes = []
    for ci, (cid, hs, vs, tq) in enumerate(comps):
        if tq not in qt:
            raise ValueError("JPEG references undefined table")
        deq = prog["coefs"][ci].astype(np.float64) * qt[tq][None, None, :]
        nat = np.zeros_like(deq)
        nat[:, :, _JPEG_ZIGZAG] = deq
        bh, bw = nat.shape[:2]
        blocks = nat.reshape(bh, bw, 8, 8)
        spat = _DCT_A.T @ blocks @ _DCT_A  # batched 8x8 IDCT
        planes.append(spat.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8))
    return _jpeg_assemble(planes, comps, hmax, vmax, fh, fw)


class _JpegBitWriter:
    __slots__ = ("out", "cur", "nbits")

    def __init__(self):
        self.out, self.cur, self.nbits = bytearray(), 0, 0

    def write(self, value: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.cur = (self.cur << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.cur)
                if self.cur == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.cur, self.nbits = 0, 0

    def align(self) -> None:
        """Pad the partial byte with 1-bits (spec padding; stuffing still
        applies if the padded byte lands on 0xFF)."""
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)

    def flush(self) -> bytes:
        self.align()
        return bytes(self.out)


# fixed-length canonical tables (see codec block comment): DC = twelve
# 4-bit codes for categories 0..11; AC = 162 8-bit codes covering EOB,
# ZRL and every (run, size) symbol
_JPEG_ENC_DC = {sym: (sym, 4) for sym in range(12)}
_JPEG_ENC_AC_SYMS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]
_JPEG_ENC_AC = {sym: (i, 8) for i, sym in enumerate(_JPEG_ENC_AC_SYMS)}
_JPEG_ENC_DC_DHT = bytes(
    [0, 0, 0, 12] + [0] * 12
) + bytes(range(12))
_JPEG_ENC_AC_DHT = bytes(
    [0, 0, 0, 0, 0, 0, 0, 162] + [0] * 8
) + bytes(_JPEG_ENC_AC_SYMS)

# progressive AC table: the sequential 162 symbols plus the fourteen
# EOBn symbols 0x10..0xE0 (EOB runs of 2..16383 blocks, T.81 G.1.2.2) —
# 176 fixed-length 8-bit codes, still canonical and legal
_JPEG_PROG_AC_SYMS = _JPEG_ENC_AC_SYMS + [r << 4 for r in range(1, 15)]
_JPEG_PROG_AC = {sym: (i, 8) for i, sym in enumerate(_JPEG_PROG_AC_SYMS)}
_JPEG_PROG_AC_DHT = bytes(
    [0, 0, 0, 0, 0, 0, 0, 176] + [0] * 8
) + bytes(_JPEG_PROG_AC_SYMS)


def _encode_jpeg(
    px: np.ndarray,
    quality: int = 90,
    subsample: str = "444",
    restart_interval: int = 0,
    gray: bool = False,
    gray_declared_sampling: tuple[int, int] = (1, 1),
) -> bytes:
    """Minimal baseline JFIF encoder for tests/round-trips: 4:4:4 or
    4:2:0 (2x2-mean chroma downsample), quality-scaled Annex-K quant
    tables, fixed-length Huffman tables; ``restart_interval`` > 0 emits
    DRI and RSTn markers every N MCUs (exercising the decoder's
    byte-align + predictor-reset path). ``gray=True`` emits a
    SINGLE-component (luma-only) frame — per T.81 A.2.2 its scan is
    non-interleaved plain 8x8 block order regardless of the SOF
    sampling factors, so ``gray_declared_sampling`` may legally declare
    h/v > 1 (exercising the decoder's nc==1 sampling-ignore path)."""
    a = px.astype(np.float64)
    if a.ndim == 2:
        a = np.repeat(a[..., None], 3, axis=2)
    h, w = a.shape[:2]
    r, g, b = a[..., 0], a[..., 1], a[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    if subsample == "444":
        sampling, chroma_ds = (1, 1), 1
    elif subsample == "420":
        sampling, chroma_ds = (2, 2), 2
    else:
        raise ValueError("subsample must be '444' or '420'")
    hs, vs = sampling
    qy, qc = _jpeg_quality_tables(quality)
    qy_zz = qy.reshape(-1)[_JPEG_ZIGZAG]
    qc_zz = qc.reshape(-1)[_JPEG_ZIGZAG]

    def pad_to(img: np.ndarray, mult: int) -> np.ndarray:
        ph = -(-img.shape[0] // mult) * mult
        pw = -(-img.shape[1] // mult) * mult
        return np.pad(
            img, ((0, ph - img.shape[0]), (0, pw - img.shape[1])), mode="edge"
        )

    yp = pad_to(y, 8 * vs)
    if chroma_ds > 1:
        # 2x2 mean downsample (pad odd dims first)
        cpad = pad_to(cb, 2), pad_to(cr, 2)
        cb = cpad[0].reshape(
            cpad[0].shape[0] // 2, 2, cpad[0].shape[1] // 2, 2
        ).mean(axis=(1, 3))
        cr = cpad[1].reshape(
            cpad[1].shape[0] // 2, 2, cpad[1].shape[1] // 2, 2
        ).mean(axis=(1, 3))
    cbp, crp = pad_to(cb, 8), pad_to(cr, 8)
    mcuy = yp.shape[0] // (8 * vs)
    mcux = yp.shape[1] // (8 * hs)

    writer = _JpegBitWriter()
    preds = [0, 0, 0]

    def emit_block(block: np.ndarray, q_zz: np.ndarray, ci: int) -> None:
        coef = _DCT_A @ (block - 128.0) @ _DCT_A.T
        zzc = np.round(coef.reshape(-1)[_JPEG_ZIGZAG] / q_zz).astype(
            np.int64
        )
        diff = int(zzc[0]) - preds[ci]
        preds[ci] = int(zzc[0])
        mag = abs(diff)
        ssss = mag.bit_length()
        code, nbits = _JPEG_ENC_DC[ssss]
        writer.write(code, nbits)
        if ssss:
            writer.write(diff if diff > 0 else diff + (1 << ssss) - 1, ssss)
        run = 0
        nz = np.nonzero(zzc[1:])[0]
        last = nz[-1] + 1 if len(nz) else 0
        for k in range(1, last + 1):
            v = int(zzc[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, nbits = _JPEG_ENC_AC[0xF0]
                writer.write(code, nbits)
                run -= 16
            sz = abs(v).bit_length()
            code, nbits = _JPEG_ENC_AC[(run << 4) | sz]
            writer.write(code, nbits)
            writer.write(v if v > 0 else v + (1 << sz) - 1, sz)
            run = 0
        if last < 63:
            code, nbits = _JPEG_ENC_AC[0x00]
            writer.write(code, nbits)

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    app0 = b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00"

    if gray:
        gyp = pad_to(y, 8)
        n_mcu, rst_idx = 0, 0
        for by in range(gyp.shape[0] // 8):
            for bx in range(gyp.shape[1] // 8):
                if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                    writer.align()
                    writer.out += bytes([0xFF, 0xD0 + rst_idx])
                    rst_idx = (rst_idx + 1) & 7
                    preds[:] = [0, 0, 0]
                n_mcu += 1
                emit_block(gyp[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8],
                           qy_zz, 0)
        gh, gv = gray_declared_sampling
        gdri = (
            seg(0xDD, struct.pack(">H", restart_interval))
            if restart_interval
            else b""
        )
        return (
            b"\xff\xd8"
            + seg(0xE0, app0)
            + seg(0xDB, b"\x00" + qy_zz.astype(np.uint8).tobytes())
            + seg(0xC0, struct.pack(">BHHB", 8, h, w, 1)
                  + bytes([1, (gh << 4) | gv, 0]))
            + seg(0xC4, b"\x00" + _JPEG_ENC_DC_DHT)
            + seg(0xC4, b"\x10" + _JPEG_ENC_AC_DHT)
            + gdri
            + seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
            + writer.flush()
            + b"\xff\xd9"
        )

    n_mcu, rst_idx = 0, 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                writer.align()
                writer.out += bytes([0xFF, 0xD0 + rst_idx])
                rst_idx = (rst_idx + 1) & 7
                preds[:] = [0, 0, 0]
            n_mcu += 1
            for by in range(vs):
                for bx in range(hs):
                    y0, x0 = (my * vs + by) * 8, (mx * hs + bx) * 8
                    emit_block(yp[y0 : y0 + 8, x0 : x0 + 8], qy_zz, 0)
            y0, x0 = my * 8, mx * 8
            emit_block(cbp[y0 : y0 + 8, x0 : x0 + 8], qc_zz, 1)
            emit_block(crp[y0 : y0 + 8, x0 : x0 + 8], qc_zz, 2)
    data = writer.flush()

    dqt = seg(
        0xDB,
        b"\x00" + qy_zz.astype(np.uint8).tobytes()
        + b"\x01" + qc_zz.astype(np.uint8).tobytes(),
    )
    sof = seg(
        0xC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, (hs << 4) | vs, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    dht = (
        seg(0xC4, b"\x00" + _JPEG_ENC_DC_DHT)
        + seg(0xC4, b"\x10" + _JPEG_ENC_AC_DHT)
        + seg(0xC4, b"\x01" + _JPEG_ENC_DC_DHT)
        + seg(0xC4, b"\x11" + _JPEG_ENC_AC_DHT)
    )
    dri = seg(0xDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    sos = seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    return (
        b"\xff\xd8" + seg(0xE0, app0) + dqt + sof + dht + dri + sos + data
        + b"\xff\xd9"
    )


def _encode_jpeg_progressive(
    px: np.ndarray,
    quality: int = 90,
    subsample: str = "444",
    restart_interval: int = 0,
    gray: bool = False,
) -> bytes:
    """Progressive (SOF2) JFIF encoder for tests/round-trips, following
    T.81 annex G / the libjpeg reference encoder: a libjpeg-style scan
    script with spectral selection AND two-level successive
    approximation (DC first at Al=1 + refinement; luma AC split 1-5 /
    6-63 first-coded at a high bit position then refined to Al=0), so
    every decoder path — EOB runs, ZRL-with-correction-bits, buffered
    refinement bits, newly-significant coefficients — is exercised.
    The script fully restores every coefficient bit, so the progressive
    stream decodes to EXACTLY the same pixels as ``_encode_jpeg`` of
    the same image at the same quality/subsampling (the cross-path pin
    the property tests assert). ``restart_interval`` > 0 emits RSTn
    every N MCUs (DC interleaved scans) / blocks (other scans)."""
    a = px.astype(np.float64)
    if a.ndim == 2:
        a = np.repeat(a[..., None], 3, axis=2)
    h, w = a.shape[:2]
    qy, qc = _jpeg_quality_tables(quality)
    qy_zz = qy.reshape(-1)[_JPEG_ZIGZAG]
    qc_zz = qc.reshape(-1)[_JPEG_ZIGZAG]

    def pad_to(img: np.ndarray, mult: int) -> np.ndarray:
        ph = -(-img.shape[0] // mult) * mult
        pw = -(-img.shape[1] // mult) * mult
        return np.pad(
            img, ((0, ph - img.shape[0]), (0, pw - img.shape[1])),
            mode="edge",
        )

    def block_coefs(plane: np.ndarray, q_zz: np.ndarray) -> np.ndarray:
        # per-block loop with exactly _encode_jpeg's arithmetic, so the
        # quantized coefficients are bit-identical to the baseline path
        bh, bw = plane.shape[0] // 8, plane.shape[1] // 8
        out = np.zeros((bh, bw, 64), np.int32)
        for by in range(bh):
            for bx in range(bw):
                blk = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                cf = _DCT_A @ (blk - 128.0) @ _DCT_A.T
                out[by, bx] = np.round(
                    cf.reshape(-1)[_JPEG_ZIGZAG] / q_zz
                ).astype(np.int32)
        return out

    r_, g_, b_ = a[..., 0], a[..., 1], a[..., 2]
    y = 0.299 * r_ + 0.587 * g_ + 0.114 * b_
    if gray:
        hs = vs = 1
        coefs = [block_coefs(pad_to(y, 8), qy_zz)]
        dims = [coefs[0].shape[1::-1]]  # (bw, bh) real == padded
        mcuy, mcux = coefs[0].shape[:2]
        samplings = [(1, 1)]
    else:
        cb = -0.168736 * r_ - 0.331264 * g_ + 0.5 * b_ + 128.0
        cr = 0.5 * r_ - 0.418688 * g_ - 0.081312 * b_ + 128.0
        if subsample == "444":
            hs = vs = 1
        elif subsample == "420":
            hs = vs = 2
            cpad = pad_to(cb, 2), pad_to(cr, 2)
            cb = cpad[0].reshape(
                cpad[0].shape[0] // 2, 2, cpad[0].shape[1] // 2, 2
            ).mean(axis=(1, 3))
            cr = cpad[1].reshape(
                cpad[1].shape[0] // 2, 2, cpad[1].shape[1] // 2, 2
            ).mean(axis=(1, 3))
        else:
            raise ValueError("subsample must be '444' or '420'")
        coefs = [
            block_coefs(pad_to(y, 8 * vs), qy_zz),
            block_coefs(pad_to(cb, 8), qc_zz),
            block_coefs(pad_to(cr, 8), qc_zz),
        ]
        mcuy = coefs[0].shape[0] // vs
        mcux = coefs[0].shape[1] // hs
        # REAL block dims: luma ceil(h/8) x ceil(w/8) (may be less than
        # the MCU-padded grid at 4:2:0); chroma real == padded
        dims = [
            (-(-w // 8), -(-h // 8)),
            coefs[1].shape[1::-1],
            coefs[2].shape[1::-1],
        ]
        samplings = [(hs, vs), (1, 1), (1, 1)]
    ncomp = len(coefs)

    def emit_restart(writer: "_JpegBitWriter", rst_idx: int) -> int:
        writer.align()
        writer.out += bytes([0xFF, 0xD0 + rst_idx])
        return (rst_idx + 1) & 7

    def enc_dc(writer: "_JpegBitWriter", ah: int, al: int) -> None:
        preds = [0] * ncomp

        def emit(ci: int, by: int, bx: int) -> None:
            c = int(coefs[ci][by, bx, 0])
            if ah == 0:
                v = c >> al  # DC point transform: arithmetic shift
                diff = v - preds[ci]
                preds[ci] = v
                ssss = abs(diff).bit_length()
                code, nb = _JPEG_ENC_DC[ssss]
                writer.write(code, nb)
                if ssss:
                    writer.write(
                        diff if diff > 0 else diff + (1 << ssss) - 1, ssss
                    )
            else:
                writer.write((c >> al) & 1, 1)

        nunit, rst_idx = 0, 0
        if ncomp == 1:
            bw, bh = dims[0]
            for by in range(bh):
                for bx in range(bw):
                    if restart_interval and nunit and (
                        nunit % restart_interval == 0
                    ):
                        rst_idx = emit_restart(writer, rst_idx)
                        preds[:] = [0] * ncomp
                    nunit += 1
                    emit(0, by, bx)
        else:
            for my in range(mcuy):
                for mx in range(mcux):
                    if restart_interval and nunit and (
                        nunit % restart_interval == 0
                    ):
                        rst_idx = emit_restart(writer, rst_idx)
                        preds[:] = [0] * ncomp
                    nunit += 1
                    for ci, (chs, cvs) in enumerate(samplings):
                        for byy in range(cvs):
                            for bxx in range(chs):
                                emit(ci, my * cvs + byy, mx * chs + bxx)

    def enc_ac_first(
        writer: "_JpegBitWriter", ci: int, ss: int, se: int, al: int
    ) -> None:
        coef = coefs[ci]
        bw, bh = dims[ci]
        eobrun = 0

        def flush_eobrun() -> None:
            nonlocal eobrun
            if eobrun > 0:
                nbits = eobrun.bit_length() - 1
                code, nb = _JPEG_PROG_AC[nbits << 4]
                writer.write(code, nb)
                if nbits:
                    writer.write(eobrun & ((1 << nbits) - 1), nbits)
                eobrun = 0

        nunit, rst_idx = 0, 0
        for by in range(bh):
            for bx in range(bw):
                if restart_interval and nunit and (
                    nunit % restart_interval == 0
                ):
                    flush_eobrun()
                    rst_idx = emit_restart(writer, rst_idx)
                nunit += 1
                row = coef[by, bx]
                r = 0
                for k in range(ss, se + 1):
                    t = int(row[k])
                    temp = (-t if t < 0 else t) >> al
                    if temp == 0:
                        r += 1
                        continue
                    flush_eobrun()
                    while r > 15:
                        code, nb = _JPEG_PROG_AC[0xF0]
                        writer.write(code, nb)
                        r -= 16
                    nbits = temp.bit_length()
                    code, nb = _JPEG_PROG_AC[(r << 4) | nbits]
                    writer.write(code, nb)
                    writer.write(
                        temp if t > 0 else (~temp) & ((1 << nbits) - 1),
                        nbits,
                    )
                    r = 0
                if r > 0:
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        flush_eobrun()
        flush_eobrun()

    def enc_ac_refine(
        writer: "_JpegBitWriter", ci: int, ss: int, se: int, al: int
    ) -> None:
        coef = coefs[ci]
        bw, bh = dims[ci]
        eobrun = 0
        pending: list[int] = []  # correction bits deferred to the EOBn

        def flush_eobrun() -> None:
            nonlocal eobrun, pending
            if eobrun > 0:
                nbits = eobrun.bit_length() - 1
                code, nb = _JPEG_PROG_AC[nbits << 4]
                writer.write(code, nb)
                if nbits:
                    writer.write(eobrun & ((1 << nbits) - 1), nbits)
                eobrun = 0
            for bit in pending:
                writer.write(bit, 1)
            pending = []

        nunit, rst_idx = 0, 0
        for by in range(bh):
            for bx in range(bw):
                if restart_interval and nunit and (
                    nunit % restart_interval == 0
                ):
                    flush_eobrun()
                    rst_idx = emit_restart(writer, rst_idx)
                nunit += 1
                row = coef[by, bx]
                absv = [
                    (-int(row[k]) if row[k] < 0 else int(row[k])) >> al
                    for k in range(ss, se + 1)
                ]
                eob_k = ss - 1  # last NEWLY-significant position
                for i, v in enumerate(absv):
                    if v == 1:
                        eob_k = ss + i
                r = 0
                br: list[int] = []  # block-local correction bits
                for k in range(ss, se + 1):
                    temp = absv[k - ss]
                    if temp == 0:
                        r += 1
                        continue
                    # ZRLs not foldable into the EOB run flush eagerly,
                    # each carrying the correction bits buffered so far
                    while r > 15 and k <= eob_k:
                        flush_eobrun()
                        code, nb = _JPEG_PROG_AC[0xF0]
                        writer.write(code, nb)
                        r -= 16
                        for bit in br:
                            writer.write(bit, 1)
                        br = []
                    if temp > 1:  # already nonzero: buffer correction bit
                        br.append(temp & 1)
                        continue
                    flush_eobrun()
                    code, nb = _JPEG_PROG_AC[(r << 4) | 1]
                    writer.write(code, nb)
                    writer.write(1 if int(row[k]) > 0 else 0, 1)
                    for bit in br:
                        writer.write(bit, 1)
                    br = []
                    r = 0
                if r > 0 or br:
                    eobrun += 1
                    pending.extend(br)
                    if eobrun == 0x7FFF or len(pending) > 900:
                        flush_eobrun()
        flush_eobrun()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    # libjpeg-style script: DC first at Al=1 (interleaved) + refinement,
    # per-component AC bands with successive approximation down to Al=0
    if gray:
        script = [
            ("dc", None, 0, 0, 0, 1),
            ("ac", 0, 1, 5, 0, 2),
            ("ac", 0, 6, 63, 0, 1),
            ("dc", None, 0, 0, 1, 0),
            ("ac", 0, 1, 5, 2, 1),
            ("ac", 0, 6, 63, 1, 0),
            ("ac", 0, 1, 5, 1, 0),
        ]
    else:
        script = [
            ("dc", None, 0, 0, 0, 1),
            ("ac", 0, 1, 5, 0, 2),
            ("ac", 2, 1, 63, 0, 1),
            ("ac", 1, 1, 63, 0, 1),
            ("ac", 0, 6, 63, 0, 2),
            ("ac", 0, 1, 63, 2, 1),
            ("dc", None, 0, 0, 1, 0),
            ("ac", 2, 1, 63, 1, 0),
            ("ac", 1, 1, 63, 1, 0),
            ("ac", 0, 1, 63, 1, 0),
        ]

    body = b""
    for kind, ci, ss, se, ah, al in script:
        writer = _JpegBitWriter()
        if kind == "dc":
            comp_spec = b"".join(
                bytes([c + 1, 0x00]) for c in range(ncomp)
            )
            payload = bytes([ncomp]) + comp_spec + bytes(
                [ss, se, (ah << 4) | al]
            )
            enc_dc(writer, ah, al)
        else:
            payload = bytes([1, ci + 1, 0x00, ss, se, (ah << 4) | al])
            if ah == 0:
                enc_ac_first(writer, ci, ss, se, al)
            else:
                enc_ac_refine(writer, ci, ss, se, al)
        body += seg(0xDA, payload) + writer.flush()

    app0 = b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00"
    if gray:
        dqt = seg(0xDB, b"\x00" + qy_zz.astype(np.uint8).tobytes())
        sof = seg(
            0xC2,
            struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]),
        )
    else:
        dqt = seg(
            0xDB,
            b"\x00" + qy_zz.astype(np.uint8).tobytes()
            + b"\x01" + qc_zz.astype(np.uint8).tobytes(),
        )
        sof = seg(
            0xC2,
            struct.pack(">BHHB", 8, h, w, 3)
            + bytes([1, (hs << 4) | vs, 0, 2, 0x11, 1, 3, 0x11, 1]),
        )
    dht = (
        seg(0xC4, b"\x00" + _JPEG_ENC_DC_DHT)
        + seg(0xC4, b"\x10" + _JPEG_PROG_AC_DHT)
    )
    dri = (
        seg(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return b"\xff\xd8" + seg(0xE0, app0) + dqt + sof + dht + dri + body + b"\xff\xd9"


def _pixel_feature(px: np.ndarray) -> list[float]:
    """8-dim feature from real pixels, all components in [0, 1]:
    per-channel means, gray mean/std/min/max, bright-pixel fraction."""
    a = px.astype(np.float64) / 255.0
    gray = a.mean(axis=2)
    vals = [
        a[..., 0].mean(),
        a[..., 1].mean(),
        a[..., 2].mean(),
        gray.mean(),
        gray.std(),
        gray.min(),
        gray.max(),
        (gray > gray.mean()).mean(),
    ]
    return [round(float(v), 6) for v in vals]


def _decode_wav(content: bytes) -> tuple[int, int, np.ndarray]:
    """Pure-struct/numpy WAV (RIFF PCM) decode → (sample_rate, n_channels,
    samples[n_frames, n_channels] int16).

    Walks the RIFF chunk list for ``fmt `` (must be format 1 = integer
    PCM, 16-bit) and ``data``; chunks are word-aligned (odd sizes pad one
    byte). No codec involved — WAV PCM is a plain header + raw samples,
    the audio analogue of PPM/BMP."""
    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(content):
        cid = content[pos : pos + 4]
        (size,) = struct.unpack_from("<I", content, pos + 4)
        body = content[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _brate, _align, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError("only 16-bit integer PCM WAV supported")
    raw = np.frombuffer(data, dtype="<i2")
    n_frames = raw.size // max(n_channels, 1)
    return sample_rate, n_channels, raw[: n_frames * n_channels].reshape(
        n_frames, n_channels
    )


def _encode_wav_pcm16(samples: np.ndarray, rate: int) -> bytes:
    """Mono 16-bit integer PCM WAV encode — the inverse of
    ``_decode_wav`` for the planted/test path (the audio analogue of
    ``_encode_ppm_p6``): canonical 44-byte RIFF header (fmt 16 bytes,
    format 1, 1 channel) + little-endian samples."""
    data = np.asarray(samples, dtype="<i2").tobytes()
    n = len(data)
    return (
        b"RIFF" + struct.pack("<I", 36 + n) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data" + struct.pack("<I", n) + data
    )


def _audio_feature(rate: int, samples: np.ndarray) -> list[float]:
    """8-dim feature from real PCM samples: duration (s), rms, mean abs,
    peak (all amplitudes normalized to [0, 1]), zero-crossing rate,
    per-half energies, silence fraction. A zero-sample input (empty
    data chunk / empty window) yields all-zeros, never NaN (np.mean of
    an empty slice is NaN + a RuntimeWarning)."""
    if samples.size == 0:
        return [0.0] * 8
    a = samples.astype(np.float64) / 32768.0
    mono = a.mean(axis=1) if a.ndim == 2 else a
    n = max(mono.size, 1)
    half = n // 2 or 1
    zc = float(np.count_nonzero(np.diff(np.signbit(mono)))) / n
    vals = [
        n / max(rate, 1),
        float(np.sqrt(np.mean(mono**2))),
        float(np.abs(mono).mean()),
        float(np.abs(mono).max(initial=0.0)),
        zc,
        float(np.sqrt(np.mean(mono[:half] ** 2))),
        float(np.sqrt(np.mean(mono[half:] ** 2))) if mono[half:].size else 0.0,
        float((np.abs(mono) < 1e-3).mean()),
    ]
    return [round(v, 6) for v in vals]


# mime → pure-numpy pixel decoder; everything else hits the stub tier
REAL_DECODERS = {
    MIME_PPM: _decode_pnm,  # P6 (delegated) + ASCII P3
    MIME_PGM: _decode_pnm,  # P2/P5 graymaps
    MIME_PBM: _decode_pnm,  # P1/P4 bitmaps
    MIME_BMP: _decode_bmp,
    MIME_PNG: _decode_png,
    "image/tiff": _decode_tiff,
    "image/jpeg": _decode_jpeg,
    "image/gif": _decode_gif,
}
# mime → pure-struct audio decoder (its own tier: different meta mapping)
AUDIO_DECODERS = {MIME_WAV: _decode_wav}


def _mp4_boxes(buf: bytes, start: int, end: int):
    """Iterate ISO-BMFF boxes in [start, end): yields (type, payload
    start, payload end). Handles 64-bit largesize (size==1) and
    to-end-of-file (size==0); a box that would not advance or overruns
    its parent raises ValueError (the stub-routable malformed case)."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack_from(">I", buf, pos)
        hdr = 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated MP4 largesize box")
            (size,) = struct.unpack_from(">Q", buf, pos + 8)
            hdr = 16
        elif size == 0:
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError("malformed MP4 box size")
        yield buf[pos + 4 : pos + 8], pos + hdr, pos + size
        pos += size


def _parse_mp4_meta(content: bytes) -> tuple[int, int, int]:
    """REAL video metadata from an MP4/ISO-BMFF container — a pure
    struct box walk, no codec: (width, height, n_samples) of the first
    video track. Dims come from the track's ``tkhd`` (16.16 fixed
    point, version 0 and 1 layouts), the frame count from its
    ``stsz`` sample_count. Pixel/frame DECODE still needs a codec and
    stays stubbed; this parser upgrades the video tier's width/height/
    n_frames columns from digest fakes to container truth."""
    if len(content) < 12 or content[4:8] != b"ftyp":
        raise ValueError("not an MP4 (missing ftyp)")
    moov = None
    for btype, s, e in _mp4_boxes(content, 0, len(content)):
        if btype == b"moov":
            moov = (s, e)
            break
    if moov is None:
        raise ValueError("MP4 missing moov")
    for btype, s, e in _mp4_boxes(content, *moov):
        if btype != b"trak":
            continue
        t_w = t_h = t_n = 0
        is_video = False
        for b2, s2, e2 in _mp4_boxes(content, s, e):
            if b2 == b"tkhd":
                ver = content[s2]
                off = s2 + (88 if ver == 1 else 76)
                if off + 8 > e2:
                    raise ValueError("truncated MP4 tkhd")
                w_fp, h_fp = struct.unpack_from(">II", content, off)
                t_w, t_h = w_fp >> 16, h_fp >> 16
            elif b2 == b"mdia":
                for b3, s3, e3 in _mp4_boxes(content, s2, e2):
                    if b3 == b"hdlr":
                        is_video = content[s3 + 8 : s3 + 12] == b"vide"
                    elif b3 == b"minf":
                        for b4, s4, e4 in _mp4_boxes(content, s3, e3):
                            if b4 != b"stbl":
                                continue
                            for b5, s5, e5 in _mp4_boxes(
                                content, s4, e4
                            ):
                                if b5 == b"stsz" and s5 + 12 <= e5:
                                    (t_n,) = struct.unpack_from(
                                        ">I", content, s5 + 8
                                    )
        if is_video:
            return t_w, t_h, t_n
    raise ValueError("MP4 has no video track")


def _parse_webp_meta(content: bytes) -> tuple[int, int, int]:
    """REAL WebP container metadata — (width, height, n_frames) from a
    pure struct walk of the RIFF chunks: VP8X carries 24-bit LE dims-1,
    VP8L packs 14-bit dims-1 after its 0x2f signature, lossy VP8 has
    14-bit LE dims after the 0x9d012a start code; animations report
    their ANMF frame count. Pixel DECODE needs the VP8 codec and stays
    stubbed — this upgrades width/height/n_frames to container truth
    (the MP4 tier's contract)."""
    if len(content) < 16 or content[:4] != b"RIFF" or content[8:12] != b"WEBP":
        raise ValueError("not a WebP (missing RIFF/WEBP magic)")
    pos, end = 12, len(content)
    w = h = 0
    n_anmf = 0
    while pos + 8 <= end:
        fourcc = content[pos : pos + 4]
        (size,) = struct.unpack_from("<I", content, pos + 4)
        body = pos + 8
        if body + size > end:
            raise ValueError("truncated WebP chunk")
        if fourcc == b"VP8X" and size >= 10:
            w = 1 + int.from_bytes(content[body + 4 : body + 7], "little")
            h = 1 + int.from_bytes(content[body + 7 : body + 10], "little")
        elif fourcc == b"VP8L" and size >= 5 and w == 0:
            if content[body] != 0x2F:
                raise ValueError("bad VP8L signature")
            bits = int.from_bytes(content[body + 1 : body + 5], "little")
            w = (bits & 0x3FFF) + 1
            h = ((bits >> 14) & 0x3FFF) + 1
        elif fourcc == b"VP8 " and size >= 10 and w == 0:
            if content[body + 3 : body + 6] != b"\x9d\x01\x2a":
                raise ValueError("bad VP8 start code")
            w = struct.unpack_from("<H", content, body + 6)[0] & 0x3FFF
            h = struct.unpack_from("<H", content, body + 8)[0] & 0x3FFF
        elif fourcc == b"ANMF":
            n_anmf += 1
        pos = body + size + (size & 1)  # chunks pad to even
    if w == 0 or h == 0:
        raise ValueError("WebP carries no VP8/VP8L/VP8X dims")
    return w, h, max(n_anmf, 1)


# mime → metadata-only parser (container truth for dims/frame count;
# pixel decode still codec-bound → feature stays the digest fake)
VIDEO_META_PARSERS = {
    "video/mp4": _parse_mp4_meta,
    "image/webp": _parse_webp_meta,
}


def _fake_decode(content: bytes) -> tuple[int, int, int, list[float]]:
    """Deterministic fake decoder (this container has no codec libs).

    Derives pseudo width/height/frames and an 8-dim feature from the raw
    bytes. Replace with PIL/ffmpeg decode in production.
    """
    if content is None:
        return 0, 0, 0, []
    import hashlib

    digest = hashlib.md5(content).digest()
    width = 16 + digest[0] % 240
    height = 16 + digest[1] % 240
    n_frames = 1 + digest[2] % 8
    feature = [round(b / 255.0, 6) for b in digest[3:11]]
    return width, height, n_frames, feature


def decode_media(df: DataFrame, strict: bool = False) -> DataFrame:
    """Decode/feature-extract via Arrow-batched ``mapInPandas``.

    Rows whose mime has a pure-numpy decoder (``REAL_DECODERS``: PPM P6,
    uncompressed 24-bit BMP, every legal static PNG via stdlib zlib,
    baseline-sequential AND progressive Huffman JPEG, GIF87a/89a) are
    decoded for real — header-parsed width/height and an 8-dim
    pixel-statistics feature. Other mimes use the deterministic
    digest-derived fake; ``strict=True`` raises NotImplementedError for
    them instead (where a real codec would run). Batch shape: whole
    Arrow record batches in, vectorized per-batch work, one output row
    per input row; partitioning is preserved (narrow op, no shuffle).
    """

    def decode_one(content, mime) -> tuple[int, int, int, list[float]]:
        decoder = REAL_DECODERS.get(mime)
        if decoder is not None:
            # valid-magic files the tier can't read (16-bit PPM, RLE
            # BMP, arithmetic JPEG) and corrupt blobs must not kill the
            # task in non-strict mode — digest stub, same contract as
            # the audio tier below
            try:
                px = decoder(content)
            except (ValueError, struct.error, TypeError):
                if strict:
                    raise
                return _fake_decode(content)
            return px.shape[1], px.shape[0], 1, _pixel_feature(px)
        audio = AUDIO_DECODERS.get(mime)
        if audio is not None:
            # audio rows overload the image columns, documented mapping:
            # width = sample_rate, height = n_channels, n_frames = PCM
            # frames (per channel), feature = _audio_feature.
            # detect_mime routes ANY RIFF/WAVE blob here, but only
            # 16-bit integer PCM decodes — float32/24-bit/ADPCM WAVs are
            # VALID files this tier cannot read, so non-strict mode must
            # fall back to the stub rather than kill the task; NULL
            # content (TypeError) falls back too, as in audio_profile
            try:
                rate, nch, samples = audio(content)
            except (ValueError, struct.error, TypeError):
                if strict:
                    raise
                return _fake_decode(content)
            return (
                rate,
                nch,
                int(min(samples.shape[0], 2**31 - 1)),
                _audio_feature(rate, samples),
            )
        video = VIDEO_META_PARSERS.get(mime)
        if video is not None and not strict:
            # metadata tier: container box-walk gives REAL width/height/
            # n_frames (struct-only, no codec); pixel FEATURES still
            # need a codec, so the feature stays the digest fake and
            # strict mode keeps raising below (a real decode would run
            # there). Malformed containers fall to the stub like every
            # other tier.
            try:
                w, h, nf = video(content)
            except (ValueError, struct.error):
                return _fake_decode(content)
            return w, h, int(min(nf, 2**31 - 1)), _fake_decode(content)[3]
        if strict:
            raise NotImplementedError(
                f"decode of mime {mime!r} requires codec libraries "
                "(PIL/ffmpeg) not available in this environment"
            )
        return _fake_decode(content)

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [
                decode_one(c, m)
                for c, m in zip(pdf["content"], pdf["mime"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "n_bytes": pdf["content"].map(
                        lambda b: 0 if b is None else len(b)
                    ).astype("int64"),
                    "width": pd.Series(
                        [t[0] for t in decoded], index=pdf.index
                    ).astype("int32"),
                    "height": pd.Series(
                        [t[1] for t in decoded], index=pdf.index
                    ).astype("int32"),
                    "n_frames": pd.Series(
                        [t[2] for t in decoded], index=pdf.index
                    ).astype("int32"),
                    "feature": pd.Series(
                        [t[3] for t in decoded], index=pdf.index
                    ),
                }
            )

    return df.mapInPandas(decode_batches, schema=DECODED_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("content", T.BinaryType()),
    ]
)

FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_feature", T.ArrayType(T.FloatType())),
    ]
)


def resize_media(df: DataFrame, width: int, height: int) -> DataFrame:
    """Resize via Arrow-batched ``mapInPandas``, one row per input row,
    target dimensions attached. Decodable mimes (PPM/BMP/PNG) are REALLY
    resampled — nearest-neighbor index selection on the decoded pixel
    array — and re-encoded as P6 (mime follows the content). Other
    mimes pass content through unchanged (a real kernel swaps in
    PIL.Image.resize there). Narrow op: no shuffle, partitioning
    preserved."""

    def resize_one(content, mime) -> tuple[bytes, str]:
        decoder = REAL_DECODERS.get(mime)
        if decoder is None:
            return content, mime  # stub tier: pass-through
        try:
            px = decoder(content)
        except (ValueError, struct.error, TypeError):
            return content, mime  # undecodable variant: pass-through
        h, w = px.shape[:2]
        rows = (np.arange(height) * h) // height
        cols = (np.arange(width) * w) // width
        return _encode_ppm_p6(px[rows][:, cols]), MIME_PPM

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized = [
                resize_one(c, m) for c, m in zip(pdf["content"], pdf["mime"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pd.Series(
                        [t[1] for t in resized], index=pdf.index
                    ),
                    "width": width,
                    "height": height,
                    "content": pd.Series(
                        [t[0] for t in resized], index=pdf.index
                    ),
                }
            ).astype({"width": "int32", "height": "int32"})

    return df.mapInPandas(resize_batches, schema=RESIZED_SCHEMA)


def sample_frames(df: DataFrame, max_frames: int = 4) -> DataFrame:
    """Frame sampling: 1 → N table-generating ``mapInPandas`` — each media
    row emits up to ``max_frames`` evenly-spaced frame rows with per-frame
    features. WAV rows (when a ``mime`` column is present) sample REAL
    evenly-spaced PCM windows with per-window audio features
    (``frame_idx`` = window start frame); other mimes emit deterministic
    fake features (a real kernel decodes and samples actual video
    frames). The output explodes rows but never shuffles.

    The fake per-frame digest is md5 over the STRING ``"<content-md5-hex>:
    <frame_no>"`` (not over raw bytes) so the stub is expressible in ANSI
    SQL and the whole pipeline stays oracle-checkable end to end."""

    def sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            ids, idxs, feats = [], [], []
            mimes = (
                pdf["mime"]
                if "mime" in pdf.columns
                else pd.Series([None] * len(pdf), index=pdf.index)
            )
            for mid, content, mime in zip(
                pdf["media_id"], pdf["content"], mimes
            ):
                samples = None
                if mime in AUDIO_DECODERS:
                    # REAL audio frames: up to max_frames evenly-spaced
                    # windows of the PCM stream, per-window rms features;
                    # undecodable WAV variants (float32/ADPCM/truncated)
                    # fall through to the fake tier — sample_frames has
                    # no strict mode and must not kill the task
                    try:
                        rate, _nch, samples = AUDIO_DECODERS[mime](content)
                    except (ValueError, struct.error):
                        samples = None
                if samples is not None:
                    take = min(max_frames, max(1, samples.shape[0]))
                    bounds = np.linspace(
                        0, samples.shape[0], take + 1, dtype=np.int64
                    )
                    for j in range(take):
                        win = samples[bounds[j] : bounds[j + 1]]
                        ids.append(mid)
                        idxs.append(int(bounds[j]))
                        feats.append(
                            _audio_feature(rate, win)
                            if win.size
                            else [0.0] * 8
                        )
                    continue
                _, _, n_frames, _ = _fake_decode(content)
                take = min(max_frames, n_frames)
                h = hashlib.md5(content or b"").hexdigest()
                for j in range(take):
                    # evenly spaced: frame j of take over n_frames total
                    frame_no = (j * n_frames) // max(take, 1)
                    d = hashlib.md5(f"{h}:{frame_no}".encode()).digest()
                    ids.append(mid)
                    idxs.append(frame_no)
                    feats.append([round(b / 255.0, 6) for b in d[:8]])
            out = pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame_feature": feats}
            )
            out["media_id"] = out["media_id"].astype("int64")
            out["frame_idx"] = out["frame_idx"].astype("int32")
            yield out

    return df.mapInPandas(sample_batches, schema=FRAMES_SCHEMA)


def media_meta(df: DataFrame) -> DataFrame:
    """Metadata-only path (no decode): byte length etc. as pure column
    expressions — stays in codegen, oracle-checkable."""
    return df.select(
        "media_id",
        "mime",
        F.length("content").cast("bigint").alias("n_bytes"),
        F.md5("content").alias("content_hash"),
    )


# --- perceptual hashing (image near-dup) ------------------------------------


def _resample32(g: np.ndarray) -> np.ndarray:
    """Area-mean resample of a 2-D grayscale array to exactly 32x32.

    Integral-image (summed-area table) bin means over near-equal index
    bins — the smooth downscale canonical pHash wants, pure numpy, any
    input size; axes smaller than 32 are nearest-upsampled first."""
    if g.shape[0] < 32:
        g = g[(np.arange(32) * g.shape[0]) // 32, :]
    if g.shape[1] < 32:
        g = g[:, (np.arange(32) * g.shape[1]) // 32]
    h, w = g.shape
    re = (np.arange(33) * h) // 32
    ce = (np.arange(33) * w) // 32
    c = np.zeros((h + 1, w + 1))
    c[1:, 1:] = g.cumsum(0).cumsum(1)
    s = (
        c[re[1:, None], ce[None, 1:]]
        - c[re[:-1, None], ce[None, 1:]]
        - c[re[1:, None], ce[None, :-1]]
        + c[re[:-1, None], ce[None, :-1]]
    )
    area = (re[1:, None] - re[:-1, None]) * (ce[None, 1:] - ce[None, :-1])
    return s / area


_DCT32 = None  # built lazily once per worker


def _phash64(px: np.ndarray) -> int:
    """Classic 64-bit DCT perceptual hash (the pHash algorithm):
    luma → 32x32 area-mean resample → 2-D DCT-II (matrix form) → the
    8x8 low-frequency block → bit i set iff coefficient i exceeds the
    median of the 63 non-DC coefficients (the DC bit is always 0 — it
    encodes only overall brightness). Robust to resizing, small edits
    and brightness shifts; output is a signed int64 compatible with the
    SimHash banding machinery."""
    global _DCT32
    if _DCT32 is None:
        k = np.arange(32)
        _DCT32 = np.cos(np.pi / 32 * np.outer(k, k + 0.5))
    gray = px.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    coef = _DCT32 @ _resample32(gray) @ _DCT32.T
    block = coef[:8, :8].ravel()
    med = np.median(block[1:])
    # DC-scaled tolerance: a flat image's 63 non-DC coefficients are
    # pure float rounding noise (~1e-13) — without the epsilon the bits
    # would encode that noise and two identical solid frames could land
    # 30 bits apart. Any coefficient within tol of the median counts as
    # "not above": every flat image hashes to exactly 0, while real
    # content (coefficients O(1)+) is unaffected.
    tol = 1e-6 * max(1.0, abs(block[0]))
    h = 0
    for i in range(1, 64):
        if block[i] > med + tol:
            h |= 1 << i
    return h - (1 << 64) if h >= 1 << 63 else h


def _fake_phash(content: bytes) -> int:
    """Digest-derived stand-in for mimes without a real decoder:
    identical bytes → identical hash (exact-dup-only matching), byte
    changes randomize it — never a false near-match by construction."""
    import hashlib

    if content is None:
        return 0
    digest = hashlib.md5(content).digest()
    return int.from_bytes(digest[:8], "little", signed=True)


def image_phash(df: DataFrame, strict: bool = False) -> DataFrame:
    """(media_id, mime, phash) for a media table — the image-side
    near-dup signature. Mimes with a real pure-numpy decoder (PPM P6,
    uncompressed 24-bit BMP, 8-bit PNG) hash their PIXELS, so the same image
    stored in different formats produces the SAME phash (pinned in
    tests); other mimes fall back to the digest stand-in
    (``strict=True`` raises instead, where a codec library would run).

    Arrow-batched ``mapInPandas``, narrow (no shuffle): media bytes
    never cross the wire — downstream banding ships only the 8-byte
    fingerprint. Feed the output to ``image_neardup_pairs`` (SimHash
    pigeonhole banding + Hamming verify)."""

    def hash_one(content, mime) -> int:
        decoder = REAL_DECODERS.get(mime)
        if decoder is not None:
            # corrupt/truncated/NULL content must not kill the task in
            # non-strict mode — same contract as decode_media's tiers:
            # fall back to the digest stand-in (exact-only matching)
            try:
                return _phash64(decoder(content))
            except (ValueError, struct.error, TypeError):
                if strict:
                    raise
                return _fake_phash(content)
        if strict:
            raise NotImplementedError(
                f"phash of mime {mime!r} requires codec libraries "
                "(PIL/ffmpeg) not available in this environment"
            )
        return _fake_phash(content)

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "phash": np.array(
                        [
                            hash_one(c, m)
                            for c, m in zip(pdf["content"], pdf["mime"])
                        ],
                        dtype=np.int64,
                    ),
                }
            )

    return df.select("media_id", "content", "mime").mapInPandas(
        hash_batches, "media_id long, mime string, phash long"
    )


def image_neardup_pairs(
    df: DataFrame, max_hamming: int = 6, strict: bool = False
) -> DataFrame:
    """Near-duplicate image pairs: pHash fingerprints → the SAME
    pigeonhole band equi-join + popcount verify the text SimHash path
    uses (``dedup.simhash_neardup_pairs``) — (id_a, id_b, hamming) with
    hamming ≤ ``max_hamming``. One fingerprint pass over the media
    (narrow), one band-key self-join; image bytes never shuffle."""
    from .dedup import simhash_neardup_pairs

    fp = image_phash(df, strict=strict).select(
        F.col("media_id"), F.col("phash").alias("simhash")
    )
    return simhash_neardup_pairs(fp, "media_id", max_hamming=max_hamming)


def _audio_phash64(samples: np.ndarray) -> int:
    """64-bit spectral perceptual hash for PCM audio: mono mix → 64
    equal time frames → per-frame FFT log-power spectrum (rfft) → the
    (frames × bins) log-spectrogram runs through the SAME pipeline as
    the image pHash (integral-image 32×32 resample → DCT-II → 8×8
    low-band median bits). Volume-invariant (log power shifts by a
    constant, which the median threshold removes — like brightness for
    images) and robust to small edits; silence hashes to exactly 0 (the
    flat-image case). Raises ValueError on empty audio."""
    if samples.size == 0:
        raise ValueError("empty audio")
    a = samples.astype(np.float64) / 32768.0
    mono = a.mean(axis=1) if a.ndim == 2 else a
    n_frames = 64
    frame_len = max(len(mono) // n_frames, 1)
    frames = mono[: frame_len * n_frames]
    if len(frames) < n_frames:  # shorter than 64 samples: pad
        frames = np.pad(frames, (0, n_frames - len(frames)))
        frame_len = 1
    spec = np.abs(
        np.fft.rfft(frames.reshape(-1, frame_len), axis=1)
    )
    gram = np.log10(spec + 1e-10)
    if gram.shape[1] == 1:
        gram = np.repeat(gram, 2, axis=1)  # _resample32 needs 2-D extent
    # reuse the image pipeline on the spectrogram "image" — scaled to a
    # pseudo-pixel range only for the shared helper's contract; the
    # median-bit step is scale-invariant anyway
    lo, hi = gram.min(), gram.max()
    span = hi - lo
    if span <= 0:
        return 0  # constant spectrogram (silence / pure DC): flat case
    img = (gram - lo) / span * 255.0
    return _phash64(np.repeat(img[:, :, None], 3, axis=2))


def audio_phash(df: DataFrame, strict: bool = False) -> DataFrame:
    """(media_id, mime, phash) for audio rows — the WAV-tier sibling of
    ``image_phash``: decodable audio (RIFF 16-bit PCM) hashes its
    SPECTROGRAM, so re-encoded/volume-shifted copies collide; other
    mimes (or corrupt/float/ADPCM WAVs in non-strict mode) fall back to
    the digest stand-in. Feed to ``audio_neardup_pairs``."""

    def hash_one(content, mime) -> int:
        audio = AUDIO_DECODERS.get(mime)
        if audio is not None:
            try:
                _rate, _nch, samples = audio(content)
                return _audio_phash64(samples)
            except (ValueError, struct.error, TypeError):
                if strict:
                    raise
                return _fake_phash(content)
        if strict:
            raise NotImplementedError(
                f"audio phash of mime {mime!r} requires codec libraries "
                "not available in this environment"
            )
        return _fake_phash(content)

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "phash": np.array(
                        [
                            hash_one(c, m)
                            for c, m in zip(pdf["content"], pdf["mime"])
                        ],
                        dtype=np.int64,
                    ),
                }
            )

    return df.select("media_id", "content", "mime").mapInPandas(
        hash_batches, "media_id long, mime string, phash long"
    )


AUDIO_PROFILE_SCHEMA = (
    "media_id long, mime string, n_bytes long, width int, height int, "
    "n_frames int, feature array<float>, spec_centroid_hz double, "
    "spec_bandwidth_hz double, spec_rolloff_hz double, "
    "spec_flatness double, dominant_hz double, phash long"
)


def audio_profile(df: DataFrame, strict: bool = False) -> DataFrame:
    """The full audio surface from ONE decode: the decode tier's
    columns (width = sample_rate, height = n_channels, n_frames,
    8-dim time-domain ``feature`` — the documented audio overload of
    ``decode_media``), the 5 spectral columns of
    ``audio_spectral_features`` AND the spectrogram ``phash`` of
    ``audio_phash``, in a single Arrow pass that parses the PCM
    samples once (guide §4 — the three-operator composition decoded
    the same bytes three times; round 13: x13's audio chain ran 4
    Arrow passes over the same planted WAVs). Column-for-column equal
    to the composition — same kernels (``_audio_feature``,
    ``_audio_spectral``, ``_audio_phash64``), same fallbacks
    (undecodable/corrupt audio and NULL content: digest-fake feature,
    NULL spectral, digest phash; pinned in tests). Use the individual
    operators when only one family is needed — this op pays all three
    kernels per row."""

    def profile_one(content, mime):
        audio = AUDIO_DECODERS.get(mime)
        if audio is not None:
            try:
                rate, nch, samples = audio(content)
            except (ValueError, struct.error, TypeError):
                if strict:
                    raise
                fw, fh, fn, ff = _fake_decode(content)
                return fw, fh, fn, ff, None, _fake_phash(content)
            return (
                rate,
                nch,
                int(min(samples.shape[0], 2**31 - 1)),
                _audio_feature(rate, samples),
                _audio_spectral(rate, samples),
                _audio_phash64(samples),
            )
        if strict:
            raise NotImplementedError(
                f"audio profile of mime {mime!r} requires codec "
                "libraries not available in this environment"
            )
        fw, fh, fn, ff = _fake_decode(content)
        return fw, fh, fn, ff, None, _fake_phash(content)

    def profile_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                profile_one(c, m)
                for c, m in zip(pdf["content"], pdf["mime"])
            ]
            out = {
                "media_id": pdf["media_id"],
                "mime": pdf["mime"],
                "n_bytes": pdf["content"]
                .map(lambda b: 0 if b is None else len(b))
                .astype("int64"),
                "width": pd.Series(
                    [r[0] for r in rows], index=pdf.index
                ).astype("int32"),
                "height": pd.Series(
                    [r[1] for r in rows], index=pdf.index
                ).astype("int32"),
                "n_frames": pd.Series(
                    [r[2] for r in rows], index=pdf.index
                ).astype("int32"),
                "feature": pd.Series(
                    [r[3] for r in rows], index=pdf.index
                ),
            }
            for i, name in enumerate(
                (
                    "spec_centroid_hz",
                    "spec_bandwidth_hz",
                    "spec_rolloff_hz",
                    "spec_flatness",
                    "dominant_hz",
                )
            ):
                out[name] = [
                    (None if r[4] is None else r[4][i]) for r in rows
                ]
            out["phash"] = np.array(
                [r[5] for r in rows], dtype=np.int64
            )
            yield pd.DataFrame(out)

    return df.select("media_id", "content", "mime").mapInPandas(
        profile_batches, AUDIO_PROFILE_SCHEMA
    )


def audio_neardup_pairs(
    df: DataFrame, max_hamming: int = 6, strict: bool = False
) -> DataFrame:
    """Near-duplicate audio pairs: spectral pHash → the shared SimHash
    pigeonhole banding + popcount verify (same contract as
    ``image_neardup_pairs``; audio bytes never shuffle)."""
    from .dedup import simhash_neardup_pairs

    fp = audio_phash(df, strict=strict).select(
        F.col("media_id"), F.col("phash").alias("simhash")
    )
    return simhash_neardup_pairs(fp, "media_id", max_hamming=max_hamming)


def _audio_spectral(rate: int, samples: np.ndarray) -> list[float]:
    """5-dim spectral feature from PCM samples via one rfft over the
    mono mix (capped at 2^16 samples — bounded compute per row however
    long the clip): spectral centroid, bandwidth, 85% rolloff and the
    dominant frequency in Hz, plus spectral flatness (geometric/
    arithmetic power mean, 1 ≈ noise, →0 ≈ tonal). DC is excluded from
    the dominant-frequency argmax (a constant offset is not a tone).
    Zero/too-short input yields all-zeros, never NaN."""
    if samples.size == 0:
        return [0.0] * 5
    a = samples.astype(np.float64) / 32768.0
    mono = a.mean(axis=1) if a.ndim == 2 else a
    mono = mono[: 1 << 16]
    if mono.size < 4:
        return [0.0] * 5
    p = np.abs(np.fft.rfft(mono)) ** 2
    freqs = np.fft.rfftfreq(mono.size, d=1.0 / max(rate, 1))
    tot = float(p.sum())
    if tot <= 0.0:
        return [0.0] * 5
    centroid = float((freqs * p).sum() / tot)
    bandwidth = float(np.sqrt((((freqs - centroid) ** 2) * p).sum() / tot))
    cum = np.cumsum(p)
    rolloff = float(freqs[int(np.searchsorted(cum, 0.85 * tot))])
    flatness = float(
        np.exp(np.mean(np.log(p + 1e-30))) / (p.mean() + 1e-30)
    )
    dominant = float(freqs[1 + int(np.argmax(p[1:]))]) if p.size > 1 else 0.0
    return [
        round(centroid, 6),
        round(bandwidth, 6),
        round(rolloff, 6),
        round(flatness, 6),
        round(dominant, 6),
    ]


def audio_spectral_features(df: DataFrame, strict: bool = False) -> DataFrame:
    """Frequency-domain audio features per blob — the spectral
    complement of the 8-dim time-domain feature the decode tier emits:
    (media_id, mime, spec_centroid_hz, spec_bandwidth_hz,
    spec_rolloff_hz, spec_flatness, dominant_hz). Decodable audio
    (RIFF 16-bit PCM) computes them from one bounded rfft
    (``_audio_spectral``); non-audio mimes and undecodable WAV
    variants get NULLs in non-strict mode — these columns are TYPED
    physical quantities (Hz), so a digest fake would masquerade as a
    measurement (contrast the dimensionless fake feature vector, where
    the stub is the documented pipeline-shape contract); strict mode
    raises. One Arrow pass, bytes never shuffle."""

    def one(content, mime):
        audio = AUDIO_DECODERS.get(mime)
        if audio is not None:
            try:
                rate, _nch, samples = audio(content)
                return _audio_spectral(rate, samples)
            except (ValueError, struct.error, TypeError):
                if strict:
                    raise
                return None
        if strict:
            raise NotImplementedError(
                f"spectral features of mime {mime!r} require codec "
                "libraries not available in this environment"
            )
        return None

    cols = [
        "spec_centroid_hz",
        "spec_bandwidth_hz",
        "spec_rolloff_hz",
        "spec_flatness",
        "dominant_hz",
    ]

    def batches_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [one(c, m) for c, m in zip(pdf["content"], pdf["mime"])]
            out = {
                "media_id": pdf["media_id"],
                "mime": pdf["mime"],
            }
            for i, name in enumerate(cols):
                out[name] = [
                    (None if f is None else f[i]) for f in feats
                ]
            yield pd.DataFrame(out)

    return df.select("media_id", "mime", "content").mapInPandas(
        batches_fn,
        "media_id long, mime string, "
        + ", ".join(f"{c} double" for c in cols),
    )
