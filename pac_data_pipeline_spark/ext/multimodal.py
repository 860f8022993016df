"""Multimodal columns: binary payloads + typed metadata.

Media (image/audio/video) travel as opaque ``binary`` columns with a
typed metadata struct; decode/feature steps are Arrow-batched
``mapInPandas`` operators so each Python batch amortizes serde over
thousands of rows.

The decode path is REAL for six image formats — BMP (header +
pixel-matrix parse), PNG (stdlib-zlib chunk walk + inflate + full
None/Sub/Up/Average/Paeth unfiltering), baseline JPEG (marker walk +
canonical Huffman + dequantize + IDCT, see ``ext.jpeg``), GIF
(variable-width LZW + global color table, see ``ext.gif``),
uncompressed TIFF (IFD walk + strip assembly), and lossless WebP
(VP8L prefix codes + LZ77 + color cache + all four transforms, see
``ext.webp``) — plus WAV audio in 16-bit PCM and 8-bit G.711
μ-law/A-law. Each format has a matching
synthesizer (``*_media_from_documents`` / ``encode_*``) emitting
genuine files from deterministic tiled-seed formulas, and
``extract_features`` dispatches per payload so width/height and
channel statistics are computed from the bytes, not passed through.
Video is REAL for uncompressed AVI (RIFF demux + raw-DIB frame
decode, see :mod:`pac_data_pipeline_spark.ext.avi`); formats needing
a native codec library (compressed video / webp via ffmpeg) stay
behind ``_decode_real`` which raises ``NotImplementedError`` in this
container; undecodable payloads fall back to a deterministic
byte-hash feature so the distributed plumbing still runs end-to-end.

Scale notes: binary payloads inflate row size — keep
``spark.sql.files.maxPartitionBytes`` small enough that a batch of
decoded frames fits executor memory, and never collect() media rows.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pac_data_pipeline_spark.session import ensure_parallelism

#: What a codec raises on a payload it cannot decode. The codecs'
#: documented contract is ValueError, but fuzzing shows truncated /
#: bit-flipped payloads can surface as struct.error (short unpack),
#: IndexError (exhausted bitstream), or KeyError (corrupt Huffman /
#: LZW table) from deep inside a decoder — one malformed document
#: must fall back / skip, never kill the whole Spark task.
_CODEC_ERRORS = (ValueError, struct.error, IndexError, KeyError)

#: Typed metadata carried beside every media payload.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("content", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("n_bytes", T.LongType()),
                    T.StructField("format", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("decoded", T.BooleanType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)

_BMP_HEADER_SIZE = 14 + 40  # BITMAPFILEHEADER + BITMAPINFOHEADER


def encode_bmp(width: int, height: int, pixel_seed: bytes) -> bytes:
    """Build a real 24-bpp bottom-up BMP. Pixel bytes are the seed
    tiled over the image — deterministic, codec-free, and decodable
    by any BMP reader (this module's, PIL's, or an OS viewer)."""
    if width <= 0 or height <= 0:
        raise ValueError("width/height must be positive")
    row_raw = width * 3
    pad = (4 - row_raw % 4) % 4
    stride = row_raw + pad
    img_size = stride * height
    seed = np.frombuffer(pixel_seed or b"\x00", dtype=np.uint8)
    rows = np.zeros((height, stride), dtype=np.uint8)
    flat = np.tile(seed, (height * row_raw) // len(seed) + 1)[: height * row_raw]
    rows[:, :row_raw] = flat.reshape(height, row_raw)
    file_header = struct.pack(
        "<2sIHHI", b"BM", _BMP_HEADER_SIZE + img_size, 0, 0, _BMP_HEADER_SIZE
    )
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    return file_header + info_header + rows.tobytes()


def decode_bmp(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Parse a 24-bpp uncompressed BMP headerwise: returns (width,
    height, pixels[height, width, 3] BGR). Raises ValueError on
    anything that is not a decodable BMP."""
    if len(payload) < _BMP_HEADER_SIZE or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (pixel_off,) = struct.unpack_from("<I", payload, 10)
    width, height = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    (compression,) = struct.unpack_from("<I", payload, 30)
    if bpp != 24 or compression != 0 or width <= 0 or height <= 0:
        raise ValueError(f"unsupported BMP: bpp={bpp} comp={compression}")
    stride = (width * 3 + 3) & ~3
    data = np.frombuffer(payload, dtype=np.uint8, offset=pixel_off)
    if len(data) < stride * height:
        raise ValueError("truncated BMP pixel data")
    rows = data[: stride * height].reshape(height, stride)[:, : width * 3]
    # bottom-up storage order → flip to top-down
    return width, height, rows.reshape(height, width, 3)[::-1]


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (RFC 2083 §6.6): pick the neighbor
    (left, up, up-left) closest to a + b - c."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def encode_png(width: int, height: int, pixel_seed: bytes) -> bytes:
    """Build a REAL truecolor 8-bit PNG with stdlib ``zlib`` only:
    signature + IHDR + one IDAT (deflate of filtered scanlines) +
    IEND. Pixels are the seed tiled over the image (same generative
    formula as :func:`encode_bmp`, but RGB top-down). The per-row
    filter type cycles 0..4 (None/Sub/Up/Average/Paeth) so a decoder
    must implement every unfilter to read it — deliberately, since
    :func:`decode_png` is the decoder under test."""
    if width <= 0 or height <= 0:
        raise ValueError("width/height must be positive")
    row_raw = width * 3
    seed = np.frombuffer(pixel_seed or b"\x00", dtype=np.uint8)
    flat = np.tile(seed, (height * row_raw) // len(seed) + 1)[: height * row_raw]
    raw = flat.reshape(height, row_raw).astype(np.int16)
    out = bytearray()
    prior = np.zeros(row_raw, dtype=np.int16)
    for y in range(height):
        row = raw[y]
        ft = y % 5
        out.append(ft)
        if ft == 0:
            filt = row
        elif ft == 1:  # Sub
            left = np.concatenate([np.zeros(3, dtype=np.int16), row[:-3]])
            filt = (row - left) % 256
        elif ft == 2:  # Up
            filt = (row - prior) % 256
        elif ft == 3:  # Average
            left = np.concatenate([np.zeros(3, dtype=np.int16), row[:-3]])
            filt = (row - (left + prior) // 2) % 256
        else:  # Paeth
            filt = np.empty(row_raw, dtype=np.int16)
            for i in range(row_raw):
                a = int(row[i - 3]) if i >= 3 else 0
                b = int(prior[i])
                c = int(prior[i - 3]) if i >= 3 else 0
                filt[i] = (int(row[i]) - _paeth(a, b, c)) % 256
        out.extend(filt.astype(np.uint8).tobytes())
        prior = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out), 6))
        + _png_chunk(b"IEND", b"")
    )


#: channels per PNG color type (8-bit, non-palette, non-interlaced)
_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}


def decode_png(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Parse a PNG headerwise with stdlib ``zlib`` — no codec
    library: signature check, chunk walk (IHDR / IDAT* / IEND),
    inflate, and full None/Sub/Up/Average/Paeth unfiltering.
    Supports 8-bit depth, color types 0 (gray) / 2 (RGB) / 6 (RGBA),
    no interlace. Returns (width, height, pixels[h, w, channels]
    top-down). Raises ValueError on anything else — the honest stub
    for codec formats (JPEG) remains ``_decode_real``."""
    if len(payload) < len(_PNG_SIG) + 25 or payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = 8, None, bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) != length:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    width, height, depth, ctype_n, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if (
        depth != 8
        or ctype_n not in _PNG_CHANNELS
        or comp != 0
        or filt != 0
        or interlace != 0
        or width <= 0
        or height <= 0
    ):
        raise ValueError(
            f"unsupported PNG: depth={depth} color={ctype_n} "
            f"interlace={interlace}"
        )
    ch = _PNG_CHANNELS[ctype_n]
    row_raw = width * ch
    try:
        scan = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise ValueError(f"bad PNG deflate stream: {exc}") from exc
    if len(scan) != (1 + row_raw) * height:
        raise ValueError("PNG scanline data length mismatch")
    out = np.empty((height, row_raw), dtype=np.uint8)
    prior = np.zeros(row_raw, dtype=np.int16)
    for y in range(height):
        line = scan[y * (1 + row_raw) : (y + 1) * (1 + row_raw)]
        ft = line[0]
        filt_row = np.frombuffer(line, dtype=np.uint8, offset=1).astype(
            np.int16
        )
        if ft == 0:
            recon = filt_row
        elif ft == 2:  # Up
            recon = (filt_row + prior) % 256
        elif ft in (1, 3, 4):  # Sub / Average / Paeth: left-dependent
            recon = np.empty(row_raw, dtype=np.int16)
            for i in range(row_raw):
                a = int(recon[i - ch]) if i >= ch else 0
                if ft == 1:
                    pred = a
                elif ft == 3:
                    pred = (a + int(prior[i])) // 2
                else:
                    c = int(prior[i - ch]) if i >= ch else 0
                    pred = _paeth(a, int(prior[i]), c)
                recon[i] = (int(filt_row[i]) + pred) % 256
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        out[y] = recon.astype(np.uint8)
        prior = recon
    return width, height, out.reshape(height, width, ch)


def media_table_from_documents(documents: DataFrame) -> DataFrame:
    """Build a media table from the documents fixture: the UTF-8
    bytes of ``text`` stand in for an encoded payload; metadata is
    derived deterministically (hash-based fake dimensions). Used
    for the video/frame-sampling plumbing where no codec exists."""
    content = F.encode(F.col("text"), "UTF-8")
    return documents.select(
        F.col("doc_id"),
        F.lit("image").alias("media_type"),
        content.alias("content"),
        F.struct(
            F.length(content).cast("long").alias("n_bytes"),
            F.lit("fake/raw").alias("format"),
            (F.pmod(F.xxhash64("doc_id"), F.lit(1024)) + 32)
            .cast("int")
            .alias("width"),
            (F.pmod(F.xxhash64("doc_id", "text"), F.lit(1024)) + 32)
            .cast("int")
            .alias("height"),
        ).alias("meta"),
    )


def bmp_media_from_documents(documents: DataFrame, max_side: int = 24) -> DataFrame:
    """Synthesize REAL BMP payloads from the documents fixture via
    an Arrow-batched encode: dimensions are deterministic per
    doc_id, pixels are the document's UTF-8 bytes tiled over the
    image. The declared ``meta`` dimensions intentionally come from
    the same formula so a header decode can be verified against
    them."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                w = 4 + int(doc_id) % (max_side - 3)
                h = 4 + (int(doc_id) * 7) % (max_side - 3)
                payload = encode_bmp(w, h, str(text).encode("utf-8"))
                out.append(
                    {
                        "doc_id": int(doc_id),
                        "media_type": "image",
                        "content": payload,
                        "meta": {
                            "n_bytes": len(payload),
                            "format": "image/bmp",
                            "width": w,
                            "height": h,
                        },
                    }
                )
            yield pd.DataFrame(out)

    return documents.select("doc_id", "text").mapInPandas(
        batches, schema=MEDIA_SCHEMA
    )


def png_media_from_documents(documents: DataFrame, max_side: int = 24) -> DataFrame:
    """Synthesize REAL PNG payloads (stdlib-zlib truecolor, cycling
    row filters) from the documents fixture — same deterministic
    dimension/pixel formulas as :func:`bmp_media_from_documents`, so
    the two formats are interchangeable downstream and a mixed-format
    media table exercises the per-payload format dispatch in
    :func:`extract_features`."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                w = 4 + int(doc_id) % (max_side - 3)
                h = 4 + (int(doc_id) * 7) % (max_side - 3)
                payload = encode_png(w, h, str(text).encode("utf-8"))
                out.append(
                    {
                        "doc_id": int(doc_id),
                        "media_type": "image",
                        "content": payload,
                        "meta": {
                            "n_bytes": len(payload),
                            "format": "image/png",
                            "width": w,
                            "height": h,
                        },
                    }
                )
            yield pd.DataFrame(out)

    return documents.select("doc_id", "text").mapInPandas(
        batches, schema=MEDIA_SCHEMA
    )


def jpeg_media_from_documents(documents: DataFrame, max_side: int = 24) -> DataFrame:
    """Synthesize REAL baseline JPEGs (pure numpy+stdlib codec, see
    :mod:`pac_data_pipeline_spark.ext.jpeg`) from the documents
    fixture — same deterministic dimension/pixel formulas as the BMP
    and PNG generators. JPEG is lossy: a decoder recovers the exact
    dimensions and near-exact channel statistics, not bit-exact
    pixels. The encode is compute-bound Python, so callers fanning
    over a one-row-group parquet scan should repartition first (the
    registry query does)."""
    from pac_data_pipeline_spark.ext.jpeg import encode_jpeg

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                w = 4 + int(doc_id) % (max_side - 3)
                h = 4 + (int(doc_id) * 7) % (max_side - 3)
                payload = encode_jpeg(w, h, str(text).encode("utf-8"))
                out.append(
                    {
                        "doc_id": int(doc_id),
                        "media_type": "image",
                        "content": payload,
                        "meta": {
                            "n_bytes": len(payload),
                            "format": "image/jpeg",
                            "width": w,
                            "height": h,
                        },
                    }
                )
            yield pd.DataFrame(out)

    return documents.select("doc_id", "text").mapInPandas(
        batches, schema=MEDIA_SCHEMA
    )


def gif_media_from_documents(documents: DataFrame, max_side: int = 24) -> DataFrame:
    """Synthesize REAL GIF89a payloads (stdlib LZW, global color
    table, see :mod:`pac_data_pipeline_spark.ext.gif`) from the
    documents fixture — same deterministic dimension formulas as the
    other generators; seed bytes tile the palette-index raster. GIF
    is lossless over its palette, so a decode recovers the exact
    pixels ``_PALETTE[seed tile]``."""
    from pac_data_pipeline_spark.ext.gif import encode_gif

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                w = 4 + int(doc_id) % (max_side - 3)
                h = 4 + (int(doc_id) * 7) % (max_side - 3)
                payload = encode_gif(w, h, str(text).encode("utf-8"))
                out.append(
                    {
                        "doc_id": int(doc_id),
                        "media_type": "image",
                        "content": payload,
                        "meta": {
                            "n_bytes": len(payload),
                            "format": "image/gif",
                            "width": w,
                            "height": h,
                        },
                    }
                )
            yield pd.DataFrame(out)

    return documents.select("doc_id", "text").mapInPandas(
        batches, schema=MEDIA_SCHEMA
    )


_TIFF_TAGS = {
    256: "width",
    257: "height",
    258: "bits_per_sample",
    259: "compression",
    262: "photometric",
    273: "strip_offsets",
    277: "samples_per_pixel",
    278: "rows_per_strip",
    279: "strip_byte_counts",
}
_TIFF_TYPE_SIZE = {1: 1, 3: 2, 4: 4}  # BYTE, SHORT, LONG


def encode_tiff(width: int, height: int, pixel_seed: bytes) -> bytes:
    """Build a real little-endian uncompressed RGB8 TIFF (single
    strip, chunky layout): II*\\0 header, pixel data, then one IFD
    with the baseline tags any TIFF reader needs. Same tiled-seed
    pixel formula as the other encoders (RGB top-down)."""
    if width <= 0 or height <= 0:
        raise ValueError("width/height must be positive")
    seed = np.frombuffer(pixel_seed or b"\x00", dtype=np.uint8)
    n = height * width * 3
    pixels = np.tile(seed, n // len(seed) + 1)[:n].tobytes()
    data_off = 8
    ifd_off = data_off + len(pixels)

    def entry(tag, typ, count, value):
        return struct.pack("<HHII", tag, typ, count, value)

    entries = [
        entry(256, 4, 1, width),
        entry(257, 4, 1, height),
        # bits-per-sample needs 3 SHORTs (> 4 bytes) → offset field
        entry(258, 3, 3, ifd_off + 2 + 12 * 9 + 4),
        entry(259, 3, 1, 1),   # no compression
        entry(262, 3, 1, 2),   # RGB
        entry(273, 4, 1, data_off),
        entry(277, 3, 1, 3),
        entry(278, 4, 1, height),
        entry(279, 4, 1, len(pixels)),
    ]
    ifd = (
        struct.pack("<H", len(entries))
        + b"".join(entries)
        + struct.pack("<I", 0)  # no next IFD
        + struct.pack("<HHH", 8, 8, 8)  # the out-of-line bits array
    )
    return b"II*\x00" + struct.pack("<I", ifd_off) + pixels + ifd


def decode_tiff(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Parse a little-endian baseline TIFF headerwise: IFD walk,
    uncompressed chunky RGB8 (or gray8) strips. Returns (width,
    height, pixels[h, w, 3] top-down; gray replicates). Big-endian,
    compressed, tiled, planar, and multi-bit-depth files are
    rejected loudly."""
    if len(payload) < 8:
        raise ValueError("not a TIFF payload")
    if payload[:4] == b"MM\x00*":
        raise ValueError("big-endian TIFF unsupported")
    if payload[:4] != b"II*\x00":
        raise ValueError("not a TIFF payload")
    (ifd_off,) = struct.unpack_from("<I", payload, 4)
    if ifd_off + 2 > len(payload):
        raise ValueError("truncated TIFF IFD")
    (n_entries,) = struct.unpack_from("<H", payload, ifd_off)
    tags: dict[str, list[int]] = {}
    for i in range(n_entries):
        off = ifd_off + 2 + 12 * i
        if off + 12 > len(payload):
            raise ValueError("truncated TIFF IFD entry")
        tag, typ, count, raw = struct.unpack_from("<HHII", payload, off)
        name = _TIFF_TAGS.get(tag)
        if name is None or typ not in _TIFF_TYPE_SIZE:
            continue
        size = _TIFF_TYPE_SIZE[typ] * count
        if size <= 4:  # value inline, packed little-endian
            buf = payload[off + 8 : off + 8 + size]
        else:
            if raw + size > len(payload):
                raise ValueError("truncated TIFF out-of-line value")
            buf = payload[raw : raw + size]
        fmt = {1: "B", 3: "H", 4: "I"}[typ]
        tags[name] = list(struct.unpack("<" + fmt * count, buf))
    try:
        width = tags["width"][0]
        height = tags["height"][0]
        offsets = tags["strip_offsets"]
        counts = tags["strip_byte_counts"]
    except KeyError as exc:
        raise ValueError(f"TIFF missing required tag: {exc}") from exc
    if tags.get("compression", [1])[0] != 1:
        raise ValueError("compressed TIFF unsupported")
    spp = tags.get("samples_per_pixel", [1])[0]
    bits = tags.get("bits_per_sample", [8])
    if any(b != 8 for b in bits) or spp not in (1, 3):
        raise ValueError(f"unsupported TIFF layout: {bits}x{spp}")
    if width <= 0 or height <= 0:
        raise ValueError("empty TIFF frame")
    data = bytearray()
    for o, c in zip(offsets, counts):
        if o + c > len(payload):
            raise ValueError("truncated TIFF strip")
        data.extend(payload[o : o + c])
    need = width * height * spp
    if len(data) < need:
        raise ValueError("TIFF pixel data short")
    arr = np.frombuffer(bytes(data[:need]), dtype=np.uint8).reshape(
        height, width, spp
    )
    if spp == 1:
        arr = np.repeat(arr, 3, axis=2)
    return width, height, arr


#: format rotation used by :func:`mixed_media_from_documents`.
_MIXED_FORMATS = ("bmp", "png", "jpeg", "gif", "tiff", "webp")


def webp_media_from_documents(documents: DataFrame, max_side: int = 24) -> DataFrame:
    """Synthesize REAL lossless-WebP payloads (VP8L via
    :mod:`pac_data_pipeline_spark.ext.webp`) from the documents
    fixture — same deterministic dimension/pixel formulas as the
    other single-format generators; subtract-green alternates by
    width parity so both transform paths appear in the corpus."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                w = 4 + d % (max_side - 3)
                h = 4 + (d * 7) % (max_side - 3)
                payload = encode_webp_seeded(
                    w, h, str(text).encode("utf-8")
                )
                out.append(
                    {
                        "doc_id": d,
                        "media_type": "image",
                        "content": payload,
                        "meta": {
                            "n_bytes": len(payload),
                            "format": "image/webp",
                            "width": w,
                            "height": h,
                        },
                    }
                )
            yield pd.DataFrame(out)

    return documents.select("doc_id", "text").mapInPandas(
        batches, schema=MEDIA_SCHEMA
    )


def encode_webp_seeded(width: int, height: int, pixel_seed: bytes) -> bytes:
    """Seed-tiled WebP synthesizer matching the other ``encode_*``
    signatures: build the deterministic RGBA matrix (alpha 255) and
    encode it losslessly via :mod:`pac_data_pipeline_spark.ext.webp`,
    alternating the subtract-green transform by parity so both
    encoder paths appear in synthesized corpora."""
    from pac_data_pipeline_spark.ext.webp import encode_webp

    seed = np.frombuffer(pixel_seed or b"\x00", dtype=np.uint8)
    flat = np.tile(seed, (height * width * 3) // len(seed) + 1)
    rgba = np.full((height, width, 4), 255, dtype=np.uint8)
    rgba[..., :3] = flat[: height * width * 3].reshape(height, width, 3)
    return encode_webp(rgba, subtract_green=bool(width % 2))


def mixed_media_from_documents(documents: DataFrame, max_side: int = 24) -> DataFrame:
    """Synthesize a MIXED-format media table — doc_id % 6 selects
    BMP / PNG / JPEG / GIF / TIFF / WebP-lossless, all six encoders
    real — in ONE ``mapInPandas`` pass. A union of the single-format
    generators would scan the documents table once per format and
    shuffle as many times (per-branch filters defeat exchange reuse); at scale
    the media table is built in one scan + one optional fan-out
    repartition, with the per-row format dispatch inside the Python
    batch. Same dimension/seed formulas as the single-format
    generators, so downstream expectations are interchangeable."""
    from pac_data_pipeline_spark.ext.gif import encode_gif
    from pac_data_pipeline_spark.ext.jpeg import encode_jpeg

    encoders = {
        "bmp": (encode_bmp, "image/bmp"),
        "png": (encode_png, "image/png"),
        "jpeg": (encode_jpeg, "image/jpeg"),
        "gif": (encode_gif, "image/gif"),
        "tiff": (encode_tiff, "image/tiff"),
        "webp": (encode_webp_seeded, "image/webp"),
    }

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                w = 4 + d % (max_side - 3)
                h = 4 + (d * 7) % (max_side - 3)
                enc, mime = encoders[_MIXED_FORMATS[d % len(_MIXED_FORMATS)]]
                payload = enc(w, h, str(text).encode("utf-8"))
                out.append(
                    {
                        "doc_id": d,
                        "media_type": "image",
                        "content": payload,
                        "meta": {
                            "n_bytes": len(payload),
                            "format": mime,
                            "width": w,
                            "height": h,
                        },
                    }
                )
            yield pd.DataFrame(out)

    return documents.select("doc_id", "text").mapInPandas(
        batches, schema=MEDIA_SCHEMA
    )


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def video_media_from_documents(documents: DataFrame) -> DataFrame:
    """Synthesize REAL uncompressed AVI payloads (RIFF 'AVI ', 'DIB '
    stream, idx1 index — :mod:`pac_data_pipeline_spark.ext.avi`):
    2 + doc_id % 4 frames at a per-document frame size (one size per
    stream, as the AVI spec requires), pixel bytes deterministic from
    the document text tiled per frame. Any standard player opens the
    result; compressed codecs remain behind ``_decode_real``."""
    from pac_data_pipeline_spark.ext.avi import encode_avi

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                n_frames = 2 + d % 4
                w = 4 + d % 5
                h = 4 + (d * 3) % 5
                frames = []
                for f in range(n_frames):
                    seed = np.frombuffer(
                        (str(text).encode("utf-8") or b"x") + bytes([f + 1]),
                        dtype=np.uint8,
                    )
                    flat = np.tile(seed, (h * w * 3) // len(seed) + 1)
                    frames.append(flat[: h * w * 3].reshape(h, w, 3))
                payload = encode_avi(frames, fps=10)
                out.append(
                    {
                        "doc_id": d,
                        "media_type": "video",
                        "content": payload,
                        "meta": {
                            "n_bytes": len(payload),
                            "format": "video/x-msvideo",
                            "width": w,
                            "height": h,
                        },
                    }
                )
            yield pd.DataFrame(out)

    return documents.select("doc_id", "text").mapInPandas(
        batches, schema=MEDIA_SCHEMA
    )


def mjpeg_video_media_from_documents(documents: DataFrame) -> DataFrame:
    """Synthesize REAL Motion-JPEG AVI payloads — COMPRESSED video
    with zero native dependencies, each frame an independent baseline
    JFIF bitstream from the package's own numpy codec
    (:func:`pac_data_pipeline_spark.ext.avi.encode_mjpeg_avi`):
    2 + doc_id % 3 frames of (8 + doc_id % 6) × (8 + doc_id·5 % 6)
    RGB pixels, pixel bytes deterministic from the document text
    tiled per frame — the generative-formula pattern that lets a SQL
    oracle predict the decoded geometry without decoding anything.
    ffmpeg and standard players open the result; only inter-frame
    codecs (H.264/VP8) remain behind ``_decode_real``. JPEG encode
    is compute-bound Python — fan out before calling (the
    one-row-group testdata quirk)."""
    from pac_data_pipeline_spark.ext.avi import encode_mjpeg_avi

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                n_frames = 2 + d % 3
                w = 8 + d % 6
                h = 8 + (d * 5) % 6
                frames = []
                for f in range(n_frames):
                    seed = np.frombuffer(
                        (str(text).encode("utf-8") or b"x") + bytes([f + 1]),
                        dtype=np.uint8,
                    )
                    flat = np.tile(seed, (h * w * 3) // len(seed) + 1)
                    frames.append(flat[: h * w * 3].reshape(h, w, 3))
                payload = encode_mjpeg_avi(frames, fps=10)
                out.append(
                    {
                        "doc_id": d,
                        "media_type": "video",
                        "content": payload,
                        "meta": {
                            "n_bytes": len(payload),
                            "format": "video/x-msvideo; codecs=mjpeg",
                            "width": w,
                            "height": h,
                        },
                    }
                )
            yield pd.DataFrame(out)

    return documents.select("doc_id", "text").mapInPandas(
        batches, schema=MEDIA_SCHEMA
    )


def frame_sample(media: DataFrame, every_n: int = 2) -> DataFrame:
    """REAL frame sampling over AVI payloads — raw-DIB and
    Motion-JPEG streams alike: demux the RIFF envelope (strf
    geometry + codec + movi chunk walk, idx1 cross-checked), then
    decode every ``every_n``-th frame (raw span reshape for DIB,
    full baseline-JPEG entropy decode for MJPG) — widths and
    heights are proven by the decoded frame's pixel-array shape, not
    read from metadata. Demux is header arithmetic; only sampled
    frames' bytes are touched, so the cost scales with the sample,
    not the stream. Arrow-batched; one output row per sampled
    frame; non-AVI payloads are skipped."""
    from pac_data_pipeline_spark.ext.avi import decode_avi_frame, parse_avi

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["content"]):
                b = bytes(payload)
                try:
                    stream = parse_avi(b)
                except _CODEC_ERRORS:
                    continue  # not an uncompressed AVI
                for idx in range(0, stream.n_frames, every_n):
                    try:
                        px = decode_avi_frame(b, stream, idx)
                    except _CODEC_ERRORS:
                        continue  # corrupt frame: skip it, keep the doc
                    rows.append(
                        {
                            "doc_id": int(doc_id),
                            "n_frames": stream.n_frames,
                            "frame_idx": idx,
                            "width": px.shape[1],
                            "height": px.shape[0],
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_frames", "frame_idx", "width", "height",
                ],
            )

    return media.mapInPandas(batches, schema=FRAME_SCHEMA)


def _decode_jpeg(payload: bytes):
    """Dispatch shim: baseline JPEG decode via the pure numpy+stdlib
    codec in :mod:`pac_data_pipeline_spark.ext.jpeg` (lazy import —
    most media batches never hit the JPEG branch)."""
    from pac_data_pipeline_spark.ext.jpeg import decode_jpeg

    return decode_jpeg(payload)


def _decode_gif(payload: bytes):
    """Dispatch shim: GIF87a/89a first-frame decode via the stdlib
    LZW codec in :mod:`pac_data_pipeline_spark.ext.gif`."""
    from pac_data_pipeline_spark.ext.gif import decode_gif

    return decode_gif(payload)


def _decode_webp(payload: bytes):
    """Dispatch shim: lossless WebP (VP8L) decode via the pure
    stdlib+numpy codec in :mod:`pac_data_pipeline_spark.ext.webp`
    (lazy import). Lossy VP8 raises inside — that branch stays with
    ``_decode_real``."""
    from pac_data_pipeline_spark.ext.webp import decode_webp

    return decode_webp(payload)


def _decode_avi_first(payload: bytes):
    """Dispatch shim: demux an uncompressed AVI and decode its first
    frame so video payloads get pixel-derived features like the image
    formats do (lazy import, same pattern as JPEG/GIF)."""
    from pac_data_pipeline_spark.ext.avi import decode_avi_frame, parse_avi

    stream = parse_avi(payload)
    return stream.width, stream.height, decode_avi_frame(payload, stream, 0)


def _decode_real(payload: bytes):  # pragma: no cover - env has no codec libs
    """PERMANENT documented boundary, not deferred work (decided
    round 9; rationale in README "Codec boundary"): lossy VP8 and
    inter-frame video stay out because this environment offers no
    independent source of conformant bitstreams (no libvpx/ffmpeg,
    no new deps) — a from-scratch VP8 intra decoder could only be
    tested against a from-scratch encoder, proving
    self-consistency rather than spec conformance, which fails the
    repo's verification bar (every shipped codec is checked
    against independently-constructed bitstreams). This function
    is the plug-in point: an environment with PyAV simply wires
    ``av.open`` here and inherits the full frame-sampling /
    feature / near-dup pipeline unchanged."""
    try:
        import av  # noqa: F401  (PyAV / ffmpeg bindings)
    except ImportError as exc:
        raise NotImplementedError(
            "inter-frame video (H.264/VP8/VP9) and lossy-WebP decode "
            "require ffmpeg bindings, not present in this environment — "
            "BMP, PNG, baseline JPEG, GIF, uncompressed TIFF, lossless "
            "WebP, and BOTH AVI codecs (raw DIB and Motion-JPEG) decode "
            "natively (decode_bmp / decode_png / ext.jpeg / ext.gif / "
            "decode_tiff / ext.webp / ext.avi); remaining codec formats "
            "fall back to deterministic byte-hash features"
        ) from exc
    raise NotImplementedError("wire av.open(BytesIO(payload)) here")


def _fake_feature(payload: bytes, dim: int) -> np.ndarray:
    seed = int.from_bytes(payload[:8].ljust(8, b"\0"), "little") & 0x7FFFFFFF
    rng = np.random.default_rng(seed)
    return rng.random(dim, dtype=np.float32)


def extract_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """Feature extraction over media payloads via ``mapInPandas``.

    BMP, PNG, and baseline JPEG payloads are REALLY decoded (BMP
    header+matrix parse; PNG chunk walk + inflate + unfilter; JPEG
    Huffman + dequantize + IDCT): the feature vector is [width,
    height, mean ch0, mean ch1, mean ch2, std, min, max] computed
    from the pixels (channel order is as stored: BGR for BMP,
    RGB(A)/gray for PNG, RGB for JPEG; AVI payloads use the decoded
    first frame), and ``decoded=true``. Other
    payloads get a deterministic byte-hash feature with
    ``decoded=false`` (native codec formats — see ``_decode_real``).
    Arrow batches in, Arrow batches out; no driver involvement."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            widths, heights, decoded, feats = [], [], [], []
            for payload in pdf["content"]:
                b = bytes(payload)
                px = None
                for dec in (
                    decode_bmp,
                    decode_png,
                    decode_tiff,
                    _decode_jpeg,
                    _decode_gif,
                    _decode_webp,
                    _decode_avi_first,
                ):
                    try:
                        w, h, px = dec(b)
                        break
                    except _CODEC_ERRORS:
                        continue
                if px is not None:
                    pxf = px.astype(np.float64)
                    # per-channel means (gray PNGs have one channel;
                    # missing channels repeat the overall mean so the
                    # feature length is format-independent)
                    chans = [
                        pxf[:, :, c].mean() if c < pxf.shape[2] else pxf.mean()
                        for c in range(3)
                    ]
                    feats.append(
                        np.array(
                            [w, h, *chans, pxf.std(), pxf.min(), pxf.max()][
                                :dim
                            ],
                            dtype=np.float32,
                        )
                    )
                    widths.append(w)
                    heights.append(h)
                    decoded.append(True)
                else:
                    feats.append(_fake_feature(b, dim))
                    widths.append(None)
                    heights.append(None)
                    decoded.append(False)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["meta"].map(lambda m: m["n_bytes"]),
                    "width": pd.array(widths, dtype="Int32"),
                    "height": pd.array(heights, dtype="Int32"),
                    "decoded": decoded,
                    "feature": feats,
                }
            )

    return media.mapInPandas(batches, schema=FEATURE_SCHEMA)


def resize_bmp(arr, width: int, height: int):
    """Nearest-neighbor resample of an (h, w, 3) pixel matrix —
    index arithmetic only, no codec library."""
    h0, w0 = arr.shape[:2]
    rows = (np.arange(height) * h0) // height
    cols = (np.arange(width) * w0) // width
    return arr[rows][:, cols]


def resize_media(media: DataFrame, width: int, height: int) -> DataFrame:
    """Resize via ``mapInPandas``: BMP payloads are REALLY resized —
    decode, nearest-neighbor resample, re-encode — so the output
    payload is a valid BMP at the target dimensions. Codec formats
    (JPEG/PNG) pass through with rewritten metadata only (see
    ``_decode_real`` for the honest stub boundary)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            contents, metas = [], []
            for payload, m in zip(pdf["content"], pdf["meta"]):
                b = bytes(payload)
                try:
                    _, _, px = decode_bmp(b)
                    resized = resize_bmp(px, width, height)
                    # encode expects bottom-up rows; flip back and
                    # rebuild via the tiling encoder's fast path
                    flat = resized[::-1].reshape(-1).tobytes()
                    out = encode_bmp(width, height, flat)
                except _CODEC_ERRORS:
                    out = b  # non-BMP: metadata-only rewrite
                contents.append(out)
                metas.append(
                    {
                        "n_bytes": len(out),
                        "format": m["format"],
                        "width": width,
                        "height": height,
                    }
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "content": contents,
                    "meta": metas,
                }
            )

    return media.mapInPandas(batches, schema=MEDIA_SCHEMA)


def frame_sample_stub(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling plumbing for video payloads: emits one row per
    sampled frame index (deterministic count derived from payload
    size — a real decoder would read container metadata)."""
    n_frames = (F.col("meta.n_bytes") / F.lit(64)).cast("int") + 1
    return (
        media.withColumn(
            "frame_idx",
            F.explode(F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))),
        )
        .select("doc_id", "media_type", "frame_idx", "meta")
    )


# -- audio (WAV/PCM) ---------------------------------------------------------

_WAV_HEADER_SIZE = 44  # RIFF + fmt + data chunk headers


def _encode_wav_pcm(sample_rate: int, samples: "np.ndarray") -> bytes:
    """Build a real 16-bit mono PCM WAV (RIFF) — stdlib struct only,
    playable by any audio stack. The audio sibling of encode_bmp."""
    pcm = np.asarray(samples, dtype="<i2").tobytes()
    return (
        struct.pack("<4sI4s", b"RIFF", 36 + len(pcm), b"WAVE")
        + struct.pack(
            "<4sIHHIIHH",
            b"fmt ",
            16,
            1,  # PCM
            1,  # mono
            sample_rate,
            sample_rate * 2,
            2,
            16,
        )
        + struct.pack("<4sI", b"data", len(pcm))
        + pcm
    )


_MULAW_BIAS = 0x84
_MULAW_CLIP = 32635


def mulaw_compress(samples: "np.ndarray") -> "np.ndarray":
    """ITU-T G.711 μ-law: int16 → uint8 codes, vectorized (the
    standard bias/segment/mantissa formulation)."""
    x = np.asarray(samples, dtype=np.int32)
    sign = np.where(x < 0, 0x80, 0x00).astype(np.int32)
    mag = np.clip(np.abs(x), 0, _MULAW_CLIP) + _MULAW_BIAS
    # exponent: index of the highest set bit above bit 7 (0..7)
    exp = (np.floor(np.log2(mag)).astype(np.int32) - 7).clip(0, 7)
    mant = (mag >> (exp + 3)) & 0x0F
    return (~(sign | (exp << 4) | mant) & 0xFF).astype(np.uint8)


def mulaw_expand(codes: "np.ndarray") -> "np.ndarray":
    """Inverse of :func:`mulaw_compress` (exact per G.711 tables)."""
    u = (~np.asarray(codes, dtype=np.int32)) & 0xFF
    sign = u & 0x80
    exp = (u >> 4) & 0x07
    mant = u & 0x0F
    mag = (((mant << 3) + _MULAW_BIAS) << exp) - _MULAW_BIAS
    return np.where(sign != 0, -mag, mag).astype(np.int16)


def alaw_compress(samples: "np.ndarray") -> "np.ndarray":
    """ITU-T G.711 A-law: int16 → uint8 codes, vectorized port of
    the canonical linear2alaw (13-bit magnitude, segment table
    0x1F..0xFFF, mid-riser negative handling, 0x55 toggle)."""
    x = np.asarray(samples, dtype=np.int32) >> 3  # arithmetic: 13-bit
    mask = np.where(x >= 0, 0xD5, 0x55).astype(np.int32)
    mag = np.where(x >= 0, x, -x - 1)
    # seg 0 covers 0..31; seg k covers up to (0x1F << k)
    seg = np.zeros_like(mag)
    nz = mag > 31
    seg[nz] = (
        np.floor(np.log2(mag[nz])).astype(np.int32) - 4
    ).clip(0, 8)
    aval = np.where(
        seg >= 8,
        0x7F,  # out of range: maximum code
        (seg << 4)
        | np.where(seg < 2, (mag >> 1) & 0xF, (mag >> seg) & 0xF),
    )
    return (aval ^ mask).astype(np.uint8)


def alaw_expand(codes: "np.ndarray") -> "np.ndarray":
    """Inverse of :func:`alaw_compress` — vectorized alaw2linear."""
    a = (np.asarray(codes, dtype=np.int32)) ^ 0x55
    t = (a & 0x0F) << 4
    seg = (a >> 4) & 0x07
    t = np.where(seg == 0, t + 8, (t + 0x108) << np.maximum(seg - 1, 0))
    return np.where((a & 0x80) != 0, t, -t).astype(np.int16)


#: WAV format-tag → (compressor, expander) for the G.711 codecs.
_G711 = {
    6: (alaw_compress, alaw_expand),   # WAVE_FORMAT_ALAW
    7: (mulaw_compress, mulaw_expand), # WAVE_FORMAT_MULAW
}


def encode_wav(
    sample_rate: int, samples: "np.ndarray", encoding: str = "pcm"
) -> bytes:
    """Build a real mono WAV (RIFF): 16-bit PCM (default), or 8-bit
    G.711 ``mulaw``/``alaw`` — all playable by any audio stack."""
    if encoding == "pcm":
        return _encode_wav_pcm(sample_rate, samples)
    fmt = {"alaw": 6, "mulaw": 7}.get(encoding)
    if fmt is None:
        raise ValueError(f"unknown WAV encoding {encoding!r}")
    codes = _G711[fmt][0](np.asarray(samples, dtype=np.int16)).tobytes()
    return (
        struct.pack("<4sI4s", b"RIFF", 36 + len(codes), b"WAVE")
        + struct.pack(
            "<4sIHHIIHH", b"fmt ", 16, fmt, 1, sample_rate, sample_rate, 1, 8
        )
        + struct.pack("<4sI", b"data", len(codes))
        + codes
    )


def decode_wav(payload: bytes) -> tuple[int, "np.ndarray"]:
    """Parse a mono WAV headerwise: 16-bit PCM or 8-bit G.711
    μ-law/A-law (format tags 7/6, expanded to int16). Returns
    (sample_rate, samples int16); raises ValueError on anything
    else."""
    if len(payload) < _WAV_HEADER_SIZE or payload[:4] != b"RIFF":
        raise ValueError("not a WAV payload")
    if payload[8:12] != b"WAVE" or payload[12:16] != b"fmt ":
        raise ValueError("not a WAVE/fmt stream")
    fmt, channels, sr = struct.unpack_from("<HHI", payload, 20)
    (bits,) = struct.unpack_from("<H", payload, 34)
    (n_bytes,) = struct.unpack_from("<I", payload, 40)
    data = payload[_WAV_HEADER_SIZE : _WAV_HEADER_SIZE + n_bytes]
    if fmt == 1 and channels == 1 and bits == 16:
        return sr, np.frombuffer(data, dtype="<i2")
    if fmt in _G711 and channels == 1 and bits == 8:
        return sr, _G711[fmt][1](np.frombuffer(data, dtype=np.uint8))
    raise ValueError(f"unsupported WAV: fmt={fmt} ch={channels} bits={bits}")


def audio_media_from_documents(
    documents: DataFrame,
    sample_rate: int = 8000,
    encoding: str = "pcm",
    waveform: str = "sine",
) -> DataFrame:
    """Synthesize a REAL audio table from the documents fixture:
    per doc, a short burst whose frequency/duration derive from
    the doc id — deterministic bytes, decodable by any WAV reader.
    ``encoding``: ``pcm``/``mulaw``/``alaw`` for one format, or
    ``mixed`` to rotate per doc_id so the decoder's format dispatch
    (PCM + both G.711 laws) is exercised in one job.
    ``waveform``: ``sine`` (float synthesis) or ``square`` — the
    INTEGER-EXACT member of the family (constant ±12000 amplitude,
    half-period ``sample_rate // (2·freq)`` samples): every decoded
    sample magnitude is a G.711-round-trip constant and every sign
    flip lands on an integer boundary, so duration/RMS/zero-cross
    are closed-form rationals an external engine can recompute —
    that is what lets x_audio_features carry a hash-exact DuckDB
    oracle (the x_png_decode_dims generative pattern). Arrow-batched
    mapInPandas, scan-shaped."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("audio", T.BinaryType()),
            T.StructField("sample_rate", T.IntegerType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = []
        for pdf in it:
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                freq = 200 + (d % 200)
                n = sample_rate // 10 + (d % 5) * sample_rate // 20
                if waveform == "square":
                    hp = sample_rate // (2 * freq)
                    wave = (
                        12000 * (1 - 2 * ((np.arange(n) // hp) % 2))
                    ).astype("<i2")
                else:
                    t = np.arange(n, dtype="float64") / sample_rate
                    wave = (np.sin(2 * np.pi * freq * t) * 12000).astype(
                        "<i2"
                    )
                enc = (
                    encoding
                    if encoding != "mixed"
                    else ("pcm", "mulaw", "alaw")[d % 3]
                )
                rows.append((d, encode_wav(sample_rate, wave, enc), sample_rate))
        yield pd.DataFrame(rows, columns=["doc_id", "audio", "sample_rate"])

    return documents.select("doc_id").mapInPandas(batches, out_schema)


def audio_features(media: DataFrame) -> DataFrame:
    """Decode WAV payloads and compute real signal features:
    duration, RMS amplitude, zero-crossing rate — numpy over Arrow
    batches, the audio analogue of extract_features' BMP path."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("n_samples", T.LongType()),
            T.StructField("duration_s", T.DoubleType()),
            T.StructField("rms", T.DoubleType()),
            T.StructField("zero_cross_rate", T.DoubleType()),
            T.StructField("decoded", T.BooleanType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = []
        for pdf in it:
            for doc_id, payload in zip(pdf["doc_id"], pdf["audio"]):
                try:
                    sr, x = decode_wav(bytes(payload))
                    xf = x.astype("float64") / 32768.0
                    zc = (
                        float(np.mean(np.diff(np.signbit(xf)) != 0))
                        if len(xf) > 1
                        else 0.0
                    )
                    rows.append(
                        (
                            int(doc_id),
                            sr,
                            len(x),
                            round(len(x) / sr, 6),
                            round(float(np.sqrt(np.mean(xf**2))), 6),
                            round(zc, 6),
                            True,
                        )
                    )
                except _CODEC_ERRORS:
                    rows.append(
                        (int(doc_id), None, None, None, None, None, False)
                    )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id",
                "sample_rate",
                "n_samples",
                "duration_s",
                "rms",
                "zero_cross_rate",
                "decoded",
            ],
        )

    return media.mapInPandas(batches, out_schema)


def _decode_any(b: bytes):
    """Shared decode dispatch: (width, height, pixels) or None."""
    for dec in (
        decode_bmp,
        decode_png,
        decode_tiff,
        _decode_jpeg,
        _decode_gif,
        _decode_webp,
        _decode_avi_first,
    ):
        try:
            return dec(b)
        except _CODEC_ERRORS:
            continue
    return None


def _dhash_bits(px: np.ndarray) -> int:
    """64-bit difference hash: grayscale → 9×8 average-pool →
    per-row left-vs-right gradient bits. The standard perceptual
    hash — resize-invariant by construction (pooling), brightness-
    shift-invariant (only gradients matter).

    INTEGER-EXACT contract (the k-means fixed-point discipline):
    block means are never materialized as floats — the gradient
    comparison ``mean(L) > mean(R)`` is evaluated as the
    cross-multiplied integer test ``sum(L)·n(R) > sum(R)·n(L)``
    (channel-summed byte totals; the /channels and /pixels divisors
    cancel). Float means round per-pixel and per-block, so two
    equal-mean blocks (common in tiled synthetic pixels) could
    compare unequal under one engine's summation order — with
    integers the bits are reproducible by ANY engine that can sum
    bytes, which is what lets the x_image_dhash registry query carry
    a hash-exact DuckDB oracle. Block edges are exact integer floors
    (``r·H//8`` / ``c·W//9`` — equal to np.linspace().astype(int)
    for every size, property-checked in tests) with the ≥1-pixel
    clamp for images narrower than the grid."""
    p = px.astype(np.int64)
    chsum = p.sum(axis=2) if p.ndim == 3 else p  # per-pixel byte total
    height, width = chsum.shape
    h_edges = [r * height // 8 for r in range(9)]
    w_edges = [c * width // 9 for c in range(10)]
    tot = np.empty((8, 9), dtype=np.int64)
    cnt = np.empty((8, 9), dtype=np.int64)
    for r in range(8):
        y0, y1 = h_edges[r], max(h_edges[r + 1], h_edges[r] + 1)
        for c in range(9):
            x0, x1 = w_edges[c], max(w_edges[c + 1], w_edges[c] + 1)
            block = chsum[y0:y1, x0:x1]
            tot[r, c] = int(block.sum())
            cnt[r, c] = block.size
    bits = 0
    for r in range(8):
        for c in range(8):
            if tot[r, c] * cnt[r, c + 1] > tot[r, c + 1] * cnt[r, c]:
                bits |= 1 << (r * 8 + c)
    # wrap to signed 64-bit so it stores as Spark LongType
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def image_dhash(media: DataFrame) -> DataFrame:
    """Perceptual hash per image payload — the multimodal twin of
    SimHash: near-identical images (re-encodes, small edits, resizes)
    land within a few Hamming bits. Arrow-batched mapInPandas over
    the shared codec dispatch; undecodable payloads report
    decoded=false with a NULL hash. Fans out first (compute-bound;
    one-row-group inputs would otherwise serialize)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["content"]):
                dec = _decode_any(bytes(payload))
                if dec is None:
                    out.append((int(doc_id), None, False))
                else:
                    out.append((int(doc_id), _dhash_bits(dec[2]), True))
            yield pd.DataFrame(out, columns=["doc_id", "dhash", "decoded"])

    return ensure_parallelism(
        media.select("doc_id", "content")
    ).mapInPandas(
        batches, "doc_id long, dhash long, decoded boolean"
    )


def dhash_near_dup(
    hashes: DataFrame, max_hamming: int = 6, bands: int = 8
) -> DataFrame:
    """Near-duplicate image pairs by banded dHash: split the 64-bit
    hash into ``bands`` byte-bands; candidates share at least one
    exact band (lossless for Hamming ≤ bands−1 by pigeonhole — same
    guarantee as the SimHash text tier); verify with bit_count(XOR).
    The only shuffle is the (band, value) equi-join — never an
    all-pairs product."""
    width = 64 // bands
    mask = (1 << width) - 1
    h = hashes.filter(F.col("dhash").isNotNull())
    banded = h.select(
        "doc_id",
        "dhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    (
                        F.shiftrightunsigned(F.col("dhash"), b * width)
                        .bitwiseAND(F.lit(mask))
                    ).alias("val"),
                )
                for b in range(bands)
            ])
        ).alias("bv"),
    ).select("doc_id", "dhash", "bv.band", "bv.val")
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(
                F.col("a.dhash").bitwiseXOR(F.col("b.dhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


def video_frame_dhash(media: DataFrame, every_n: int = 2) -> DataFrame:
    """Per-sampled-frame perceptual hash over AVI payloads — the
    video arm of the dHash family: demux the RIFF envelope, decode
    every ``every_n``-th frame (raw-DIB reshape or full MJPEG
    entropy decode), and emit the integer-exact 64-bit dHash of the
    decoded pixels (:func:`_dhash_bits` — channel-summed byte
    totals, so the DIB BGR convention cannot perturb the bits).
    One output row per sampled frame; non-AVI payloads skip.
    Arrow-batched; fans out first (decode is compute-bound)."""
    from pac_data_pipeline_spark.ext.avi import decode_avi_frame, parse_avi

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["content"]):
                b = bytes(payload)
                try:
                    stream = parse_avi(b)
                except _CODEC_ERRORS:
                    continue
                for idx in range(0, stream.n_frames, every_n):
                    try:
                        px = decode_avi_frame(b, stream, idx)
                    except _CODEC_ERRORS:
                        continue
                    rows.append((int(doc_id), idx, _dhash_bits(px)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "dhash"]
            )

    return ensure_parallelism(
        media.select("doc_id", "content")
    ).mapInPandas(batches, "doc_id long, frame_idx int, dhash long")


def video_near_dup(
    frame_hashes: DataFrame, max_hamming: int = 4, bands: int = 8
) -> DataFrame:
    """Near-duplicate VIDEO pairs from sampled-frame dHashes: two
    videos match when any of their sampled frames land within
    ``max_hamming`` bits — the re-encode/re-container/trim-robust
    dedup signal for video corpora (a re-muxed copy shares every
    frame; a trimmed copy still shares most).

    Scale shape: identical to the image tier — the 64-bit hash
    splits into ``bands`` byte-bands and candidates share an exact
    band (lossless for Hamming ≤ bands−1 by pigeonhole), so the only
    shuffle is the (band, value) equi-join; frames never pair
    all-against-all, and video pairs aggregate from frame pairs with
    one tiny group-by. Returns (id_a, id_b, n_frame_matches,
    min_hamming)."""
    width = 64 // bands
    mask = (1 << width) - 1
    h = frame_hashes.filter(F.col("dhash").isNotNull())
    banded = h.select(
        "doc_id",
        "frame_idx",
        "dhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        (
                            F.shiftrightunsigned(
                                F.col("dhash"), b * width
                            ).bitwiseAND(F.lit(mask))
                        ).alias("val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "frame_idx", "dhash", "bv.band", "bv.val")
    a = banded.alias("a")
    b = banded.alias("b")
    frame_pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("a.frame_idx").alias("f_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("b.frame_idx").alias("f_b"),
            F.bit_count(
                F.col("a.dhash").bitwiseXOR(F.col("b.dhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return frame_pairs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("n_frame_matches"),
        F.min("hamming").alias("min_hamming"),
    )
