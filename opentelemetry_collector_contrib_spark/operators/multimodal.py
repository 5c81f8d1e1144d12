"""Multimodal columns: image/audio/video as opaque `binary` + typed
metadata, with decode / feature-extract / resize / frame-sample as
Arrow-batched pandas transforms over mapInPandas.

The Spark-side plumbing (schema, partitioning, UDF signature, batch shape)
is real and tested. Codec status:
  - WAV audio and PNG image decode are REAL — the stdlib covers both
    containers (wave; struct+zlib+crc32), so synthesize_wav/png +
    decode_wav/png_features run genuine encode→bytes→decode end-to-end,
    pixels and samples included (oracle-gated).
  - Generic image featurize/resize and video frame decode stay STUBBED
    (no PIL/libav in-sandbox): `decode_and_featurize` raises
    NotImplementedError unless `deterministic_fake=True`, which substitutes
    a seeded, content-derived fake so downstream plumbing and oracles stay
    exactly reproducible.

Schema convention (mirrors how the collector treats payloads it does not
introspect — bytes + attributes):
    content   : binary              (the opaque payload)
    media_type: string              ('image/png', 'audio/wav', ...)
    meta      : struct<width:int, height:int, duration_ms:bigint>

Scale notes: binary payloads dominate row size — keep
spark.sql.files.maxPartitionBytes low enough that a partition of blobs fits
executor memory, and push metadata-only predicates BEFORE any decode stage
so pruning happens at the parquet scan, never after Arrow transfer.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

def attach_binary_payload(df: DataFrame, text_col: str = "text", media_type: str = "image/png") -> DataFrame:
    """Build the multimodal envelope from a text column (fixture path: the
    payload bytes are the utf-8 text — deterministic, content-addressed).
    In production this column comes straight from the lakehouse scan."""
    t = F.col(text_col)
    return df.select(
        "*",
        F.encode(t, "utf-8").alias("content"),
        F.lit(media_type).alias("media_type"),
        F.struct(
            (F.length(t) % 1920).cast("int").alias("width"),
            (F.length(t) % 1080).cast("int").alias("height"),
            (F.length(t).cast("bigint") * 40).alias("duration_ms"),
        ).alias("meta"),
    )


# ---------------------------------------------------------------------------
# decode / feature extraction (Arrow-batched; codec stubbed)
# ---------------------------------------------------------------------------

_FEAT_DIM = 8


def _fake_features(payload: bytes, dim: int = _FEAT_DIM) -> list[float]:
    """Deterministic content-derived fake embedding: md5(payload) bytes →
    dim floats in [0,1). Stands in for a real vision/audio encoder."""
    digest = hashlib.md5(payload).digest()
    return [digest[i % 16] / 255.0 for i in range(dim)]


def decode_and_featurize(
    df: DataFrame,
    content_col: str = "content",
    deterministic_fake: bool = True,
    batch_feature_dim: int = _FEAT_DIM,
    decoder: Callable[[bytes], list[float]] | None = None,
) -> DataFrame:
    """mapInPandas decode + feature-extract stage.

    Decoder seam (round 5, r4 verdict #7): pass ``decoder`` — any
    picklable ``bytes -> list[float]`` callable (a PIL/libav/torchvision
    wrapper in a library-bearing environment) — and it runs per payload
    inside the Arrow batch loop; length must be ``batch_feature_dim``
    (enforced, so a mis-shaped encoder fails loudly on the first batch
    instead of corrupting the column). With no decoder,
    ``deterministic_fake=True`` uses content-hash features and
    ``deterministic_fake=False`` keeps the honest in-sandbox raise.
    Either way the plumbing is identical: Iterator[pd.DataFrame] →
    Iterator[pd.DataFrame], one Arrow batch at a time, features as
    array<double>."""
    in_fields = df.schema.fields
    out_schema = T.StructType(
        list(in_fields)
        + [
            T.StructField("features", T.ArrayType(T.DoubleType()), True),
            T.StructField("payload_bytes", T.LongType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decoder is not None:
                feats = []
                for p in pdf[content_col]:
                    if p is None:
                        feats.append(None)
                        continue
                    f = [float(v) for v in decoder(bytes(p))]
                    if len(f) != batch_feature_dim:
                        raise ValueError(
                            f"decoder returned {len(f)} features, expected "
                            f"batch_feature_dim={batch_feature_dim}"
                        )
                    feats.append(f)
                pdf["features"] = feats
            elif not deterministic_fake:
                raise NotImplementedError(
                    "real image/audio decode requires PIL/libav, not present in this "
                    "environment — inject one via the `decoder` callable"
                )
            else:
                pdf["features"] = [
                    _fake_features(bytes(p), batch_feature_dim) if p is not None else None
                    for p in pdf[content_col]
                ]
            pdf["payload_bytes"] = [
                len(bytes(p)) if p is not None else 0 for p in pdf[content_col]
            ]
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


def sample_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame sampling for video rows: one output row per sampled timestamp
    (pure relational: sequence + explode on metadata — the decode of the
    actual frame bytes belongs to the stubbed codec stage)."""
    return df.withColumn(
        "frame_ms",
        F.explode(
            F.sequence(
                F.lit(0).cast("bigint"),
                F.greatest(F.col("meta.duration_ms") - 1, F.lit(0).cast("bigint")),
                F.lit(every_ms).cast("bigint"),
            )
        ),
    )


# ---------------------------------------------------------------------------
# REAL audio decode: WAV needs only the stdlib (wave + struct), so the audio
# modality runs the genuine decode path end-to-end — synthesize valid WAV
# bytes, ship them as a binary column, and extract features by actually
# parsing the RIFF container. The image/video codecs stay stubbed (no
# PIL/libav in-sandbox), but this proves the decode plumbing on real bytes.
# ---------------------------------------------------------------------------

_WAV_RATE = 8000


def _wav_bytes(n_samples: int, amplitude: int) -> bytes:
    import io
    import struct as _struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(_WAV_RATE)
        # constant-amplitude square wave: RMS == amplitude exactly, so the
        # oracle can reconstruct the feature from the synthesis parameters
        frames = b"".join(
            _struct.pack("<h", amplitude if i % 2 == 0 else -amplitude) for i in range(n_samples)
        )
        w.writeframes(frames)
    return buf.getvalue()


def synthesize_wav(df: DataFrame, id_col: str = "doc_id", out_col: str = "wav") -> DataFrame:
    """Deterministic per-row WAV payloads: n_samples = 100 + (id%50)*10,
    amplitude = 1000 + (id%7)*100. Arrow-batched."""

    @F.pandas_udf(T.BinaryType())
    def gen(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: _wav_bytes(100 + (int(i) % 50) * 10, 1000 + (int(i) % 7) * 100))

    return df.withColumn(out_col, gen(F.col(id_col)))


def decode_wav_features(df: DataFrame, payload_col: str = "wav") -> DataFrame:
    """REAL decode: parse the RIFF/WAV container per row (stdlib wave),
    emit (sample_rate, n_channels, n_samples, duration_ms, rms). Malformed
    payloads yield nulls (on_error=send). Arrow-batched pandas UDF —
    exactly the shape an image/EXIF or video/probe decode takes once its
    codec library exists."""
    out_type = T.StructType(
        [
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("n_channels", T.IntegerType()),
            T.StructField("n_samples", T.LongType()),
            T.StructField("duration_ms", T.LongType()),
            T.StructField("rms", T.DoubleType()),
        ]
    )

    @F.pandas_udf(out_type)
    def decode(payloads: pd.Series) -> pd.DataFrame:
        import io
        import math
        import struct as _struct
        import wave

        fmt_by_width = {1: "B", 2: "h", 4: "i"}
        rows = []
        for p in payloads:
            try:
                with wave.open(io.BytesIO(bytes(p)), "rb") as w:
                    rate, nch, n = w.getframerate(), w.getnchannels(), w.getnframes()
                    width = w.getsampwidth()
                    data = w.readframes(n)
                rms = None
                if width in fmt_by_width:
                    samples = _struct.unpack(f"<{n * nch}{fmt_by_width[width]}", data)
                    if width == 1:  # 8-bit WAV is unsigned, centered at 128
                        samples = tuple(sv - 128 for sv in samples)
                    rms = round(math.sqrt(sum(sv * sv for sv in samples) / max(len(samples), 1)), 6)
                # 24-bit (width 3) and exotic widths: header fields still
                # emitted, rms null — a valid payload is never reported as
                # malformed just because sample decode is unsupported
                rows.append((rate, nch, n, n * 1000 // rate, rms))
            except Exception:  # noqa: BLE001 — malformed payload -> nulls
                rows.append((None, None, None, None, None))
        return pd.DataFrame(rows, columns=["sample_rate", "n_channels", "n_samples", "duration_ms", "rms"])

    return df.withColumn("wav_meta", decode(F.col(payload_col)))


# ---------------------------------------------------------------------------
# REAL image decode: PNG needs only the stdlib too (struct + zlib + crc32).
# Synthesize genuine grayscale PNGs (signature, IHDR, zlib IDAT with
# per-scanline filter bytes, CRCs, IEND) and decode them back — header
# parse AND pixel decompression — inside an Arrow UDF.
# ---------------------------------------------------------------------------


def _png_bytes(width: int, height: int, gray: int) -> bytes:
    import struct as _struct
    import zlib

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (
            _struct.pack(">I", len(payload))
            + tag
            + payload
            + _struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    ihdr = _struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)  # 8-bit grayscale
    raw = b"".join(b"\x00" + bytes([gray]) * width for _ in range(height))  # filter 0 rows
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )


def synthesize_png(df: DataFrame, id_col: str = "doc_id", out_col: str = "png") -> DataFrame:
    """Deterministic per-row PNGs: width = 1 + id%16, height = 1 + id%8,
    constant gray value = id%256."""

    @F.pandas_udf(T.BinaryType())
    def gen(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: _png_bytes(1 + int(i) % 16, 1 + int(i) % 8, int(i) % 256))

    return df.withColumn(out_col, gen(F.col(id_col)))


def decode_png_features(df: DataFrame, payload_col: str = "png") -> DataFrame:
    """REAL decode: walk the PNG chunk stream, parse IHDR
    (width/height/bit depth), decompress every IDAT, strip scanline filter
    bytes (filter 0), and compute the mean pixel — full container + pixel
    path on genuine bytes. Malformed payloads yield nulls."""
    out_type = T.StructType(
        [
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("bit_depth", T.IntegerType()),
            T.StructField("mean_pixel", T.DoubleType()),
        ]
    )

    @F.pandas_udf(out_type)
    def decode(payloads: pd.Series) -> pd.DataFrame:
        import struct as _struct
        import zlib

        rows = []
        for p in payloads:
            try:
                data = bytes(p)
                assert data[:8] == b"\x89PNG\r\n\x1a\n"
                pos, width, height, depth, idat = 8, None, None, None, b""
                color_type = interlace = None
                while pos < len(data):
                    (ln,) = _struct.unpack(">I", data[pos : pos + 4])
                    tag = data[pos + 4 : pos + 8]
                    payload = data[pos + 8 : pos + 8 + ln]
                    if tag == b"IHDR":
                        width, height, depth, color_type, _c, _f, interlace = _struct.unpack(
                            ">IIBBBBB", payload[:13]
                        )
                    elif tag == b"IDAT":
                        idat += payload
                    pos += 12 + ln
                if width is None:
                    raise ValueError("no IHDR")
                # the pixel path assumes 8-bit grayscale, no interlace,
                # filter-0 scanlines — anything else (RGB, palette, Adam7,
                # filters 1-4) keeps its HEADER fields but must NOT produce
                # a garbage mean. Explicit checks, not asserts: -O strips
                # asserts and would silently re-enable the garbage path.
                if not (color_type == 0 and depth == 8 and interlace == 0):
                    rows.append((width, height, depth, None))
                    continue
                expected = height * (width + 1)
                # bounded inflate: a decompression-bomb IDAT must read as
                # malformed, not OOM the worker
                d = zlib.decompressobj()
                raw = d.decompress(idat, expected + 1)
                if len(raw) != expected or d.unconsumed_tail:
                    raise ValueError("IDAT size mismatch")
                if any(raw[r * (width + 1)] != 0 for r in range(height)):
                    rows.append((width, height, depth, None))  # filters 1-4
                    continue
                pixels = [b for r in range(height) for b in raw[r * (width + 1) + 1 : (r + 1) * (width + 1)]]
                mean = round(sum(pixels) / max(len(pixels), 1), 6)
                rows.append((width, height, depth, mean))
            except Exception:  # noqa: BLE001 — malformed payload -> nulls
                rows.append((None, None, None, None))
        return pd.DataFrame(rows, columns=["width", "height", "bit_depth", "mean_pixel"])

    return df.withColumn("png_meta", decode(F.col(payload_col)))


# ---------------------------------------------------------------------------
# perceptual image hashing (dHash) over the REAL PNG path: decode -> 8x8
# sample grid -> 56-bit row-gradient hash -> hamming near-dup pairs via the
# shared pigeonhole blocking (dedup.hamming_blocked_pairs). The standard
# image near-dup primitive of a multimodal curation pipeline.
# ---------------------------------------------------------------------------


def _png_pattern_bytes(doc_id: int) -> bytes:
    """A 16x8 grayscale PNG whose row y ASCENDS left-to-right when bit y of
    doc_id is set and DESCENDS otherwise (pixel = 16x or 240-16x, no
    clipping, no wraparound) — so the dHash below is closed-form in doc_id
    and the DuckDB oracle can reproduce it without decoding pixels."""
    import struct as _struct
    import zlib

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (
            _struct.pack(">I", len(payload))
            + tag
            + payload
            + _struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    rows = []
    for y in range(8):
        up = (int(doc_id) >> y) & 1
        px = bytes(16 * x if up else 240 - 16 * x for x in range(16))
        rows.append(b"\x00" + px)
    ihdr = _struct.pack(">IIBBBBB", 16, 8, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(rows)))
        + chunk(b"IEND", b"")
    )


def synthesize_png_pattern(df: DataFrame, id_col: str = "doc_id", out_col: str = "png") -> DataFrame:
    @F.pandas_udf(T.BinaryType())
    def gen(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: _png_pattern_bytes(int(i)))

    return df.withColumn(out_col, gen(F.col(id_col)))


def png_dhash(df: DataFrame, payload_col: str = "png", out_col: str = "dhash") -> DataFrame:
    """56-bit dHash from a REAL PNG decode: parse the container (same
    guards as decode_png_features — explicit checks, bounded inflate),
    nearest-neighbor sample an 8x8 grid, then bit (7y + x) = 1 iff
    grid[y][x+1] > grid[y][x] (7 comparisons per row x 8 rows = 56 bits,
    kept under the sign bit so the packed value is a plain positive
    BIGINT on every engine). Malformed or non-8-bit-gray payloads -> NULL
    (on_error=send). Arrow-batched; at 100 TB this is the same
    scan-parallel mapInPandas shape as every other decode here."""

    @F.pandas_udf(T.LongType())
    def dh(payloads: pd.Series) -> pd.Series:
        import struct as _struct
        import zlib

        out = []
        for p in payloads:
            try:
                data = bytes(p)
                if data[:8] != b"\x89PNG\r\n\x1a\n":
                    raise ValueError("bad signature")
                pos, width, height, depth, idat = 8, None, None, None, b""
                color_type = interlace = None
                while pos < len(data):
                    (ln,) = _struct.unpack(">I", data[pos : pos + 4])
                    tag = data[pos + 4 : pos + 8]
                    payload = data[pos + 8 : pos + 8 + ln]
                    if tag == b"IHDR":
                        width, height, depth, color_type, _, _, interlace = _struct.unpack(
                            ">IIBBBBB", payload
                        )
                    elif tag == b"IDAT":
                        idat += payload
                    pos += 12 + ln
                if not (color_type == 0 and depth == 8 and interlace == 0):
                    out.append(None)
                    continue
                expected = height * (width + 1)
                d = zlib.decompressobj()
                raw = d.decompress(idat, expected + 1)
                if len(raw) != expected or d.unconsumed_tail:
                    raise ValueError("IDAT size mismatch")
                if any(raw[r * (width + 1)] != 0 for r in range(height)):
                    out.append(None)
                    continue
                # nearest-neighbor 8x8 sample of the (width x height) image
                grid = [
                    [
                        raw[(y * height // 8) * (width + 1) + 1 + (x * width // 8)]
                        for x in range(8)
                    ]
                    for y in range(8)
                ]
                h = 0
                for y in range(8):
                    for x in range(7):
                        if grid[y][x + 1] > grid[y][x]:
                            h |= 1 << (7 * y + x)
                out.append(h)
            except Exception:  # noqa: BLE001 — malformed payload -> NULL
                out.append(None)
        return pd.Series(out, dtype="object")

    return df.withColumn(out_col, dh(F.col(payload_col)))


# ---------------------------------------------------------------------------
# REAL JPEG header decode: dimensions/colorspace come from a bounded marker
# walk (SOI -> segments -> SOFn), no pixel codec needed — the metadata
# extraction a multimodal curation pipeline runs on every crawled image
# before deciding whether to decode at all. Synthesis emits genuine JFIF
# byte streams (SOI, APP0, variable APP1, DQT, SOF0/SOF2, SOS, EOI).
# ---------------------------------------------------------------------------

_SOF_MARKERS = frozenset(
    [0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF]
)
_SOF_PROGRESSIVE = frozenset([0xC2, 0xC6, 0xCA, 0xCE])


def _jpeg_bytes(doc_id: int) -> bytes:
    import struct as _struct

    width = 1 + doc_id % 200
    height = 1 + doc_id % 120
    ncomp = 3 if doc_id % 2 else 1
    sof = 0xC2 if doc_id % 4 == 0 else 0xC0

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + _struct.pack(">H", len(payload) + 2) + payload

    app0 = seg(0xE0, b"JFIF\x00\x01\x01\x00" + _struct.pack(">HH", 1, 1) + b"\x00\x00")
    # variable-length metadata segment so the walk sees shifting offsets
    app1 = seg(0xE1, b"Exif\x00\x00" + bytes((doc_id + j) % 256 for j in range(doc_id % 7)))
    dqt = seg(0xDB, b"\x00" + bytes(64))
    comps = b"".join(bytes([c + 1, 0x11, 0x00]) for c in range(ncomp))
    sof_seg = seg(sof, _struct.pack(">BHHB", 8, height, width, ncomp) + comps)
    sos = seg(0xDA, bytes([ncomp]) + b"".join(bytes([c + 1, 0x00]) for c in range(ncomp)) + b"\x00\x3f\x00")
    body = b"\xff\xd8" + app0 + app1 + dqt + sof_seg + sos + b"\x12\x34" + b"\xff\xd9"
    if doc_id % 13 == 0:
        # corrupt variant: stream truncated before any SOF marker
        return (b"\xff\xd8" + app0 + app1)[: 4 + len(app0)]
    return body


def synthesize_jpeg(df: DataFrame, id_col: str = "doc_id", out_col: str = "jpeg") -> DataFrame:
    """Deterministic per-row JFIF streams: width = 1 + id%200, height =
    1 + id%120, components = 3 when id is odd else 1, progressive (SOF2)
    when id%4==0; every id%13==0 payload is truncated before SOF."""

    @F.pandas_udf(T.BinaryType())
    def gen(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: _jpeg_bytes(int(i)))

    return df.withColumn(out_col, gen(F.col(id_col)))


def decode_jpeg_meta(df: DataFrame, payload_col: str = "jpeg") -> DataFrame:
    """REAL bounded marker walk: verify SOI, skip stand-alone markers
    (RSTn/TEM), length-hop every segment, parse the first SOFn frame
    header (precision, height, width, component count, progressive
    class), stop at SOS/EOI. At most 64 segments are visited and every
    length is bounds-checked, so hostile declared sizes fail the row
    fast instead of scanning the payload — malformed input yields
    jp_valid=false with NULL fields, never an exception."""
    out_type = T.StructType(
        [
            T.StructField("valid", T.BooleanType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("components", T.IntegerType()),
            T.StructField("precision", T.IntegerType()),
            T.StructField("progressive", T.BooleanType()),
        ]
    )

    @F.pandas_udf(out_type)
    def decode(payloads: pd.Series) -> pd.DataFrame:
        rows = []
        bad = (False, None, None, None, None, None)
        for p in payloads:
            try:
                data = bytes(p)
                if len(data) < 4 or data[0] != 0xFF or data[1] != 0xD8:
                    rows.append(bad)
                    continue
                pos, found = 2, None
                for _ in range(64):
                    if pos + 2 > len(data) or data[pos] != 0xFF:
                        break
                    m = data[pos + 1]
                    if m == 0xD8 or m == 0x01 or 0xD0 <= m <= 0xD7:
                        pos += 2
                        continue
                    if m == 0xD9 or m == 0xDA:
                        break
                    if pos + 4 > len(data):
                        break
                    ln = (data[pos + 2] << 8) | data[pos + 3]
                    if ln < 2 or pos + 2 + ln > len(data):
                        break
                    if m in _SOF_MARKERS:
                        if ln < 10:
                            break
                        prec = data[pos + 4]
                        h = (data[pos + 5] << 8) | data[pos + 6]
                        w = (data[pos + 7] << 8) | data[pos + 8]
                        nc = data[pos + 9]
                        found = (True, w, h, nc, prec, m in _SOF_PROGRESSIVE)
                        break
                    pos += 2 + ln
                rows.append(found if found else bad)
            except Exception:  # noqa: BLE001 — malformed payload -> invalid row
                rows.append(bad)
        return pd.DataFrame(
            rows,
            columns=["valid", "width", "height", "components", "precision", "progressive"],
        )

    return df.withColumn("jpeg_meta", decode(F.col(payload_col)))


# ---------------------------------------------------------------------------
# content-type sniffing (magic bytes)
# ---------------------------------------------------------------------------

# (mime, hex prefix at offset 1). RIFF containers disambiguate on bytes 9-12.
_MAGIC_PREFIXES = [
    ("image/png", "89504E470D0A1A0A"),
    ("image/jpeg", "FFD8FF"),
    ("image/gif", "474946383761"),
    ("image/gif", "474946383961"),
    ("application/pdf", "25504446"),
    ("application/gzip", "1F8B"),
    ("application/zip", "504B0304"),
    ("application/zip", "504B0506"),  # empty archive
    ("application/zip", "504B0708"),  # spanned archive
    ("application/x-elf", "7F454C46"),
    ("audio/mpeg", "494433"),  # ID3-tagged mp3
    ("audio/mpeg", "FFFB"),
    ("audio/mpeg", "FFF3"),
]


def sniff_content_type(
    df: DataFrame, payload_col: str = "payload", out_col: str = "content_type"
) -> DataFrame:
    """Magic-byte content-type detection over an opaque binary column —
    the decode-free first gate of a multimodal crawl pipeline: route rows
    to the right decoder (or quarantine) BEFORE paying any decode cost,
    and catch the classic poisoning vector of an extension/Content-Type
    header lying about the payload (an "image" that is actually an ELF
    executable never reaches an image codec).

    Detects PNG, JPEG, GIF (87a/89a), PDF, GZIP, ZIP (incl. empty and
    spanned archive variants), ELF, MP3 (ID3 or bare frame-sync), and the
    RIFF containers WAV/WebP/AVI (disambiguated on the format tag at
    bytes 9-12, as RFC 2361 framing requires). Unknown or NULL payloads
    label 'application/octet-stream' / NULL respectively — unknown is a
    VALUE, not a dropped row.

    Scale: a pure whole-stage-codegen projection — one hex() of the first
    12 bytes and a literal when-chain. Zero UDFs, zero shuffles; runs at
    scan speed over 100 TB of blobs (and the 12-byte substring never
    materializes the payload column's full bytes in the row cache)."""
    head = F.hex(F.expr(f"substring({payload_col}, 1, 12)"))
    riff_tag = F.substring(head, 17, 8)  # bytes 9-12 in hex chars
    chain = F.when(F.col(payload_col).isNull(), F.lit(None).cast("string"))
    for mime, prefix in _MAGIC_PREFIXES:
        chain = chain.when(head.startswith(prefix), F.lit(mime))
    chain = (
        chain.when(
            head.startswith("52494646") & (riff_tag == "57415645"), F.lit("audio/wav")
        )
        .when(head.startswith("52494646") & (riff_tag == "57454250"), F.lit("image/webp"))
        .when(head.startswith("52494646") & (riff_tag == "41564920"), F.lit("video/avi"))
        .otherwise(F.lit("application/octet-stream"))
    )
    return df.withColumn(out_col, chain)


def segment_wav_windows(
    df: DataFrame,
    window_ms: int = 25,
    id_col: str = "doc_id",
    payload_col: str = "wav",
    silence_rms: float = 1.0,
) -> DataFrame:
    """Fixed-window audio segmentation: decode each WAV payload and emit
    one row per `window_ms` window with its exact sample count and RMS,
    plus an `is_silence` flag (rms < silence_rms) — the framing pass an
    audio-training pipeline runs before feature extraction / VAD, and the
    audio twin of `sample_frames` for video. The final window may be
    partial; malformed payloads emit zero windows (on_error=send drops,
    matching the decode family's null convention at the row level).

    mapInPandas (Arrow-batched, variable fan-out per row): at 100 TB the
    decode+segment cost is per-byte work spread across whatever splits the
    payload table has; the output key (doc, win_idx) is ready for
    per-window feature UDFs without another shuffle."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("win_idx", T.IntegerType()),
            T.StructField("start_ms", T.LongType()),
            T.StructField("win_samples", T.LongType()),
            T.StructField("win_rms", T.DoubleType()),
            T.StructField("is_silence", T.BooleanType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import math
        import struct as _struct
        import wave

        fmt_by_width = {1: "B", 2: "h", 4: "i"}
        for pdf in batches:
            rows = []
            for rid, p in zip(pdf[id_col], pdf[payload_col]):
                try:
                    with wave.open(io.BytesIO(bytes(p)), "rb") as w:
                        rate, nch, n = w.getframerate(), w.getnchannels(), w.getnframes()
                        width = w.getsampwidth()
                        data = w.readframes(n)
                    if width not in fmt_by_width or rate <= 0:
                        continue
                    samples = _struct.unpack(f"<{n * nch}{fmt_by_width[width]}", data)
                    if width == 1:
                        samples = tuple(sv - 128 for sv in samples)
                except Exception:  # noqa: BLE001 — malformed -> no windows
                    continue
                win = max(1, rate * nch * window_ms // 1000)
                for i in range(0, max(len(samples), 1), win):
                    chunk = samples[i : i + win]
                    if not chunk:
                        break
                    rms = round(math.sqrt(sum(sv * sv for sv in chunk) / len(chunk)), 6)
                    rows.append(
                        (
                            int(rid),
                            i // win,
                            (i // win) * window_ms,
                            len(chunk),
                            rms,
                            rms < silence_rms,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "win_idx", "start_ms", "win_samples", "win_rms", "is_silence",
                ],
            )

    return df.select(id_col, payload_col).mapInPandas(run, out_schema)

