"""Multimodal-column operators: JSON props, embedding arrays, opaque binary.

A training-data pipeline treats non-text modalities as first-class
columns: JSON sidecars parse with from_json (schema-on-read, JVM-side),
embeddings are array<float> handled by expression math, and image/audio/
video payloads ride as opaque binary with typed metadata, decoded by
Arrow-batched pandas functions (the only place Python belongs).

Real formats at the decode seam, all pure stdlib + numpy:

* images: PNG (8-bit gray/RGB/RGBA, all five filters), BMP (24-bit,
  8-bit palette, RLE8), JPEG (baseline and progressive,
  operators/jpeg.py), GIF (LZW, interlace, operators/gif.py) and TIFF
  (strips, PackBits, LZW + predictor, operators/tiff.py);
* video: YUV4MPEG2, MJPEG-in-AVI (operators/avi.py) and H.264-in-MP4
  (operators/h264.py + mp4.py) with I and P slices — progressive
  (stss keyframe seek, or every sample in decode order) and
  fragmented (sidx keyframe seek);
* audio: RIFF/WAVE (PCM 8/16/24-bit, IMA ADPCM, G.711 A-law/mu-law)
  and FLAC (operators/flac.py).

Images share ONE exact integer luma (_luma_u8), so the same pixels
hash identically across container formats — the property cross-format
image near-dup needs.  The 'IMG:', 'VID:' and 'AUD:' headers are
synthetic fixture formats.  Anything else (MP3/AAC audio, B-slice or
CABAC video, other containers) raises NotImplementedError at the seam
— there is no PIL/ffmpeg in this container — and corrupt bytes raise
ValueError.

Every seam operator is a row function over ``_codec_map_in_pandas``,
which owns the one Arrow batch loop.  To add a format, write its
``make(i)`` fixture (``_synthesize``) or its row function, plus one
dispatch entry: ``_image_codec`` for an image format,
``_VIDEO_CONTAINERS`` (one frame iterator) for a video container,
``_audio_samples`` for audio.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import sizing

PROPS_SCHEMA = "k INT"


def parse_props(df: DataFrame, props_col: str = "props") -> DataFrame:
    """events.props JSON → typed struct column (from_json, schema-on-read)."""
    return df.withColumn("props_parsed", F.from_json(F.col(props_col), PROPS_SCHEMA))


def quantized_embedding_features(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Integer features from a float vector: deterministic across engines.

    Each dimension quantizes as floor(double(x) * 1000) — one correctly-
    rounded multiply then floor, so Spark and the SQL oracle agree
    bit-for-bit; the integer sums that follow are exact.  This is the
    shape of any embedding → discrete-feature step (PQ codes, sign
    bits, histogram buckets).
    """
    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * 1000).cast("long"),
    )
    return df.select(
        F.col(id_col),
        F.size(F.col(vec_col)).cast("int").alias("dim"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, v: a + v).alias("q_sum"),
        F.size(F.filter(q, lambda v: v > 0)).cast("int").alias("n_pos"),
        F.array_max(q).alias("q_max"),
        F.array_min(q).alias("q_min"),
    )


# --- opaque binary modality -------------------------------------------------


def widen_for_python(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition a below-parallelism input ahead of a Python seam to
    the seam width of operators/sizing.py.  With ``cols`` the
    repartition hashes on them (callers that feed keyed aggregation
    downstream); keyless round-robin otherwise.  A no-op when the input
    is already wide enough or too small to matter."""
    target = sizing.width(df, sizing.SEAM_QUANTUM, floor=1)
    if target > 1:
        try:
            n_in = df.rdd.getNumPartitions()
        except Exception:
            n_in = target
        if n_in < target:
            return (
                df.repartition(target, *[F.col(c) for c in cols])
                if cols
                else df.repartition(target)
            )
    return df


def _row_batches(row, cols, names):
    """The one Arrow batch loop of the codec seam: per pandas batch,
    ``row(*values)`` of each input row's ``cols`` gives an iterable of
    output tuples (none, one or many), all gathered into one frame
    with columns ``names`` — typed by the seam's schema even when
    empty."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = zip(*(pdf[c] for c in cols))
            out = [t for vals in rows for t in row(*vals)]
            yield pd.DataFrame.from_records(out, columns=names)

    return run


def _codec_map_in_pandas(
    df: DataFrame, row, schema: T.StructType, cols=("doc_id", "blob")
) -> DataFrame:
    """The codec seam: ``row`` (see _row_batches) maps each input row
    to output tuples in ``schema`` order, run over Arrow batches by
    mapInPandas with the Arrow byte-batch cap enforced.

    The ``sizing.ARROW_BATCH_CAP`` bound must hold under ANY session:
    session.get_spark pins it, but a vanilla session falls back to
    row-counted batching -- so every codec-seam operator sets it here,
    on the session the DataFrame actually runs in.  Only tightens: a
    caller who pinned a smaller cap keeps it.
    """
    spark = df.sparkSession
    key = "spark.sql.execution.arrow.maxBytesPerBatch"
    cur = spark.conf.get(key, None)
    if cur is None or int(cur) > sizing.ARROW_BATCH_CAP:
        spark.conf.set(key, str(sizing.ARROW_BATCH_CAP))
    # Python workers parallelize per PARTITION, and blob fixtures arrive
    # as one single-row-group parquet file, so the seam widens a
    # below-parallelism input (a 100 TB input arrives many-partitioned
    # and is not shuffled); keyless round-robin is deterministic under
    # Spark's sort-before-repartition and per-row codec output is
    # order-free.
    return widen_for_python(df).mapInPandas(
        _row_batches(row, cols, schema.fieldNames()), schema
    )


BLOB_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.IntegerType()),
    ]
)


def synthesize_blobs(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Deterministic fake media blobs: 'IMG:<w>x<h>:' header + payload bytes.

    Stands in for real image bytes so the decode plumbing has stable
    input; width/height derive from the id so every row round-trips
    predictably.
    """
    w = (F.col(id_col) % 64 + 16).cast("int")
    h = (F.col(id_col) % 48 + 16).cast("int")
    header = F.concat(
        F.lit("IMG:"), w.cast("string"), F.lit("x"), h.cast("string"), F.lit(":")
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.encode(F.concat(header, F.col(text_col)), "UTF-8").alias("blob"),
    )


def _header_ints(tag: bytes, raw: bytes, *fields: bytes) -> list[int]:
    """The integer fields of a synthetic fixture header.  A missing
    tag or a malformed or non-positive field raises ValueError here,
    where a 0 would otherwise reach a division downstream."""
    try:
        vals = [int(f) for f in fields]
    except ValueError:
        vals = [0]
    if not raw.startswith(tag) or min(vals) <= 0:
        raise ValueError(
            f"malformed synthetic {tag.decode()} header: {raw[:40]!r}"
        )
    return vals


def img_header(raw: bytes) -> tuple[int, int, bytes]:
    """'IMG:<w>x<h>:<payload>' -> (w, h, payload): the one parser of
    the synthetic image header."""
    head, _, payload = raw[4:].partition(b":")
    w_s, _, h_s = head.partition(b"x")
    w, h = _header_ints(b"IMG:", raw, w_s, h_s)
    return w, h, payload


BLOB_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("blob", T.BinaryType()),
    ]
)


def _synthesize(df: DataFrame, id_col: str, make) -> DataFrame:
    """Fixture blobs: one (id, make(id)) row per input id."""
    return _codec_map_in_pandas(
        df.select(id_col), lambda i: [(int(i), make(int(i)))], BLOB_SCHEMA,
        (id_col,),
    )


def _solid(i: int):
    """The solid-gray (id % 256) image at synthesize_blobs' geometry."""
    import numpy as np

    return np.full((i % 48 + 16, i % 64 + 16), i % 256, dtype=np.uint8)


def _bmp_gray(px) -> bytes:
    """24-bit bottom-up BMP of an (h, w) gray image (BGR = gray
    triples, rows padded to 4 bytes)."""
    import struct

    import numpy as np

    h, w = px.shape
    pad = (w * 3 + 3) & ~3
    body = np.zeros((h, pad), dtype=np.uint8)
    body[:, : w * 3] = np.repeat(px[::-1][:, :, None], 3, axis=2).reshape(
        h, w * 3
    )
    hdr = struct.pack("<2sIHHI", b"BM", 54 + body.size, 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, body.size, 2835, 2835, 0, 0
    )
    return hdr + dib + body.tobytes()


def synthesize_bmp_blobs(df: DataFrame, id_col: str) -> DataFrame:
    """REAL 24-bit BMP bytes as a deterministic fixture: a solid-color
    (id % 256) image with the SAME width/height formulas as
    synthesize_blobs, so driver-checked queries can route a slice of
    their rows through a real binary codec while the oracle still
    derives every value from id arithmetic (n_bytes = 54 + padded-row
    bytes × height — the BMP size formula, SQL-expressible)."""
    return _synthesize(df, id_col, lambda i: _bmp_gray(_solid(i)))


def synthesize_jpeg_blobs(
    df: DataFrame, id_col: str, progressive: bool = False
) -> DataFrame:
    """REAL baseline-JPEG bytes as a deterministic fixture (the BMP
    discipline extended to a COMPRESSED codec): a solid-gray (id % 256)
    image with the SAME width/height formulas as synthesize_blobs,
    entropy-coded at quality=100 by operators/jpeg.py::jpeg_encode.
    At q=100 every quant divisor is 1 and a solid block's FDCT is
    DC-only with an integer DC, so the decode is EXACT — a SQL oracle
    recomputes width/height/min/max/sum from id arithmetic while the
    bytes exercise real Huffman entropy decode + dequant + IDCT.

    ``progressive=True`` (round 11) emits the SAME pixels as a
    multi-scan SOF2 stream via jpeg_encode_progressive — the
    spectral-selection / successive-approximation decode path inside
    the same exact-stats contract (progressive is a lossless
    reordering of the quantized coefficients)."""

    def make(i: int) -> bytes:
        from .jpeg import jpeg_encode, jpeg_encode_progressive

        enc = jpeg_encode_progressive if progressive else jpeg_encode
        return enc(_solid(i), quality=100)

    return _synthesize(df, id_col, make)


def synthesize_gif_blobs(df: DataFrame, id_col: str) -> DataFrame:
    """REAL GIF bytes as a deterministic fixture: a solid-gray
    (id % 256) image with the SAME width/height formulas as
    synthesize_blobs, LZW-compressed by operators/gif.py::gif_encode
    over the gray ramp palette; every 3rd blob INTERLACED so the
    4-pass row reorder rides inside the driver hash too.  A solid
    image decodes exactly (palette lookup, no loss), so a SQL oracle
    recomputes all downstream stats from id arithmetic while the bytes
    exercise genuine variable-width LZW decode."""

    def make(i: int) -> bytes:
        from .gif import gif_encode

        return gif_encode(_solid(i), interlace=(i % 3 == 0))

    return _synthesize(df, id_col, make)


CROSS_FORMAT_ID_OFFSET = 10_000_000


def synthesize_tiff_blobs(df: DataFrame, id_col: str) -> DataFrame:
    """REAL TIFF bytes as a deterministic fixture (the BMP/GIF
    discipline): a solid-gray (id % 256) image with the SAME
    width/height formulas as synthesize_blobs, written by
    operators/tiff.py::tiff_encode with the compression rotating by id
    (id%3: none / PackBits / LZW), every 4th image multi-strip
    (rows_per_strip=7 — strip-boundary decode inside the driver
    hash), LZW images with id%2 adding the horizontal-differencing
    predictor, and every 5th big-endian.  All paths lossless, so a
    SQL oracle recomputes the stats from id arithmetic while the
    bytes exercise the genuine IFD walk + strip decompression."""

    def make(i: int) -> bytes:
        from .tiff import tiff_encode

        comp = ("none", "packbits", "lzw")[i % 3]
        return tiff_encode(
            _solid(i),
            compression=comp,
            rows_per_strip=7 if i % 4 == 0 else None,
            predictor=(comp == "lzw" and i % 2 == 0),
            big_endian=(i % 5 == 0),
        )

    return _synthesize(df, id_col, make)


def synthesize_cross_format_pairs(df: DataFrame, id_col: str) -> DataFrame:
    """Each input id becomes TWO real blobs of the SAME gradient pixels
    in DIFFERENT containers: a 24-bit BMP under the id itself and a
    GIF (real LZW) under id + CROSS_FORMAT_ID_OFFSET.  Both formats are
    LOSSLESS and both decode through the shared exact luma, so the two
    blobs' aHash signatures are PROVABLY identical — the planted
    ground truth for cross-format image near-dup at any scale (no
    quantization wobble: JPEG's lossy variant of this property lives
    in the unit tests).  Gradient content (x + 3y + id mod 251) keeps
    hashes distinct ACROSS ids, so the pair table stays near-linear."""

    def pair(doc_id) -> list:
        import numpy as np

        from .gif import gif_encode

        i = int(doc_id)
        if not 0 <= i < CROSS_FORMAT_ID_OFFSET:
            # the GIF twin lives at id + offset; an id at or past the
            # offset would silently collide with another doc's twin
            # and corrupt the planted ground truth — fail loudly
            # instead (the check is per-row inside the Arrow batch: no
            # extra pass)
            raise ValueError(
                f"doc_id {i} outside [0, {CROSS_FORMAT_ID_OFFSET}): "
                "raise CROSS_FORMAT_ID_OFFSET for this corpus"
            )
        x = np.arange(i % 24 + 16)[None, :]
        y = np.arange(i % 16 + 16)[:, None]
        px = ((x + 3 * y + i) % 251).astype(np.uint8)
        twin = i + CROSS_FORMAT_ID_OFFSET
        return [(i, _bmp_gray(px)), (twin, gif_encode(px))]

    return _codec_map_in_pandas(
        df.select(id_col), pair, BLOB_SCHEMA, (id_col,)
    )


# --- real PNG codec (pure stdlib: chunk walk + zlib + unfilter) -------------
#
# The decode seam was stubbed through round 8 ("no image codecs ship in
# this container").  PNG needs none: the container's stdlib zlib IS the
# codec, so the seam now carries one REAL format end-to-end — IHDR
# metadata, full pixel decode (all five filter types, 8-bit gray /
# RGB / RGBA, non-interlaced), real-pixel aHash — while PIL/ffmpeg
# still plug into the same NotImplementedError seam for everything else.

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# samples per pixel for the color types we decode (0=gray, 2=RGB,
# 4=gray+alpha, 6=RGBA)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}

# lying-header / decompression-bomb guard for every pixel decoder
# (PNG/JPEG/GIF): a corrupt or malicious header claiming 65535x65535
# would otherwise allocate tens of GB — or, for the compressed
# formats, inflate a few KB into it — and OOM the executor processing
# that one file of a 100 TB corpus.  67M px (~8192x8192) covers any
# plausible corpus image; genuinely larger media should route to the
# PIL/ffmpeg seam with its own streaming limits.
MAX_PIXELS = 1 << 26


def _png_chunks(raw: bytes):
    pos = len(PNG_MAGIC)
    while pos + 8 <= len(raw):
        length = int.from_bytes(raw[pos : pos + 4], "big")
        ctype = raw[pos + 4 : pos + 8]
        yield ctype, raw[pos + 8 : pos + 8 + length]
        pos += 12 + length  # len + type + data + crc
        if ctype == b"IEND":
            return


def _png_ihdr_full(raw: bytes) -> tuple[int, int, int, int, int, int, int]:
    """All seven IHDR fields: (width, height, bit_depth, color_type,
    compression_method, filter_method, interlace_method)."""
    # default sentinel, not bare next(): a magic-only/truncated blob
    # yields no chunks at all, and a StopIteration here would escape
    # the loud-ValueError codec contract (robustness-fuzz finding)
    ctype, data = next(_png_chunks(raw), (b"", b""))
    if ctype != b"IHDR" or len(data) < 13:
        raise ValueError("malformed PNG: first chunk is not IHDR")
    return (
        int.from_bytes(data[0:4], "big"),
        int.from_bytes(data[4:8], "big"),
        data[8],
        data[9],
        data[10],
        data[11],
        data[12],
    )


def png_ihdr(raw: bytes) -> tuple[int, int, int, int]:
    """(width, height, bit_depth, color_type) from the IHDR chunk —
    the metadata decode, no decompression needed."""
    return _png_ihdr_full(raw)[:4]


# pixel count above which Average/Paeth-filtered PNGs are routed to PIL
# when it is importable: those two filters serialize in x (see
# png_gray_pixels), so real photo volumes should take the C decoder
_PIL_GATE_PIXELS = 1 << 20


def _luma_u8(px):
    """Exact integer ITU-R 601 luma over an (h, w, ch) uint8 array —
    shared by the stdlib and PIL decode paths so both are bit-identical:
    (299R + 587G + 114B) // 1000."""
    import numpy as np

    if px.ndim == 2:
        return px
    if px.shape[2] < 3:
        return px[:, :, 0]  # gray(+alpha): luma is channel 0
    rgb = px[:, :, :3].astype(np.int64)
    return (
        (299 * rgb[:, :, 0] + 587 * rgb[:, :, 1] + 114 * rgb[:, :, 2]) // 1000
    ).astype(np.uint8)


def png_gray_pixels(raw: bytes):
    """Decode a PNG to an (h, w) uint8 grayscale ndarray: concatenated
    IDAT → zlib → per-scanline unfilter (None/Sub/Up/Average/Paeth,
    PNG spec §9) → integer luma.  8-bit depth, color types 0/2/4/6,
    non-interlaced, compression/filter method 0 (the only methods the
    spec defines) — the common case; anything else (incl. Adam7
    interlace, which would otherwise unfilter as garbage) raises to the
    seam.

    Throughput: None/Up/Sub scanlines unfilter fully vectorized (Sub is
    an exact per-lane prefix sum mod 256 — the mod distributes over the
    cumsum).  Average/Paeth are inherently serial in x (each pixel's
    predictor reads the just-reconstructed left neighbor through a
    floor-divide / a three-way min, so no prefix-scan form exists —
    libpng's SIMD paths serialize x the same way and only parallelize
    across channels); they run as Python-int loops over the scanline,
    and images past _PIL_GATE_PIXELS that use them route to PIL's C
    unfilter when PIL is importable (same exact luma applied after).
    """
    import zlib

    import numpy as np

    w, h, depth, ctype, comp, filt, interlace = _png_ihdr_full(raw)
    if depth != 8 or ctype not in _PNG_CHANNELS:
        raise NotImplementedError(
            f"PNG bit_depth={depth} color_type={ctype}: plug PIL in here"
        )
    if interlace != 0 or comp != 0 or filt != 0:
        # Adam7 passes would need de-interlacing, not sequential
        # unfiltering — decoding them as sequential silently produces
        # garbage pixels (and wrong near-dup pairs), so refuse instead
        raise NotImplementedError(
            f"PNG interlace={interlace} compression={comp} "
            f"filter_method={filt}: plug PIL in here"
        )
    ch = _PNG_CHANNELS[ctype]
    if w * h > MAX_PIXELS:
        raise ValueError(
            f"PNG {w}x{h} exceeds MAX_PIXELS ({MAX_PIXELS}): lying "
            "header or oversized media — route to the PIL seam"
        )
    stride = w * ch
    # bounded inflate: cap the zlib output at exactly the filtered-byte
    # size the header implies, so a decompression bomb stops at the cap
    # instead of materializing; short output is a truncated stream
    expected = h * (stride + 1)
    data = zlib.decompressobj().decompress(
        b"".join(d for t, d in _png_chunks(raw) if t == b"IDAT"), expected
    )
    if len(data) < expected:
        raise ValueError(
            f"PNG IDAT truncated: {len(data)} < {expected} filtered bytes"
        )
    if w * h > _PIL_GATE_PIXELS and any(
        data[r * (stride + 1)] in (3, 4) for r in range(h)
    ):
        try:
            from PIL import Image  # noqa: F401  (import-gated fast path)
            import io

            arr = np.asarray(Image.open(io.BytesIO(raw)))
            return _luma_u8(arr.reshape(h, w, -1) if arr.ndim == 3 else arr)
        except ImportError:
            pass  # no PIL in this container: serial path below
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    for r in range(h):
        f = data[r * (stride + 1)]
        line = np.frombuffer(
            data, dtype=np.uint8, count=stride, offset=r * (stride + 1) + 1
        ).astype(np.int64)
        if f == 0:  # None
            cur = line
        elif f == 2:  # Up
            cur = (line + prev) & 0xFF
        elif f == 1:  # Sub: exact per-lane prefix sum mod 256
            cur = (
                line.reshape(w, ch).cumsum(axis=0, dtype=np.int64) & 0xFF
            ).reshape(stride)
        elif f in (3, 4):  # Average / Paeth: serial in x (see docstring)
            ln = line.tolist()
            up = prev.tolist()
            cl: list[int] = [0] * stride
            if f == 3:
                for x in range(stride):
                    a = cl[x - ch] if x >= ch else 0
                    cl[x] = (ln[x] + ((a + up[x]) >> 1)) & 0xFF
            else:
                for x in range(stride):
                    a = cl[x - ch] if x >= ch else 0
                    b = up[x]
                    c = up[x - ch] if x >= ch else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cl[x] = (ln[x] + pred) & 0xFF
            cur = np.array(cl, dtype=np.int64)
        else:
            raise NotImplementedError(f"PNG filter type {f}")
        out[r] = cur
        prev = cur
    return _luma_u8(out.reshape(h, w, ch))


# --- real BMP codec (pure stdlib: header unpack + padded pixel rows) --------

BMP_MAGIC = b"BM"


def bmp_dims(raw: bytes) -> tuple[int, int]:
    """(width, height) from the DIB header — metadata only, like
    png_ihdr.  Height is |h| (negative means top-down row order)."""
    if raw[:2] != BMP_MAGIC or len(raw) < 30:
        raise ValueError("not a BMP blob")
    w = int.from_bytes(raw[18:22], "little", signed=True)
    h = int.from_bytes(raw[22:26], "little", signed=True)
    return w, abs(h)


def _bmp_rle8_rows(data: bytes, w: int, hh: int):
    """Decode BI_RLE8 pixel data to an (hh, w) uint8 index array in
    BOTTOM-UP row order (the spec's RLE coordinate system).

    Encoded runs are (count, index) pairs; escape 00 starts a control:
    00 = end of line, 01 = end of bitmap, 02 = delta move (dx, dy —
    skipped pixels keep index 0 per common decoder behavior), n >= 3 =
    absolute mode (n literal indices, word-aligned).  Corrupt streams
    — truncation, runs past the row end, moves off the bitmap — raise
    loud ValueError (the codec-guard contract)."""
    import numpy as np

    out = np.zeros((hh, w), dtype=np.uint8)
    x = y = pos = 0
    n = len(data)
    while True:
        if pos + 2 > n:
            raise ValueError("truncated BMP RLE8 stream")
        b0, b1 = data[pos], data[pos + 1]
        pos += 2
        if b0 > 0:  # encoded run
            if y >= hh or x + b0 > w:
                raise ValueError("BMP RLE8 run past row end")
            out[y, x : x + b0] = b1
            x += b0
            continue
        if b1 == 0:  # end of line
            x, y = 0, y + 1
            if y > hh:
                raise ValueError("BMP RLE8 ran past the last row")
            continue
        if b1 == 1:  # end of bitmap
            return out
        if b1 == 2:  # delta
            if pos + 2 > n:
                raise ValueError("truncated BMP RLE8 delta")
            dx, dy = data[pos], data[pos + 1]
            pos += 2
            x, y = x + dx, y + dy
            if x > w or y > hh:
                raise ValueError("BMP RLE8 delta off the bitmap")
            continue
        # absolute mode: b1 literal indices, padded to a word boundary
        count = b1
        end = pos + count
        if y >= hh or x + count > w or end > n:
            raise ValueError("BMP RLE8 absolute run past row end")
        out[y, x : x + count] = np.frombuffer(
            data[pos:end], dtype=np.uint8
        )
        x += count
        pos = end + (count & 1)  # word alignment


def bmp_gray_pixels(raw: bytes):
    """Decode a BMP to an (h, w) uint8 grayscale ndarray.

    BITMAPINFOHEADER (or longer); BI_RGB (uncompressed) 24-bit BGR or
    8-bit palette, bottom-up or top-down, plus BI_RLE8 (round 11 —
    the run-length compression of legacy screenshots and icons) for
    bottom-up 8-bit palette images; anything else raises to the seam.
    Rows are 4-byte padded per the spec; luma is the same exact
    integer ITU-R 601 formula the PNG path uses (_luma_u8), so PNG
    and BMP encodings of the same pixels produce the SAME aHash."""
    import numpy as np

    if raw[:2] != BMP_MAGIC:
        raise ValueError("not a BMP blob")
    if len(raw) < 34:
        raise ValueError("truncated BMP header")
    data_off = int.from_bytes(raw[10:14], "little")
    hdr_sz = int.from_bytes(raw[14:18], "little")
    w = int.from_bytes(raw[18:22], "little", signed=True)
    h = int.from_bytes(raw[22:26], "little", signed=True)
    bpp = int.from_bytes(raw[28:30], "little")
    comp = int.from_bytes(raw[30:34], "little")
    rle8 = comp == 1
    if (
        hdr_sz < 40
        or comp not in (0, 1)
        or bpp not in (8, 24)
        or (rle8 and (bpp != 8 or h < 0))  # spec: RLE8 is bottom-up 8-bit
        or w <= 0
        or h == 0
    ):
        raise NotImplementedError(
            f"BMP header={hdr_sz} compression={comp} bpp={bpp}: plug PIL "
            "in here"
        )
    top_down, hh = h < 0, abs(h)
    if w * hh > MAX_PIXELS:
        raise ValueError(
            f"BMP {w}x{hh} exceeds MAX_PIXELS ({MAX_PIXELS}): lying "
            "header or oversized media"
        )
    if rle8:
        body = _bmp_rle8_rows(raw[data_off:], w, hh)[::-1]
    else:
        row_bytes = (w * bpp // 8 + 3) & ~3
        if data_off + row_bytes * hh > len(raw):
            raise ValueError("truncated BMP pixel data")
        body = np.frombuffer(
            raw, dtype=np.uint8, count=row_bytes * hh, offset=data_off
        ).reshape(hh, row_bytes)
        if not top_down:
            body = body[::-1]
    if bpp == 24:
        bgr = body[:, : w * 3].reshape(hh, w, 3)
        rgb = bgr[:, :, ::-1]
    else:
        # palette: 4-byte BGRX entries between the DIB header and the
        # pixel data; indices map through it to RGB
        pal_bytes = (data_off - 14 - hdr_sz) & ~3
        if pal_bytes < 4:
            raise ValueError("BMP palette image without a palette")
        pal = np.frombuffer(
            raw, dtype=np.uint8, count=pal_bytes, offset=14 + hdr_sz
        ).reshape(-1, 4)
        idx = body[:, :w]
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("BMP pixel index outside palette")
        rgb = pal[idx][:, :, [2, 1, 0]]
    return _luma_u8(np.ascontiguousarray(rgb))


def _image_codec(raw: bytes):
    """(dims, gray_pixels) of raw's real image format, or None — the
    one image-format dispatch table: ``dims(raw)`` -> (width, height)
    from the header alone, ``gray_pixels(raw)`` -> (h, w) uint8 exact
    luma."""
    from .gif import GIF_MAGIC, gif_dims, gif_gray_pixels
    from .jpeg import JPEG_MAGIC, jpeg_decode, jpeg_dims
    from .tiff import TIFF_MAGIC_BE, TIFF_MAGIC_LE, tiff_dims, tiff_gray_pixels

    for magics, dims, pixels in (
        ((PNG_MAGIC,), lambda r: png_ihdr(r)[:2], png_gray_pixels),
        ((BMP_MAGIC,), bmp_dims, bmp_gray_pixels),
        ((JPEG_MAGIC,), jpeg_dims, lambda r: _luma_u8(jpeg_decode(r))),
        ((GIF_MAGIC,), gif_dims, gif_gray_pixels),
        ((TIFF_MAGIC_LE, TIFF_MAGIC_BE), tiff_dims, tiff_gray_pixels),
    ):
        if raw.startswith(magics):
            return dims, pixels
    return None


def image_dims(raw: bytes) -> tuple[int, int]:
    """(width, height) of a PNG/BMP/JPEG/GIF/TIFF blob from its header
    (no pixel decode), or of a synthetic 'IMG:' blob; anything else
    raises to the codec seam.  A header that declares a non-positive
    side raises ValueError (resize_images divides by the longer side)."""
    if raw.startswith(b"IMG:"):
        return img_header(raw)[:2]
    codec = _image_codec(raw)
    if codec is None:
        raise NotImplementedError(
            "only PNG/BMP/JPEG/GIF/TIFF and the synthetic IMG header are "
            "decodable in this container; plug a real codec in here"
        )
    w, h = codec[0](raw)
    if w <= 0 or h <= 0:
        raise ValueError(f"image header declares {w}x{h}")
    return w, h


def gray_pixels_any(raw: bytes):
    """Decode ANY of the seam's real image formats (PNG/BMP/JPEG/GIF/
    TIFF) to (h, w) gray uint8 via the shared exact luma — the single
    pixel dispatch used by decode_gray_stats, thumbnail_blobs and
    ahash_blobs, so chain-level fuzzing exercises exactly the
    production dispatch.  Unknown formats raise to the codec seam;
    corrupt streams raise ValueError inside their decoder (the
    codec-guard contract)."""
    codec = _image_codec(raw)
    if codec is None:
        raise NotImplementedError("real image codec plugs in here")
    return codec[1](raw)


def decode_blobs(blobs: DataFrame) -> DataFrame:
    """Arrow-batched image metadata over binary blobs: (width, height)
    from the header of every real image format (image_dims) and of the
    synthetic 'IMG:<w>x<h>:' fixture header.  Anything else raises
    NotImplementedError — the clearly-marked seam where PIL/
    torchvision/ffmpeg plug in; the batch shape (bytes in, struct
    metadata out, no driver round-trip) is what any real decoder needs.
    """

    def row(doc_id, blob):
        raw = bytes(blob)
        w, h = image_dims(raw)
        return [(doc_id, "image", w, h, len(raw))]

    return _codec_map_in_pandas(blobs, row, BLOB_META_SCHEMA)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("new_width", T.IntegerType()),
        T.StructField("new_height", T.IntegerType()),
    ]
)


def resize_images(blobs: DataFrame, max_side: int = 32) -> DataFrame:
    """Arrow-batched 'resize': scale so the longer side equals max_side.

    The pixel work is the stubbed seam (PIL's Image.resize goes exactly
    here); the geometry is real — integer aspect-preserving math
    (new = old * max_side // longer_side, floored, min 1) so the output
    is deterministic and oracle-checkable.  Same mapInPandas batch shape
    a real resizer needs: bytes in, bytes+metadata out, no driver hop.
    """

    def row(doc_id, blob):
        w, h = image_dims(bytes(blob))
        longer = max(w, h)
        return [
            (doc_id, max(1, w * max_side // longer),
             max(1, h * max_side // longer))
        ]

    return _codec_map_in_pandas(blobs, row, RESIZE_SCHEMA)


def synthesize_videos(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic fake video blobs: 'VID:<n_frames>:<fps>:' header."""
    n_frames = (F.col(id_col) % 200 + 10).cast("int")
    header = F.concat(
        F.lit("VID:"), n_frames.cast("string"), F.lit(":10:")
    )
    return df.select(
        F.col(id_col).alias("doc_id"), F.encode(header, "UTF-8").alias("blob")
    )


def vid_header(raw: bytes) -> tuple[int, int]:
    """'VID:<n_frames>:<fps>:' -> (n_frames, fps): the one parser of the
    synthetic video header."""
    n_s, _, rest = raw[4:].partition(b":")
    fps_s, _, _ = rest.partition(b":")
    n, fps = _header_ints(b"VID:", raw, n_s, fps_s)
    return n, fps


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("ts_ms", T.IntegerType()),
    ]
)


def sample_frames(videos: DataFrame, every_k: int = 7) -> DataFrame:
    """Arrow-batched frame sampling: one output row per kept frame.

    Real containers (Y4M, MJPEG-AVI, H.264-MP4 keyframes) go through
    their frame iterator's index — timestamps from the container's own
    clock, and no frame is decoded; the synthetic
    'VID:<n_frames>:<fps>:' header emits every k-th frame index with
    its timestamp.  This is the one-row-in, many-rows-out (UDTF) batch
    shape frame extraction needs.  Frame rows are the unit of
    downstream multimodal work (per-frame embeddings, dedup), so they
    must be real rows, not an aggregate.
    """

    def row(doc_id, blob):
        raw = bytes(blob)
        if raw.startswith(b"VID:"):
            n, fps = vid_header(raw)
            return [(doc_id, i, i * 1000 // fps) for i in range(0, n, every_k)]
        return [(doc_id, i, ts) for i, ts, *_ in _video_frames(raw, every_k)]

    return _codec_map_in_pandas(videos, row, FRAME_SCHEMA)


# --- real Y4M codec (YUV4MPEG2: pure stdlib marker walk + planar frames) ----
#
# YUV4MPEG2 is the uncompressed-video interchange format of the
# mjpegtools/ffmpeg world (`ffmpeg -f yuv4mpeg`): one ASCII header line
# ('YUV4MPEG2 W.. H.. F<num>:<den> .. C<colorspace>\n'), then per frame
# an ASCII 'FRAME[ params]\n' marker followed by raw planar YUV bytes of
# a size fixed entirely by the header.  No entropy coding means a
# pure-stdlib demuxer carries it end-to-end REAL — marker walk +
# zero-copy plane slices — closing the video third of the codec seam
# the way PNG/BMP closed images and WAV closed audio; the compressed
# containers (MJPEG-AVI, H.264-MP4) have their own demuxers in
# operators/avi.py and operators/mp4.py.

Y4M_MAGIC = b"YUV4MPEG2 "

# colorspace tag -> frame payload bytes as a fraction (num, den) of w*h;
# all 8-bit.  mono = Y only; 420* = Y + quarter-res U and V; etc.
_Y4M_FRAME_BYTES = {
    "mono": (1, 1),
    "420": (3, 2),
    "420jpeg": (3, 2),
    "420mpeg2": (3, 2),
    "420paldv": (3, 2),
    "422": (2, 1),
    "444": (3, 1),
}


def y4m_header(raw: bytes) -> tuple[int, int, int, int, str, int]:
    """Parse the YUV4MPEG2 stream header → (width, height, fps_num,
    fps_den, colorspace, header_len).

    W/H/F are required; C defaults to 420jpeg per the mjpegtools spec.
    I (interlace), A (aspect) and X (comment) parameters are legal and
    geometry-free, so they parse and are ignored.  Colorspaces outside
    _Y4M_FRAME_BYTES (10-bit variants, alpha) raise to the seam — a
    guessed frame size would shift every later frame's bytes."""
    if not raw.startswith(Y4M_MAGIC):
        raise ValueError("not a YUV4MPEG2 stream")
    nl = raw.find(b"\n")
    if nl < 0:
        raise ValueError("unterminated YUV4MPEG2 header")
    w = h = num = den = 0
    cs = "420jpeg"
    for tok in raw[len(Y4M_MAGIC) : nl].split(b" "):
        if not tok:
            continue
        tag, val = tok[:1], tok[1:].decode("ascii")
        if tag == b"W":
            w = int(val)
        elif tag == b"H":
            h = int(val)
        elif tag == b"F":
            num_s, _, den_s = val.partition(":")
            num, den = int(num_s), int(den_s)
        elif tag == b"C":
            cs = val
    if w <= 0 or h <= 0 or num <= 0 or den <= 0:
        raise ValueError("YUV4MPEG2 header missing W/H/F")
    if cs not in _Y4M_FRAME_BYTES:
        raise NotImplementedError(
            f"Y4M colorspace {cs!r}: plug ffmpeg in here"
        )
    if cs.startswith("420") and (w % 2 or h % 2):
        raise ValueError(f"C{cs} needs even dimensions, got {w}x{h}")
    if cs == "422" and w % 2:
        raise ValueError(f"C422 needs even width, got {w}")
    return w, h, num, den, cs, nl + 1


def y4m_frames(raw: bytes):
    """Yield (frame_idx, y_plane_bytes) for every frame — the demux.

    Each FRAME marker line may carry its own ' params' up to the
    newline (per spec); the payload size is fixed by the header, so the
    walk is O(frames) marker scans with zero-copy plane slices and no
    per-pixel work.  A missing marker or truncated payload raises
    ValueError — a corrupt stream must fail loudly, because a silent
    resync would shift every later frame's bytes."""
    w, h, _num, _den, cs, pos = y4m_header(raw)
    fn, fd = _Y4M_FRAME_BYTES[cs]
    fsize = w * h * fn // fd
    ysize = w * h
    n = len(raw)
    idx = 0
    while pos < n:
        if raw[pos : pos + 5] != b"FRAME":
            raise ValueError(f"Y4M frame {idx}: missing FRAME marker")
        nl = raw.find(b"\n", pos)
        if nl < 0:
            raise ValueError(f"Y4M frame {idx}: unterminated FRAME line")
        start = nl + 1
        if start + fsize > n:
            raise ValueError(f"Y4M frame {idx}: truncated payload")
        yield idx, raw[start : start + ysize]
        pos = start + fsize
        idx += 1


# --- one frame iterator per video container --------------------------------
#
# Each yields (frame_idx, ts_ms, width, height, pixels) for every k-th
# frame it samples; pixels() decodes that frame to exact luma only when
# called (so frame sampling decodes nothing) and raises ValueError when
# the decoded geometry disagrees with the container header.  Each
# iterator raises NotImplementedError on any other container's bytes,
# so an operator bound to one container never widens to the others.

_NO_DEMUXER = "real video demuxer plugs in here"


def _is_y4m(raw: bytes) -> bool:
    return raw.startswith(Y4M_MAGIC)


def _is_avi(raw: bytes) -> bool:
    return raw[:4] == b"RIFF" and raw[8:12] == b"AVI "


def _is_mp4(raw: bytes) -> bool:
    return len(raw) >= 12 and raw[4:8] == b"ftyp"


def _frame_luma(what: str, w: int, h: int, dec):
    """Exact luma of one decoded frame, checked against the container's
    (w, h)."""
    y = _luma_u8(dec)
    if y.shape != (h, w):
        raise ValueError(
            f"{what}: decoded geometry {y.shape} != container {(h, w)}"
        )
    return y


def _lazy_luma(what: str, w: int, h: int, decode, payload):
    """pixels() of one frame: decodes ``payload`` only when called."""
    return lambda: _frame_luma(what, w, h, decode(payload))


def _y4m_frame_iter(raw: bytes, every_k: int):
    """YUV4MPEG2: FRAME-marker walk; ts from the true fps ratio
    (floor-exact integer math, matching mjpegtools)."""
    import numpy as np

    if not _is_y4m(raw):
        raise NotImplementedError(_NO_DEMUXER)
    if every_k < 1:
        raise ValueError(f"every_k must be >= 1, got {every_k}")
    w, h, num, den, _cs, _hl = y4m_header(raw)

    def plane(p):
        return np.frombuffer(p, dtype=np.uint8).reshape(h, w)

    for idx, p in y4m_frames(raw):
        if idx % every_k == 0:
            yield idx, idx * 1000 * den // num, w, h, _lazy_luma(
                f"Y4M frame {idx}", w, h, plane, p
            )


def _avi_frame_iter(raw: bytes, every_k: int):
    """MJPEG-in-AVI: idx1 index seek (only the sampled frames' bytes
    are touched), each frame a JFIF payload; ts from rate/scale."""
    from .avi import avi_frames, avi_header
    from .jpeg import jpeg_decode

    if not _is_avi(raw):
        raise NotImplementedError(_NO_DEMUXER)
    hdr = avi_header(raw)
    w, h, rate, scale, _nf, _vi = hdr
    for idx, payload in avi_frames(raw, every_k=every_k, header=hdr):
        yield idx, idx * 1000 * scale // rate, w, h, _lazy_luma(
            f"AVI frame {idx}", w, h, jpeg_decode, payload
        )


def _h264_keyframes(info: dict, keyframes, what: str):
    """Frame tuples over (idx, ts_ms, sample) IDR samples of one MP4."""
    from .h264 import h264_decode_sample

    w, h = info["width"], info["height"]

    def decode(sample):
        return h264_decode_sample(
            info["sps"], info["pps"], sample, info["length_size"]
        )

    for i, ts_ms, sample in keyframes:
        yield int(i), int(ts_ms), w, h, _lazy_luma(
            f"{what} {i}", w, h, decode, sample
        )


def _mp4_frame_iter(raw: bytes, every_k: int):
    """H.264-in-MP4 keyframes through the stss sync table (only the
    sampled samples' mdat byte ranges are touched); ts from stts."""
    from .mp4 import mp4_keyframes, mp4_probe

    if not _is_mp4(raw):
        raise NotImplementedError(_NO_DEMUXER)
    info = mp4_probe(raw)
    yield from _h264_keyframes(
        info, mp4_keyframes(raw, every_k, info), "MP4 sample"
    )


def _mp4_sidx_frame_iter(raw: bytes, every_k: int):
    """Fragmented-MP4 keyframes through the sidx: every k-th SAP
    subsegment's first sync sample; frame_idx is the subsegment index
    and ts the sidx-accumulated subsegment start."""
    from .mp4 import mp4_fragment_keyframes, mp4_probe

    if not _is_mp4(raw):
        raise NotImplementedError(_NO_DEMUXER)
    info = mp4_probe(raw)
    yield from _h264_keyframes(
        info, mp4_fragment_keyframes(raw, every_k, info), "MP4 subsegment"
    )


# the one video-container dispatch (fragmented MP4 also answers the
# stss path: mp4_probe expands fragments into the same sample tables)
_VIDEO_CONTAINERS = (
    (_is_y4m, _y4m_frame_iter),
    (_is_avi, _avi_frame_iter),
    (_is_mp4, _mp4_frame_iter),
)


def _video_frames(raw: bytes, every_k: int):
    """The frame iterator of the container raw's magic names."""
    for is_container, frames in _VIDEO_CONTAINERS:
        if is_container(raw):
            return frames(raw, every_k)
    raise NotImplementedError(_NO_DEMUXER)


def _min_max_sum(y) -> tuple[int, int, int]:
    """Exact integer (min, max, sum) of an integer array — the fold
    behind every per-frame, per-image and per-stream stats row."""
    import numpy as np

    return int(y.min()), int(y.max()), int(y.sum(dtype=np.int64))


Y4M_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("ts_ms", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("y_min", T.IntegerType()),
        T.StructField("y_max", T.IntegerType()),
        T.StructField("y_sum", T.LongType()),
    ]
)


def _frame_stats(videos: DataFrame, frames, every_k: int) -> DataFrame:
    """Y4M_STATS_SCHEMA rows, one per frame the iterator samples."""

    def row(doc_id, blob):
        for idx, ts_ms, w, h, pixels in frames(bytes(blob), every_k):
            yield (int(doc_id), idx, ts_ms, w, h, *_min_max_sum(pixels()))

    return _codec_map_in_pandas(videos, row, Y4M_STATS_SCHEMA)


def synthesize_y4m_blobs(
    df: DataFrame,
    id_col: str,
    *,
    frames_base: int = 10,
    frames_mod: int = 40,
    w_mod: int = 8,
    h_mod: int = 6,
) -> DataFrame:
    """REAL YUV4MPEG2 bytes as a deterministic fixture (the BMP
    discipline): Cmono streams at F10:1 whose geometry and content
    derive from the id — w = (id % w_mod)·2 + 8, h = (id % h_mod)·2 + 8,
    n_frames = id % frames_mod + frames_base, frame f a SOLID Y plane of
    value (id + 7·f) % 256 — so a SQL oracle recomputes every downstream
    stat from id arithmetic while the bytes exercise the real marker
    walk (a frame-size or offset bug lands the slice in a neighboring
    frame's plane, which carries a DIFFERENT value and hash-fails).
    Within-frame pixel addressing is pinned by the gradient fixtures in
    tests/test_multimodal_y4m.py."""

    def make(i: int) -> bytes:
        w = (i % w_mod) * 2 + 8
        h = (i % h_mod) * 2 + 8
        parts = [b"YUV4MPEG2 W%d H%d F10:1 Ip A1:1 Cmono\n" % (w, h)]
        for f in range(i % frames_mod + frames_base):
            parts.append(b"FRAME\n")
            parts.append(bytes([(i + 7 * f) % 256]) * (w * h))
        return b"".join(parts)

    return _synthesize(df, id_col, make)


def y4m_frame_stats(videos: DataFrame, every_k: int = 5) -> DataFrame:
    """Real per-frame luma statistics from Y4M streams: every k-th
    frame's Y plane decodes to exact integer min / max / sum (numpy over
    the zero-copy slice) plus the timestamp from the true fps ratio
    (idx·1000·den DIV num).  One row per sampled frame — the per-frame
    feature unit video quality filtering and near-dup consume; non-Y4M
    blobs raise to the demuxer seam."""
    return _frame_stats(videos, _y4m_frame_iter, every_k)


def synthesize_avi_blobs(
    df: DataFrame,
    id_col: str,
    *,
    frames_base: int = 4,
    frames_mod: int = 12,
    quality: int = 100,
) -> DataFrame:
    """REAL MJPEG-in-AVI bytes as a deterministic fixture (the Y4M
    discipline applied to compressed video): single 'vids'/'MJPG'
    stream whose geometry, frame clock and content derive from the id
    — w = id % 24 + 16, h = id % 20 + 12, fps = id % 10 + 5,
    n_frames = id % frames_mod + frames_base, frame f a SOLID gray
    plane of value (id + 11·f) % 256, each frame its own quality-100
    baseline JFIF payload (all quant divisors 1: DC-only solid blocks
    decode EXACTLY) — so a SQL oracle recomputes every downstream stat
    from id arithmetic while the bytes exercise the real RIFF walk,
    idx1 index seek AND per-frame JPEG entropy decode (an index-offset
    or chunk-size bug lands the decode in a neighboring frame, which
    carries a DIFFERENT solid value and hash-fails)."""

    def make(i: int) -> bytes:
        import numpy as np

        from .avi import avi_encode

        w, h = i % 24 + 16, i % 20 + 12
        frames = [
            np.full((h, w), (i + 11 * f) % 256, dtype=np.uint8)
            for f in range(i % frames_mod + frames_base)
        ]
        return avi_encode(frames, rate=i % 10 + 5, quality=quality)

    return _synthesize(df, id_col, make)


def avi_frame_stats(videos: DataFrame, every_k: int = 3) -> DataFrame:
    """Real per-frame luma statistics from MJPEG-in-AVI streams: every
    k-th frame seeks through the idx1 index, its JFIF payload entropy-
    decodes via operators/jpeg.py, and the pixels fold to exact integer
    min / max / sum plus the rate/scale timestamp — the same per-frame
    feature unit as y4m_frame_stats, now over a COMPRESSED container.
    Non-AVI blobs raise to the demuxer seam."""
    return _frame_stats(videos, _avi_frame_iter, every_k)


def synthesize_mp4_blobs(df: DataFrame, id_col: str) -> DataFrame:
    """REAL H.264-in-MP4 bytes as a deterministic fixture (round 13 —
    the AVI discipline applied to the web's dominant video container):
    one avc1 track whose geometry, frame clock, keyframe cadence and
    content derive from the id — w = even(id % 24 + 16),
    h = even(id % 20 + 12), fps = id % 10 + 5, n_frames = id % 12 + 4,
    key_every = id % 3 + 1 (a GENUINE stss subset: only every
    key_every-th frame is an IDR sync sample), frame f a SOLID luma
    plane of value (id + 13·f) % 256.  Flat frames ride the
    Intra_16x16 DC path whose reconstruction is integer-exact through
    real CAVLC (operators/h264.py::encode_flat_i16_slice), so a SQL
    oracle recomputes every downstream stat from id arithmetic while
    the bytes exercise the real box walk, stss seek, NAL parse and
    entropy decode — a sample-table or seek bug lands in a frame with
    a DIFFERENT solid value and hash-fails."""

    def make(i: int) -> bytes:
        import numpy as np

        from .mp4 import mp4_encode_gray

        w = ((i % 24 + 16) // 2) * 2
        h = ((i % 20 + 12) // 2) * 2
        frames = [
            np.full((h, w), (i + 13 * f) % 256, dtype=np.uint8)
            for f in range(i % 12 + 4)
        ]
        return mp4_encode_gray(frames, fps=i % 10 + 5, key_every=i % 3 + 1)

    return _synthesize(df, id_col, make)


def mp4_frame_stats(videos: DataFrame, every_k: int = 2) -> DataFrame:
    """Per-KEYFRAME luma statistics from H.264-in-MP4 streams: every
    k-th stss sync sample resolves its mdat byte range through the
    sample tables (only sampled bytes are touched), its IDR slice
    decodes through operators/h264.py, and the pixels fold to exact
    integer min / max / sum plus the stts timestamp — the same
    per-frame feature unit as y4m/avi_frame_stats, over the container
    a crawl corpus actually has.  Non-MP4 blobs raise to the demuxer
    seam."""
    return _frame_stats(videos, _mp4_frame_iter, every_k)


def _pgop_specs(i: int, n_gops: int, gop_len: int) -> list:
    """Deterministic P-GOP structure shared by the progressive and
    fragmented MP4 fixtures — pure id arithmetic a SQL oracle
    reproduces.  GOP k opens with an IDR of solid luma
    40 + (id*17 + k*71) % 176; each following position p (1-based)
    picks by (id+p) % 3: 0 -> P_Skip (value unchanged), 1 -> flat-delta
    P of (id+p) % 7 - 3 (value shifts exactly; cumulative drift is
    bounded so no clipping), 2 -> constant-MV pan P at quarter-pel
    ((id+p)%9-4, (id+3p)%9-4) (value unchanged, full 6-tap/bilinear
    interpolation runs)."""
    gops = []
    for k in range(n_gops):
        specs: list = [("idr", 40 + (i * 17 + k * 71) % 176)]
        for p in range(1, gop_len):
            t = (i + p) % 3
            if t == 0:
                specs.append(("skip",))
            elif t == 1:
                specs.append(("pdelta", (i + p) % 7 - 3))
            else:
                specs.append(
                    ("pmv", ((i + p) % 9 - 4, (i + 3 * p) % 9 - 4))
                )
        gops.append(specs)
    return gops


def synthesize_mp4p_blobs(df: DataFrame, id_col: str) -> DataFrame:
    """Progressive MP4 with REAL P slices (round 13b): two GOPs of
    length id%3+3, structure per _pgop_specs, at
    w = even(id%22+16), h = even(id%18+12), qp = 12 + id%5 (the inter
    flat-DC exactness range), fps = id%8+5.  Only IDRs land in stss;
    every P frame is motion-compensated from its reference for real —
    an MV-prediction, MC-interpolation, skip-propagation or
    reference-tracking bug shifts a frame's solid value and
    hash-fails."""

    def make(i: int) -> bytes:
        from .mp4 import mp4_encode_pgop

        specs = [s for g in _pgop_specs(i, 2, i % 3 + 3) for s in g]
        return mp4_encode_pgop(
            specs, ((i % 22 + 16) // 2) * 2, ((i % 18 + 12) // 2) * 2,
            fps=i % 8 + 5, qp=12 + i % 5,
        )

    return _synthesize(df, id_col, make)


MP4_SEQ_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("ts_ms", T.IntegerType()),
        T.StructField("is_key", T.BooleanType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("y_min", T.IntegerType()),
        T.StructField("y_max", T.IntegerType()),
        T.StructField("y_sum", T.LongType()),
    ]
)


def mp4_video_stats(videos: DataFrame) -> DataFrame:
    """Per-frame luma statistics over EVERY sample of an H.264-in-MP4
    stream in decode order — the sequential path P frames require
    (each frame may reference the previous reference picture), with
    the stss sync flag carried through as is_key.  Works on both
    progressive and fragmented containers: mp4_probe expands
    moof/traf/trun fragments to the same per-sample tables."""

    def row(doc_id, blob):
        from .mp4 import mp4_decode_all, mp4_probe

        raw = bytes(blob)
        if not _is_mp4(raw):
            raise NotImplementedError(_NO_DEMUXER)
        info = mp4_probe(raw)
        w, h = info["width"], info["height"]
        for si, ts_ms, is_key, dec in mp4_decode_all(raw, info):
            y = _frame_luma(f"MP4 sample {si}", w, h, dec)
            yield (int(doc_id), si, int(ts_ms), bool(is_key), w, h,
                   *_min_max_sum(y))

    return _codec_map_in_pandas(videos, row, MP4_SEQ_STATS_SCHEMA)


def synthesize_mp4frag_blobs(df: DataFrame, id_col: str) -> DataFrame:
    """FRAGMENTED MP4 (DASH/CMAF layout, round 13b): three
    one-GOP-per-fragment subsegments of length id%3+2 (structure per
    _pgop_specs), sidx seek table, moov with empty sample tables +
    mvex/trex — same geometry/qp/fps arithmetic as
    synthesize_mp4p_blobs."""

    def make(i: int) -> bytes:
        from .mp4 import mp4_encode_fragmented

        return mp4_encode_fragmented(
            _pgop_specs(i, 3, i % 3 + 2),
            ((i % 22 + 16) // 2) * 2, ((i % 18 + 12) // 2) * 2,
            fps=i % 8 + 5, qp=12 + i % 5,
        )

    return _synthesize(df, id_col, make)


def mp4_frag_keyframe_stats(videos: DataFrame, every_k: int = 2) -> DataFrame:
    """Keyframe statistics through the FRAGMENTED seek path: the sidx
    references every subsegment; every k-th SAP subsegment's moof is
    parsed and its first sync sample (the GOP's IDR) decoded — the
    unsampled fragments' mdat bytes are never touched (the stss/idx1
    discipline at DASH granularity).  frame_idx is the subsegment
    index; ts_ms the sidx-accumulated subsegment start."""
    return _frame_stats(videos, _mp4_sidx_frame_iter, every_k)


FRAME_AHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("b0", T.LongType()),
        T.StructField("b1", T.LongType()),
        T.StructField("b2", T.LongType()),
        T.StructField("b3", T.LongType()),
    ]
)


def y4m_frame_ahash(videos: DataFrame, every_k: int = 5) -> DataFrame:
    """True spatial aHash per sampled video frame: each kept frame's
    real Y plane (Y4M), JPEG-decoded luma (MJPEG-in-AVI) or H.264
    keyframe luma (MP4) feeds the SAME 8×8 block-grid / exact-integer
    thresholding as image blobs (_spatial_ahash), so the banded
    pigeonhole join behind image near-dup (ahash_near_dup, keyed on
    (doc_id, frame_idx) instead of doc_id) finds recurring and
    near-duplicate frames across a video corpus — and ACROSS
    containers: the same pixels hash identically from Y4M and
    lossless-path frames, and within a small hamming radius through
    quality<100 JPEG frames (pinned in tests/test_multimodal_avi.py)."""

    def row(doc_id, blob):
        for idx, _ts, _w, _h, pixels in _video_frames(bytes(blob), every_k):
            yield (int(doc_id), idx, *_spatial_ahash(pixels()))

    return _codec_map_in_pandas(videos, row, FRAME_AHASH_SCHEMA)


GRAY_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("y_min", T.IntegerType()),
        T.StructField("y_max", T.IntegerType()),
        T.StructField("y_sum", T.LongType()),
    ]
)


def decode_gray_stats(blobs: DataFrame) -> DataFrame:
    """Exact integer grayscale statistics from REAL image bytes: every
    real format decodes to pixels through gray_pixels_any (the shared
    _luma_u8 for color), then min / max / sum per image — the per-image
    feature unit quality filtering and brightness audits consume.
    Synthetic headers and unknown formats raise to the codec seam: a
    stats row from fake pixels would poison the audit."""

    def row(doc_id, blob):
        px = gray_pixels_any(bytes(blob))
        return [(int(doc_id), px.shape[1], px.shape[0], *_min_max_sum(px))]

    return _codec_map_in_pandas(blobs, row, GRAY_STATS_SCHEMA)


THUMB_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("thumb", T.BinaryType()),
        T.StructField("new_width", T.IntegerType()),
        T.StructField("new_height", T.IntegerType()),
    ]
)


def thumbnail_one(raw: bytes, max_side: int = 32) -> tuple[bytes, int, int]:
    """One blob through the WHOLE thumbnail chain: decode (any seam
    format) → aspect-preserving exact nearest-neighbor resample
    (src = dst·old DIV new — pure integer, no filter-kernel float
    ambiguity) → lossless gray-ramp GIF re-encode.  Returns
    (gif_bytes, new_width, new_height).  The per-blob unit of
    thumbnail_blobs, exposed so the chain-level robustness fuzz hits
    the exact production path."""
    import numpy as np

    from .gif import gif_encode

    px = gray_pixels_any(raw)
    h, w = px.shape
    longer = max(w, h)
    nw = max(1, w * max_side // longer)
    nh = max(1, h * max_side // longer)
    rs = (np.arange(nh, dtype=np.int64) * h) // nh
    cs = (np.arange(nw, dtype=np.int64) * w) // nw
    return gif_encode(px[rs][:, cs]), nw, nh


def thumbnail_blobs(blobs: DataFrame, max_side: int = 32) -> DataFrame:
    """REAL thumbnail sink: decode any of the seam's real image formats
    (PNG/BMP/JPEG/GIF/TIFF) to gray pixels, resample to the
    aspect-preserving resize_images geometry (longer side →
    ``max_side``), and re-encode as a lossless gray-ramp GIF — see
    thumbnail_one for the per-blob chain.  Output thumbnails are
    themselves decodable by the same seam, so a driver oracle can
    hash-check the WHOLE decode→resize→re-encode→decode chain end to
    end.  Non-image or synthetic blobs raise to the codec seam."""

    def row(doc_id, blob):
        return [(int(doc_id), *thumbnail_one(bytes(blob), max_side))]

    return _codec_map_in_pandas(blobs, row, THUMB_SCHEMA)


AHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("b0", T.LongType()),
        T.StructField("b1", T.LongType()),
        T.StructField("b2", T.LongType()),
        T.StructField("b3", T.LongType()),
    ]
)


def _spatial_cells(px):
    """8×8 block-grid cell index per pixel of an (h, w) array — the true
    aHash downsample geometry, shared by image blobs and video frames."""
    import numpy as np

    ih, iw = px.shape
    rr = (np.arange(ih, dtype=np.int64) * 8) // ih
    cc_ = (np.arange(iw, dtype=np.int64) * 8) // iw
    return (rr[:, None] * 8 + cc_[None, :]).ravel()


def _ahash_bands(cells, cps) -> list[int]:
    """EXACT-integer aHash cell thresholding (cell_sum·n ≥ total·count —
    no float division) packed into four 16-bit band integers; the shared
    tail of ahash_blobs and y4m_frame_ahash (see ahash_blobs for the
    full contract)."""
    import numpy as np

    n = len(cps)
    cs = np.bincount(cells, weights=cps, minlength=64).astype(np.int64)
    cc = np.bincount(cells, minlength=64).astype(np.int64)
    bits = (cc > 0) & (cs * n >= cps.sum() * cc)
    vals = bits.astype(np.int64) << (np.arange(64) % 16)
    return [int(vals[b * 16 : (b + 1) * 16].sum()) for b in range(4)]


def _spatial_ahash(px) -> list[int]:
    """aHash bands of an (h, w) luma array over the spatial 8×8 grid."""
    import numpy as np

    px = px.astype(np.int64)
    return _ahash_bands(_spatial_cells(px), px.ravel())


def ahash_blobs(blobs: DataFrame) -> DataFrame:
    """Perceptual average-hash over media blobs (aHash — the classic
    image near-dup fingerprint: downsample, threshold each cell at the
    global mean, pack the bits).  Arrow-batched mapInPandas, numpy per
    batch; the only Python in the pipeline, at the codec seam where it
    belongs.

    Every real image format (PNG/BMP/JPEG/GIF/TIFF, via
    gray_pixels_any) hashes its REAL decoded pixels over a spatial 8×8
    block grid (true aHash) — they share the exact luma, so the same
    pixels hash identically across formats (JPEG up to its
    quantization loss, which aHash near-dup absorbs); synthetic IMG
    blobs 'decode' to their payload's code-point sequence over a linear
    64-cell split — both feed the identical thresholding/bit-packing,
    and the banded near-dup join downstream is unchanged.  Cell means
    are compared in EXACT integers (cell_sum · n ≥ total · cell_count —
    no float division), so the hash is bit-identical to the SQL
    oracle's restatement; empty cells (payloads shorter than 64 units)
    hash to 0, and an empty payload to the all-zero hash, so no
    document silently vanishes from the table.  The 64 bits come out
    as four 16-bit band integers (b0..b3) — exactly what the pigeonhole
    LSH join consumes, and sign-safe in any engine's 64-bit integer.

    Overflow headroom: cell_sum · n needs payload_len² · max_unit
    < 2^63 — ~2.9e6 code points per document at the Unicode max.
    """

    def row(doc_id, blob):
        import numpy as np

        raw = bytes(blob)
        if not raw.startswith(b"IMG:"):
            return [(doc_id, *_spatial_ahash(gray_pixels_any(raw)))]
        payload = img_header(raw)[2].decode("utf-8")
        cps = np.array([ord(c) for c in payload], dtype=np.int64)
        cells = (np.arange(len(cps), dtype=np.int64) * 64) // max(len(cps), 1)
        return [(doc_id, *_ahash_bands(cells, cps))]

    return _codec_map_in_pandas(blobs, row, AHASH_SCHEMA)


def ahash_near_dup(
    sigs: DataFrame, radius: int = 3, max_bucket: int = 1_000_000
) -> DataFrame:
    """Near-duplicate image pairs from aHash signatures: Hamming
    distance ≤ ``radius`` over the 64-bit hash, found WITHOUT an
    all-pairs compare.

    Pigeonhole LSH: ≤ 3 flipped bits cannot touch all four 16-bit
    bands, so every pair within radius 3 shares at least one band
    verbatim — the banded equi-join is LOSSLESS for radius ≤ 3 (same
    argument as the SimHash bands), and candidates verify by exact
    popcount over the XOR.  16-bit bands keep buckets selective
    (measured max bucket 11 over 1.5k fixture images); ``max_bucket``
    drops degenerate buckets (e.g. monochrome-image hash collisions)
    with the same documented recall trade as the MinHash star cap.

    One shuffle for the bucket join; the four band longs RIDE the pair
    join as payloads (round 14) so the popcount verify runs on the
    candidate rows BEFORE the distinct-pairs exchange — the previous
    shape deduped unverified candidates and then joined the signature
    table back per side (two extra joins, and the exchange carried
    every candidate instead of the verified survivors; guide §2.3).
    """
    melted = sigs.select(
        "doc_id",
        "b0",
        "b1",
        "b2",
        "b3",
        F.expr(
            "stack(4, 0, b0, 1, b1, 2, b2, 3, b3) AS (band_id, band_val)"
        ),
    )
    sizes = melted.select("band_id", "band_val").groupBy(
        "band_id", "band_val"
    ).agg(F.count("*").alias("_n"))
    ok_buckets = sizes.where(F.col("_n") <= max_bucket).drop("_n")
    bucketed = melted.join(ok_buckets, ["band_id", "band_val"])
    ham = sum(
        F.bit_count(F.col(f"x.b{i}").bitwiseXOR(F.col(f"y.b{i}")))
        for i in range(4)
    ).cast("long")
    return (
        bucketed.alias("x")
        .join(
            bucketed.alias("y"),
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("id_a"),
            F.col("y.doc_id").alias("id_b"),
            ham.alias("hamming"),
        )
        .where(F.col("hamming") <= radius)
        .distinct()
    )


def synthesize_audio(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Deterministic fake audio blobs: 'AUD:<rate>:' header + payload.

    Sample rate derives from the id (8/16/24 kHz — the three common
    speech/music rates) so every row round-trips predictably; the
    payload stands in for PCM bytes the way the IMG payload stands in
    for pixels.
    """
    rate = ((F.col(id_col) % 3 + 1) * 8000).cast("int")
    header = F.concat(F.lit("AUD:"), rate.cast("string"), F.lit(":"))
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.encode(F.concat(header, F.col(text_col)), "UTF-8").alias("blob"),
    )


def aud_header(raw: bytes) -> tuple[int, bytes]:
    """'AUD:<rate>:<payload>' -> (rate, payload): the one parser of the
    synthetic audio header."""
    rate_s, _, payload = raw[4:].partition(b":")
    (rate,) = _header_ints(b"AUD:", raw, rate_s)
    return rate, payload


# --- real WAV codec (pure stdlib: RIFF chunk walk + PCM frombuffer) ---------
#
# Like PNG (round 9), WAV needs no external library: RIFF framing is
# struct-unpacking and PCM samples ARE the payload bytes.  The audio
# seam therefore carries a second REAL format end-to-end — true sample
# rate / frame count / peak / clipping from real PCM — while compressed
# codecs (MP3/AAC/Opus) still raise to the marked soundfile/ffmpeg seam.

WAV_MAGIC = b"RIFF"


# IMA/DVI ADPCM tables (public spec data — IMA "Recommended Practices
# for Enhancing Digital Audio Compatibility", rev 3.00): the 89-entry
# quantizer step table and the per-nibble index adjustment.
_IMA_STEP = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767,
]
_IMA_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8]


def _adpcm_step(nibble: int, pred: int, index: int) -> tuple[int, int]:
    """One IMA ADPCM decode step: (new_pred, new_index)."""
    step = _IMA_STEP[index]
    diff = step >> 3
    if nibble & 1:
        diff += step >> 2
    if nibble & 2:
        diff += step >> 1
    if nibble & 4:
        diff += step
    if nibble & 8:
        diff = -diff
    pred = max(-32768, min(32767, pred + diff))
    index = max(0, min(88, index + _IMA_INDEX[nibble & 7]))
    return pred, index


def _adpcm_decode_block(block: bytes) -> list[int]:
    """One mono IMA ADPCM block: 4-byte header (int16 predictor, uint8
    step index, reserved) then packed nibbles, LOW nibble first."""
    import struct

    if len(block) < 4:
        raise ValueError("truncated ADPCM block header")
    pred, index, _rsv = struct.unpack_from("<hBB", block, 0)
    if index > 88:
        raise ValueError(f"invalid ADPCM step index {index}")
    out = [pred]
    for byte in block[4:]:
        for nibble in (byte & 0x0F, byte >> 4):
            pred, index = _adpcm_step(nibble, pred, index)
            out.append(pred)
    return out


def wav_pcm_samples(raw: bytes):
    """Parse a RIFF/WAVE blob → (sample_rate, channel-0 samples as an
    int64 ndarray, bits_per_sample).  PCM (format tag 1), 8/16-bit,
    any channel count — stats run over channel 0, matching the
    channel-0 luma convention of the gray+alpha PNG path.  Format 17
    (IMA ADPCM, round 11) decodes FOR REAL for mono streams — 4-bit
    nibbles through the 89-step quantizer with per-block predictor
    reset, truncated to the fact chunk's sample count; the returned
    bits is 16 (ADPCM reconstructs 16-bit samples).  Formats 6/7
    (G.711 A-law / mu-law, round 13b) expand FOR REAL through the
    audioop-verified formulas — telephony-corpus audio; the returned
    bits is 16 (G.711 expands to 16-bit scale).  Float/MP3 WAVE
    formats and stereo ADPCM raise to the seam."""
    import struct

    import numpy as np

    if raw[:4] != WAV_MAGIC or raw[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE blob")
    fmt = data = fact = None
    pos = 12
    while pos + 8 <= len(raw):
        cid = raw[pos : pos + 4]
        sz = int.from_bytes(raw[pos + 4 : pos + 8], "little")
        body = raw[pos + 8 : pos + 8 + sz]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        elif cid == b"fact":
            fact = body
        pos += 8 + sz + (sz & 1)  # RIFF chunks are word-aligned
    if fmt is None or data is None or len(fmt) < 16:
        raise ValueError("malformed WAVE: missing fmt/data chunk")
    audio_fmt, n_ch, rate = struct.unpack_from("<HHI", fmt, 0)
    block_align = struct.unpack_from("<H", fmt, 12)[0]
    bits = struct.unpack_from("<H", fmt, 14)[0]
    if audio_fmt == 0xFFFE:  # WAVE_FORMAT_EXTENSIBLE (round 13b)
        # the wrapper every writer uses for >16-bit or multichannel
        # audio: the REAL format tag is the first two bytes of the
        # SubFormat GUID (fmt: 16 base + cbSize(2) + valid_bits(2) +
        # channel_mask(4) + GUID(16))
        if len(fmt) < 40:
            raise ValueError("malformed WAVE: extensible fmt too short")
        audio_fmt = struct.unpack_from("<H", fmt, 24)[0]
    if audio_fmt == 17:  # IMA ADPCM
        if n_ch != 1 or bits != 4:
            raise NotImplementedError(
                f"ADPCM channels={n_ch} bits={bits}: plug "
                "soundfile/ffmpeg in here (mono 4-bit decodes for real)"
            )
        if block_align < 5:
            raise ValueError("invalid ADPCM block align")
        samples: list[int] = []
        for off in range(0, len(data), block_align):
            samples.extend(_adpcm_decode_block(data[off : off + block_align]))
        if fact is not None and len(fact) >= 4:
            (n_total,) = struct.unpack_from("<I", fact, 0)
            if n_total > len(samples):
                raise ValueError(
                    "ADPCM fact chunk claims more samples than decoded"
                )
            samples = samples[:n_total]
        return rate, np.array(samples, dtype=np.int64), 16
    if audio_fmt in (6, 7):  # G.711 A-law / mu-law (round 13b)
        if bits != 8 or n_ch < 1:
            raise ValueError(
                f"G.711 WAVE must be 8-bit (got bits={bits} ch={n_ch})"
            )
        codes = np.frombuffer(
            data[: len(data) - (len(data) % n_ch)], dtype=np.uint8
        ).astype(np.int64).reshape(-1, n_ch)[:, 0]
        dec = g711_alaw_decode(codes) if audio_fmt == 6 else (
            g711_ulaw_decode(codes))
        return rate, dec, 16
    if audio_fmt != 1 or bits not in (8, 16, 24) or n_ch < 1:
        raise NotImplementedError(
            f"WAVE format {audio_fmt} bits {bits}: plug soundfile/ffmpeg "
            "in here"
        )
    frame_bytes = (bits // 8) * n_ch
    usable = len(data) - (len(data) % frame_bytes)
    if bits == 16:
        arr = np.frombuffer(data[:usable], dtype="<i2").astype(np.int64)
    elif bits == 24:
        # 24-bit PCM (round 13b): 3-byte little-endian signed —
        # assemble from bytes, then sign-extend from bit 23
        b = np.frombuffer(data[:usable], dtype=np.uint8).astype(np.int64)
        arr = b[0::3] | (b[1::3] << 8) | (b[2::3] << 16)
        arr = arr - ((arr & 0x800000) << 1)
    else:
        # 8-bit WAV is unsigned, centered at 128 per the spec
        arr = np.frombuffer(data[:usable], dtype=np.uint8).astype(np.int64) - 128
    return rate, arr.reshape(-1, n_ch)[:, 0], bits


def wav_encode_pcm16(samples, rate: int) -> bytes:
    """Mono 16-bit PCM RIFF/WAVE fixture writer."""
    import struct

    import numpy as np

    data = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def wav_encode_adpcm(samples, rate: int, block_align: int = 256) -> bytes:
    """Mono IMA ADPCM RIFF/WAVE encoder (format tag 17).

    Real 4:1 compressed audio as the deterministic fixture: per block a
    (predictor, step-index) header then 4-bit quantized diffs, the
    encoder tracking the decoder's exact reconstruction; a fact chunk
    carries the true sample count so partial final blocks truncate
    exactly.  The step index starts at 0 each block, so a CONSTANT
    signal round-trips EXACTLY (diff 0 quantizes to nibble 0, whose
    dequant step>>3 is 0 at step 7) — the solid-fixture anchor the
    JPEG-q100 oracle trick uses, now for audio."""
    import struct

    import numpy as np

    samples = np.asarray(samples, dtype=np.int64)
    n = len(samples)
    spb = (block_align - 4) * 2 + 1  # samples per block incl. header
    blocks = bytearray()
    for b0 in range(0, max(n, 1), spb):
        chunk = samples[b0 : b0 + spb]
        pred = int(chunk[0]) if len(chunk) else 0
        index = 0
        blocks += struct.pack("<hBB", pred, index, 0)
        nibbles: list[int] = []
        for s in chunk[1:]:
            step = _IMA_STEP[index]
            diff = int(s) - pred
            nib = 0
            if diff < 0:
                nib = 8
                diff = -diff
            if diff >= step:
                nib |= 4
                diff -= step
            if diff >= step >> 1:
                nib |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                nib |= 1
            pred, index = _adpcm_step(nib, pred, index)
            nibbles.append(nib)
        # pad the block's nibble area with zero diffs (truncated away
        # by the fact count on decode)
        nibbles += [0] * ((block_align - 4) * 2 - len(nibbles))
        for lo, hi in zip(nibbles[::2], nibbles[1::2]):
            blocks.append(lo | (hi << 4))
    spb_fmt = struct.pack("<H", spb)
    fmt = (
        struct.pack(
            "<HHIIHH", 17, 1, rate, rate * block_align // spb, block_align, 4
        )
        + struct.pack("<H", 2)
        + spb_fmt
    )
    fact = struct.pack("<I", n)
    return (
        b"RIFF"
        + struct.pack(
            "<I", 4 + 8 + len(fmt) + 8 + len(fact) + 8 + len(blocks)
        )
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<I", len(fact)) + fact
        + b"data" + struct.pack("<I", len(blocks)) + bytes(blocks)
    )


G711_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("law", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("s_min", T.IntegerType()),
        T.StructField("s_max", T.IntegerType()),
        T.StructField("s_sum", T.LongType()),
    ]
)


def synthesize_g711_blobs(df: DataFrame, id_col: str) -> DataFrame:
    """G.711 telephony-audio fixtures (round 13b): per doc a RIFF/WAVE
    whose data chunk is the raw 8-bit code stream c_j =
    (id*7 + j*13) % 256 for n = id%60+40 samples at 8 kHz — mu-law
    when id % 24 == 0, A-law otherwise (ids are multiples of 12).
    Unlike the solid-signal fixtures this sweeps the FULL code space,
    so every segment/mantissa branch of both expansion formulas is
    inside the oracle hash."""

    def make(i: int) -> bytes:
        import numpy as np

        codes = (i * 7 + 13 * np.arange(i % 60 + 40, dtype=np.int64)) % 256
        return wav_encode_g711(codes, 8000, alaw=(i % 24 != 0))

    return _synthesize(df, id_col, make)


def g711_stats(blobs: DataFrame) -> DataFrame:
    """Per-document stats over G.711-expanded samples: the RIFF walk +
    format-6/7 expansion of wav_pcm_samples, folded to exact integer
    min / max / sum — the audio analog of the solid-frame video
    oracles, but over the full nonlinear code space."""

    def row(doc_id, blob):
        raw = bytes(blob)
        if raw[:4] != WAV_MAGIC:
            raise NotImplementedError("real audio decoder plugs in here")
        tag = wave_format_tag(raw)
        if tag not in (6, 7):
            raise ValueError(f"g711_stats: WAVE format {tag} is not G.711")
        rate, samples, _bits = wav_pcm_samples(raw)
        return [(int(doc_id), "alaw" if tag == 6 else "ulaw", int(rate),
                 len(samples), *_min_max_sum(samples))]

    return _codec_map_in_pandas(blobs, row, G711_STATS_SCHEMA)


def wave_format_tag(raw: bytes) -> int:
    """Format tag of a RIFF/WAVE blob via the real chunk walk (a
    leading JUNK/LIST chunk is legal RIFF, so a hard-coded offset 20
    would misread valid files)."""
    import struct

    if raw[:4] != WAV_MAGIC or raw[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE blob")
    pos = 12
    while pos + 8 <= len(raw):
        cid = raw[pos : pos + 4]
        sz = int.from_bytes(raw[pos + 4 : pos + 8], "little")
        if cid == b"fmt ":
            if sz < 2 or pos + 10 > len(raw):
                raise ValueError("malformed WAVE: truncated fmt chunk")
            return struct.unpack_from("<H", raw, pos + 8)[0]
        pos += 8 + sz + (sz & 1)
    raise ValueError("malformed WAVE: missing fmt chunk")


def g711_ulaw_decode(codes):
    """ITU-T G.711 mu-law expansion, vectorized and integer-exact:
    complement, then magnitude ((mantissa<<3)+0x84)<<exponent - 0x84
    with the sign bit selecting negation.  Verified byte-for-byte
    against CPython's audioop.ulaw2lin over all 256 codes
    (tests/test_multimodal_g711.py)."""
    import numpy as np

    u = (~np.asarray(codes, dtype=np.int64)) & 0xFF
    mag = ((((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 7)) - 0x84
    return np.where((u & 0x80) != 0, -mag, mag)


def g711_alaw_decode(codes):
    """ITU-T G.711 A-law expansion (xor 0x55 toggle, segment 0/1
    linear + shifted segments 2-7); sign bit SET means positive.
    Verified byte-for-byte against audioop.alaw2lin over all 256
    codes."""
    import numpy as np

    a = np.asarray(codes, dtype=np.int64) ^ 0x55
    seg = (a >> 4) & 7
    t = (a & 0x0F) << 4
    t = np.where(
        seg == 0, t + 8,
        np.where(seg == 1, t + 0x108,
                 (t + 0x108) << np.maximum(seg - 1, 0)),
    )
    return np.where((a & 0x80) != 0, t, -t)


def wav_encode_g711(codes, rate: int, alaw: bool, n_ch: int = 1) -> bytes:
    """RIFF/WAVE fixture writer for G.711 (format 6 = A-law, 7 =
    mu-law): the data chunk IS the 8-bit code stream (one byte per
    sample per channel), so fixtures address the full 256-code space
    directly."""
    import struct

    import numpy as np

    data = bytes(np.asarray(codes, dtype=np.uint8))
    tag = 6 if alaw else 7
    fmt = struct.pack("<HHIIHH", tag, n_ch, rate, rate * n_ch, n_ch, 8)
    pad = b"\x00" if len(data) & 1 else b""
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data) + len(pad))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data + pad
    )


def synthesize_wav_blobs(df: DataFrame, id_col: str) -> DataFrame:
    """REAL RIFF/WAVE bytes as a deterministic fixture: a constant
    signal of amplitude (id%61)−30 — every 9th document at FULL SCALE
    32767, exercising the clipping count — for n = id%400+50 samples
    at the 8/16/24 kHz rate formula; even ids as 16-bit PCM, odd ids
    as IMA ADPCM (format 17 — REAL 4:1 compressed audio whose constant
    signal reconstructs exactly, see wav_encode_adpcm).  Every stat is
    id arithmetic for the SQL oracle while the bytes exercise genuine
    RIFF walk + nibble decode."""

    def make(i: int) -> bytes:
        import numpy as np

        amp = 32767 if i % 9 == 0 else (i % 61) - 30
        sig = np.full(i % 400 + 50, amp, dtype=np.int64)
        rate = (i % 3 + 1) * 8000
        if i % 2 == 0:
            return wav_encode_pcm16(sig, rate)
        return wav_encode_adpcm(sig, rate)

    return _synthesize(df, id_col, make)


def synthesize_flac_blobs(df: DataFrame, id_col: str) -> DataFrame:
    """REAL FLAC bytes as a deterministic fixture (round 13 — the 10th
    format, operators/flac.py): a sawtooth signal
    sig[j] = ((id + 17·j) % 2001) − 1000 for n = id%400+50 samples at
    the 8/16/24 kHz rate formula — NON-constant, so the fixed-order
    predictor + Rice residual entropy path is genuinely exercised;
    every 9th document rides at FULL SCALE (sig[j] alternates ±32767),
    exercising the clipping count.  Even ids mono, odd ids stereo
    (channel 1 = channel 0 halved; stats read channel 0 — the gray+
    alpha PNG convention).  FLAC is LOSSLESS, so every stat is id
    arithmetic for the SQL oracle while the bytes run genuine frame
    sync, CRC-8/16, fixed-predictor and Rice decode."""

    def make(i: int) -> bytes:
        import numpy as np

        from .flac import flac_encode

        j = np.arange(i % 400 + 50, dtype=np.int64)
        if i % 9 == 0:
            sig = np.where(j % 2 == 0, 32767, -32767).astype(np.int64)
        else:
            sig = ((i + 17 * j) % 2001) - 1000
        if i % 2 == 1:
            sig = np.stack([sig, sig // 2], axis=1)
        return flac_encode(sig, (i % 3 + 1) * 8000, block_size=256)

    return _synthesize(df, id_col, make)


AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("peak", T.IntegerType()),
        T.StructField("n_clipped", T.IntegerType()),
    ]
)

# the stub's PCM stand-in: sample value = code point − 96 (ASCII text
# centers near 0), clipping threshold ±24 — both arbitrary but FIXED so
# the SQL oracle restates them verbatim
_AUDIO_CENTER = 96
_AUDIO_CLIP = 24


def _audio_samples(raw: bytes):
    """(sample_rate, channel-0 int64 samples, bits) of a real audio
    blob — the one audio-format dispatch (channel 0: the gray+alpha
    PNG convention).  A non-positive sample rate raises ValueError
    (decode_audio divides by it)."""
    if raw[:4] == WAV_MAGIC and raw[8:12] == b"WAVE":
        rate, samples, bits = wav_pcm_samples(raw)
    elif raw[:4] == b"fLaC":
        from .flac import flac_decode

        rate, samples, bits = flac_decode(raw)
        samples = samples[:, 0] if samples.ndim == 2 else samples
    else:
        raise NotImplementedError("real audio codec plugs in here")
    if rate <= 0:
        raise ValueError(f"audio header declares sample rate {rate}")
    return rate, samples, bits


def decode_audio(blobs: DataFrame) -> DataFrame:
    """Arrow-batched audio 'decode': duration + signal-quality stats.

    Real formats: RIFF/WAVE (PCM 8/16/24-bit, IMA ADPCM, G.711 — see
    wav_pcm_samples) and FLAC — true sample rate, sample count, peak
    and clipping over channel 0 (clipping for real audio = |sample| at
    full scale, (1 << (bits-1)) - 1).  The synthetic 'AUD:<rate>:'
    header decodes its payload code points as centered samples — the
    deterministic fixture format whose exact integer stats the SQL
    oracle restates: duration_ms = n·1000 // rate, peak = max |sample|,
    n_clipped = count beyond ±clip.  Anything else raises
    NotImplementedError — the marked soundfile/ffmpeg seam, like
    decode_blobs/sample_frames.
    """

    def row(doc_id, blob):
        import numpy as np

        raw = bytes(blob)
        if raw.startswith(b"AUD:"):
            rate, payload = aud_header(raw)
            samples = np.array(
                [ord(c) for c in payload.decode("utf-8")], dtype=np.int64
            ) - _AUDIO_CENTER
            # the fixture clips strictly beyond ±_AUDIO_CLIP (integer
            # samples) — the SQL oracle restates it verbatim
            full = _AUDIO_CLIP + 1
        else:
            rate, samples, bits = _audio_samples(raw)
            # real audio clips AT full scale (inclusive): 32767 / 127
            # for 16/8-bit, 8388607 for 24-bit
            full = (1 << (bits - 1)) - 1
        mag = np.abs(samples)
        n = len(samples)
        return [(doc_id, int(rate), n, n * 1000 // rate,
                 int(mag.max()) if n else 0, int((mag >= full).sum()))]

    return _codec_map_in_pandas(blobs, row, AUDIO_META_SCHEMA)


def resample_audio_geometry(
    meta: DataFrame, target_rate: int = 16000
) -> DataFrame:
    """Resample bookkeeping: the exact output length a rate conversion
    yields (new_n = n · target // rate, floored — the sox/ffmpeg frame
    count), computed as a codegen expression over decode_audio's
    metadata.  The sample-value interpolation is the codec seam; the
    geometry is what partitioning/budget planning needs and is exact.
    """
    return meta.select(
        "doc_id",
        "sample_rate",
        "n_samples",
        F.floor(
            F.col("n_samples").cast("long")
            * target_rate
            / F.col("sample_rate")
        )
        .cast("int")
        .alias("resampled_n"),
        F.lit(target_rate).alias("target_rate"),
    )
