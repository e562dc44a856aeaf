"""Multimodal columns — binary payloads with typed metadata (task brief).

Image/audio/video are opaque ``binary`` columns processed by Arrow-batched
``mapInPandas`` UDFs.  Two decode tiers (r06 VERDICT item 2):

1. **REAL pure-Python decoders** for the trivially parseable raster
   formats — binary PPM/PGM (``P6``/``P5`` header + raw pixels) and
   uncompressed 24-bit BMP (BITMAPFILEHEADER + BITMAPINFOHEADER +
   bottom-up BGR rows with 4-byte stride padding).  ``mm_image_resize``
   (PPM) and ``mm_image_features`` (BMP) run genuine bytes→pixels decode
   end to end, and their DuckDB oracles recompute the pixel statistics in
   closed form — a single mis-parsed header field, stride byte, or
   BGR↔RGB swap fails the value hash.
2. **Deterministic fake** for formats that genuinely need a codec library
   (JPEG/PNG/ffmpeg/librosa are NOT in this container): metadata derived
   from the payload bytes, same UDF plumbing, clearly marked.

Scale notes: mapInPandas streams Arrow record batches through one Python
worker per core — no row-at-a-time pickling; binary payloads never pass
through the driver.  At 100 TB the binary column lives in parquet alongside
metadata, so column pruning skips the payload when only metadata is read.
"""

from __future__ import annotations

import struct
from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load, spread

# Formats the vendored decoders below CANNOT handle (they need a codec
# library like PIL); PPM/PGM/BMP decode is pure-Python and always works.
_CODEC_FORMATS = ("jpeg", "png", "gif", "webp")


# ---------------------------------------------------------------------------
# Real pure-Python raster codecs (PPM/PGM + 24-bit BMP).  Vendored here —
# dependency-free — so the decode tier is genuinely executable in this
# container.  Both decoders return pixels in LOGICAL order: top-down rows,
# RGB (or single-channel gray) samples — regardless of the on-disk layout.
# ---------------------------------------------------------------------------


def _ppm_token(data: bytes, pos: int) -> tuple[bytes, int]:
    """Next whitespace-delimited header token, skipping '#' comments."""
    n = len(data)
    while pos < n:
        c = data[pos : pos + 1]
        if c in b" \t\r\n":
            pos += 1
        elif c == b"#":
            while pos < n and data[pos : pos + 1] != b"\n":
                pos += 1
        else:
            break
    start = pos
    while pos < n and data[pos : pos + 1] not in b" \t\r\n":
        pos += 1
    if start == pos:
        raise ValueError("truncated PPM header")
    return data[start:pos], pos


def _decode_ppm(data: bytes) -> tuple[int, int, int, bytes]:
    """Binary PPM (P6, 3-channel) / PGM (P5, 1-channel) decoder.

    Parses the full netpbm header grammar (arbitrary whitespace, '#'
    comments) and the raw maxval<=255 sample plane.  Returns
    (width, height, channels, pixels) with pixels in row-major order."""
    magic = data[:2]
    if magic == b"P6":
        channels = 3
    elif magic == b"P5":
        channels = 1
    else:
        raise ValueError(f"not a binary PPM/PGM: magic={magic!r}")
    tok_w, pos = _ppm_token(data, 2)
    tok_h, pos = _ppm_token(data, pos)
    tok_max, pos = _ppm_token(data, pos)
    w, h, maxval = int(tok_w), int(tok_h), int(tok_max)
    if maxval <= 0 or maxval > 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    need = w * h * channels
    # Exactly ONE whitespace byte separates header from raster per spec;
    # CRLF-terminated headers (out-of-spec, seen in the wild) use two.
    # Consume the pair ONLY when doing so leaves exactly the raster
    # length — a spec-valid file whose separator is a lone '\r' and
    # whose FIRST PIXEL is 0x0A must not lose that pixel to the
    # heuristic (r8 review finding).
    if (
        data[pos : pos + 2] == b"\r\n"
        and len(data) - (pos + 2) == need
        and len(data) - (pos + 1) != need
    ):
        pos += 2
    else:
        pos += 1
    pixels = data[pos : pos + need]
    if len(pixels) != need:
        raise ValueError(f"PPM raster truncated: {len(pixels)} < {need}")
    return w, h, channels, pixels


def _decode_bmp(data: bytes) -> tuple[int, int, int, bytes]:
    """Uncompressed 24-bit BMP decoder (BITMAPINFOHEADER).

    Handles bottom-up (positive height) and top-down (negative height)
    row order, per-row 4-byte stride padding, and the on-disk BGR sample
    order.  Returns (width, height, 3, pixels) with pixels re-laid-out in
    logical top-down RGB order."""
    if data[:2] != b"BM":
        raise ValueError(f"not a BMP: magic={data[:2]!r}")
    if len(data) < 54:
        raise ValueError("truncated BMP header")
    data_offset = struct.unpack_from("<I", data, 10)[0]
    hdr_size, w, h_signed = struct.unpack_from("<Iii", data, 14)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    compression = struct.unpack_from("<I", data, 30)[0]
    if hdr_size < 40 or planes != 1:
        raise ValueError(f"unsupported BMP header (size={hdr_size})")
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP is vendored (bpp={bpp}, "
            f"compression={compression}); other depths need PIL"
        )
    # width is a SIGNED i32 in the header but has no negative meaning
    # (unlike height, where sign encodes row order) — a hostile header
    # with w<0 and h=0 would otherwise "decode" to a malformed success
    # (negative width, empty raster) and bypass callers' error paths
    # (r11 seeded-fuzz finding, tests/test_codecs.py)
    if w < 0:
        raise ValueError(f"negative BMP width {w}")
    top_down = h_signed < 0
    h = -h_signed if top_down else h_signed
    stride = ((w * 3 + 3) // 4) * 4
    if len(data) < data_offset + h * stride:
        raise ValueError("BMP raster truncated")
    out = bytearray(w * h * 3)
    for y in range(h):
        src_row = y if top_down else h - 1 - y
        base = data_offset + src_row * stride
        row = data[base : base + w * 3]
        dst = y * w * 3
        end = dst + w * 3
        # BGR on disk -> RGB logical
        out[dst + 0 : end : 3] = row[2::3]
        out[dst + 1 : end : 3] = row[1::3]
        out[dst + 2 : end : 3] = row[0::3]
    return w, h, 3, bytes(out)


def _decode_image_real(data: bytes) -> tuple[int, int, int, bytes]:
    """Sniff + decode a raster payload with the vendored pure-Python
    codecs.  Raises NotImplementedError only for formats that genuinely
    need a codec library (JPEG/PNG/...)."""
    magic = bytes(data[:2])
    if magic in (b"P6", b"P5"):
        return _decode_ppm(data)
    if magic == b"BM":
        return _decode_bmp(data)
    raise NotImplementedError(
        f"no pure-Python decoder for payload magic {magic!r}; "
        f"{'/'.join(_CODEC_FORMATS)} require PIL (not installed)"
    )


# Synthetic-image geometry shared by the encoders, the Spark ops, and the
# DuckDB oracles: dims/seed are pure functions of the source byte length L,
# pixel i (logical top-down RGB order) is (seed + i) % 256.  Width spans
# 40..339 so the 224-box resize sees BOTH the no-op and the shrink branch.
def _synth_dims(L: int) -> tuple[int, int, int]:
    return 40 + (L * 3) % 300, 30 + (L * 11) % 300, L % 256


def _encode_ppm_synth(text_bytes: bytes) -> bytes:
    """Deterministic P6 payload from a document's bytes (fixture synth —
    at scale real PPM shards arrive from object storage instead).  A '#'
    comment is planted in the header so the decoder's comment-skip path
    executes on every payload."""
    w, h, seed = _synth_dims(len(text_bytes))
    n = w * h * 3
    reps = bytes(range(256)) * ((seed + n) // 256 + 2)
    pixels = reps[seed : seed + n]
    return b"P6\n# synthetic fixture image\n%d %d\n255\n" % (w, h) + pixels


def _encode_bmp_synth(text_bytes: bytes) -> bytes:
    """Deterministic bottom-up 24-bit BMP from a document's bytes; logical
    pixel i is (seed + i) % 256, written in BGR bottom-up padded rows so
    the decoder must undo all three layout transforms."""
    w, h, seed = _synth_dims(len(text_bytes))
    stride = ((w * 3 + 3) // 4) * 4
    pad = b"\x00" * (stride - w * 3)
    ramp = bytes(range(256)) * ((seed + w * h * 3) // 256 + 2)
    rows = []
    for y in range(h - 1, -1, -1):  # bottom-up on disk
        base = seed + y * w * 3
        logical = ramp[base : base + w * 3]  # RGB triplets for this row
        row = bytearray(w * 3)
        row[0::3] = logical[2::3]  # B
        row[1::3] = logical[1::3]  # G
        row[2::3] = logical[0::3]  # R
        rows.append(bytes(row) + pad)
    pixdata = b"".join(rows)
    header = b"BM" + struct.pack("<IHHI", 54 + len(pixdata), 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixdata), 2835, 2835, 0, 0
    )
    return header + info + pixdata


def _decode_image_fake(data: bytes) -> tuple[int, int, int]:
    """Deterministic fake decode: metadata derived from the payload bytes
    (stable across engines/runs so the op stays hash-checkable)."""
    n = len(data)
    return 64 + n % 577, 64 + (n * 31) % 577, 3


def _nullable_long(values: list) -> pd.Series:
    """A pandas column that Arrow converts to a NULLABLE long: object dtype
    keeps Python ints and Nones intact (a float64 coercion would NaN the
    Nones and then fail the long cast).  NULL payloads are routine at
    100 TB — every mm_* op propagates payload NULL -> metadata NULL,
    matching the oracles' SQL NULL arithmetic."""
    return pd.Series(values, dtype="object")


# Output-batch byte bound for payload-emitting UDFs.  Spark bounds the
# JVM->Python INPUT batches by bytes (spark.sql.execution.arrow.
# maxBytesPerBatch, 64 MB default) but Python->JVM OUTPUT batches only by
# records — a UDF that turns a 300-byte text row into a ~100 KB raster
# payload amplifies a modest input batch into a multi-hundred-MB Arrow
# output buffer, and 32 concurrent tasks then exhaust the JVM's direct
# memory (found at 10x raster volume, SCALE.md "Raster decode tier": netty
# OutOfDirectMemoryError at 8 GB).  Every binary-emitting UDF below
# yields through _bounded_slices so no single output batch exceeds this,
# independent of cluster conf.  Sizing: netty's pooled allocator holds
# several buffers per in-flight task (input batch being written, output
# batch being read, arena slack), so the working set is ~3-4x bound x
# concurrent tasks — 32 MB keeps 32 tasks inside the 8 GB direct-memory
# cap with headroom (64 MB was measured to brush the cap at 10x volume;
# the probe's error log shows the allocator full at 8.59/8.59 GB).
_MAX_OUT_BATCH_BYTES = 32 << 20


_ENC_CHUNK_ROWS = 256  # ~28 MB of synth payload at the fixture's mean size


def _encode_frames(pdf: pd.DataFrame, encoder):
    """Payload-amplifying encode, memory-bounded END TO END: build the
    payload column in small row chunks (never the whole input batch — a
    64 MB text batch is ~10k rows, whose payloads would be ~1 GB of
    Python bytes PER WORKER before any Arrow slicing; 32 workers of that
    was the measured 4.5x per-byte throughput collapse at 100x raster
    volume), then hand each chunk to _bounded_slices for the Arrow-batch
    byte cap."""
    for s in range(0, len(pdf), _ENC_CHUNK_ROWS):
        sub = pdf.iloc[s : s + _ENC_CHUNK_ROWS]
        out = pd.DataFrame(
            {
                "doc_id": sub["doc_id"],
                "img_data": [
                    encoder(t.encode("utf-8")) if t is not None else None
                    for t in sub["text"]
                ],
            }
        )
        yield from _bounded_slices(out, "img_data")


def _bounded_slices(pdf: pd.DataFrame, payload_col: str):
    """Yield row-slices of ``pdf`` whose cumulative ``payload_col`` bytes
    stay under _MAX_OUT_BATCH_BYTES (always >=1 row per slice), so the
    Arrow output batch size is bounded by construction."""
    start, acc = 0, 0
    payloads = pdf[payload_col]
    for i in range(len(pdf)):
        v = payloads.iloc[i]
        sz = len(v) if v is not None else 0
        if acc + sz > _MAX_OUT_BATCH_BYTES and i > start:
            yield pdf.iloc[start:i]
            start, acc = i, 0
        acc += sz
    if len(pdf) > start:
        yield pdf.iloc[start:]


@register(
    "mm_image_meta",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS byte_len,
           64 + octet_length(encode(text)) % 577 AS width,
           64 + (octet_length(encode(text)) * 31) % 577 AS height,
           CASE WHEN text IS NULL THEN NULL ELSE 3 END AS channels
    FROM documents
    """,
)
def mm_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary image column → decoded metadata via mapInPandas.

    The binary column here is raw utf-8 payload of text — standing in for
    a codec-library format (JPEG/PNG) the container cannot decode — so
    this op keeps the deterministic FAKE decode tier; the REAL pure-Python
    decode tier lives in mm_image_resize (PPM) / mm_image_features (BMP).
    The oracle recomputes the same metadata arithmetically — proving the
    Arrow round-trip preserved every byte."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("img_data")
    )

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        decode = _decode_image_fake  # payload is not PPM/BMP (see docstring)
        for pdf in batches:
            meta = [
                decode(bytes(b)) if b is not None else (None, None, None)
                for b in pdf["img_data"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": _nullable_long(
                        [len(bytes(b)) if b is not None else None
                         for b in pdf["img_data"]]
                    ),
                    "width": _nullable_long([m[0] for m in meta]),
                    "height": _nullable_long([m[1] for m in meta]),
                    "channels": _nullable_long([m[2] for m in meta]),
                }
            )

    return d.mapInPandas(
        decode_batches,
        schema="doc_id long, byte_len long, width long, height long, channels long",
    )


@register(
    "mm_binary_sink_roundtrip",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS byte_len,
           sha256(text) AS payload_sha,
           lang
    FROM documents
    """,
)
def mm_binary_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL parquet ``binary`` column through sink + scan (r01 VERDICT
    item 5): write (payload, metadata) rows, read them back, recompute the
    payload's sha256 from the STORED BYTES — a single flipped bit anywhere
    in the write→read path fails the hash against the oracle's sha256 of
    the source text.

    The 100 TB claim this hardens: the payload lives in parquet alongside
    its metadata, so metadata-only queries prune the (huge) binary column
    at the reader — tests/test_plans.py asserts the pruned ReadSchema on
    this exact layout.  byte_len is recomputed from the stored payload too
    (octet_length), not copied through, for the same end-to-end reason."""
    from .scans import _sink_path

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload"), "lang"
    )
    out = _sink_path(spark, "mm_binary")
    d.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return back.select(
        "doc_id",
        F.length("payload").alias("byte_len"),
        F.sha2("payload", 256).alias("payload_sha"),
        "lang",
    )


def mm_binary_metadata_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pruned-read companion of mm_binary_sink_roundtrip: same parquet
    layout, metadata-only projection — the scan must NOT read the payload
    column (ReadSchema plan-asserted in tests/test_plans.py).  Not
    registered: identical result surface to a trivial projection; its value
    is the plan shape."""
    from .scans import _sink_path

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload"), "lang"
    )
    out = _sink_path(spark, "mm_binary")
    d.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return back.select("doc_id", "lang")


_RESIZE_BOX = 224  # target fit-box for mm_image_resize (ImageNet-ish)


# Closed-form SQL for sum_{i=0}^{n-1} (seed + i) % 256: any 256
# consecutive ramp values sum to 32640; the sub-cycle remainder is a
# <256-element unnest.  Shared by the resize (PPM) and features (BMP)
# oracles — the arithmetic twin of the REAL pixel sums the decoders emit.
_PIXSUM_SQL = (
    "CAST((n // 256) * 32640 + COALESCE(list_sum(list_transform("
    "range(n % 256), j -> (a + j) % 256)), 0) AS BIGINT)"
)
_SYNTH_DIMS_SQL = """
        SELECT doc_id,
               40 + (octet_length(encode(text)) * 3) % 300 AS w,
               30 + (octet_length(encode(text)) * 11) % 300 AS h,
               octet_length(encode(text)) % 256 AS a
        FROM documents WHERE text IS NOT NULL
"""


@register(
    "mm_image_resize",
    oracle=f"""
    WITH d AS ({_SYNTH_DIMS_SQL}),
    s AS (SELECT doc_id, w, h, a, w * h * 3 AS n FROM d)
    SELECT doc_id, w AS src_width, h AS src_height,
           CASE WHEN greatest(w, h) <= {_RESIZE_BOX} THEN w
                ELSE CAST(w * {_RESIZE_BOX} // greatest(w, h) AS BIGINT) END
             AS out_width,
           CASE WHEN greatest(w, h) <= {_RESIZE_BOX} THEN h
                ELSE CAST(h * {_RESIZE_BOX} // greatest(w, h) AS BIGINT) END
             AS out_height,
           {_PIXSUM_SQL} AS pixel_sum
    FROM s
    UNION ALL
    SELECT doc_id, NULL, NULL, NULL, NULL, NULL
    FROM documents WHERE text IS NULL
    """,
)
def mm_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL bytes→pixels resize pipeline over a binary PPM column
    (r06 VERDICT item 2 — the decode tier is no longer a stub).

    Stage 1 synthesizes a deterministic P6 payload per document (at scale
    real shards arrive from object storage; the synth stands in for the
    fixture's lack of image files).  Stage 2 — the op under test — runs
    the vendored pure-Python PPM decoder on the raw bytes (header grammar
    with comments, raster plane), computes the aspect-preserving fit into
    a 224x224 box with pure integer arithmetic (``w * 224 // max(w, h)``,
    exact in both engines), and emits the REAL decoded pixel sum.  The
    oracle recomputes dims and pixel sum in closed form from the source
    byte length — a mis-parsed width, a truncated raster, or an off-by-one
    in the comment skip fails the value hash.  Dims span 40..339 so both
    fit-box branches execute.  Scale: mapInPandas, one Arrow batch per
    core, payloads never on the driver."""
    # spread: the single-split fixture scan would serialize the whole
    # Python decode pipeline on one core (r11, guide §2.4/§4)
    d = spread(load(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")

    def encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield from _encode_frames(pdf, _encode_ppm_synth)

    imgs = d.mapInPandas(encode_batches, schema="doc_id long, img_data binary")

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "src_width": [], "src_height": [],
                    "out_width": [], "out_height": [], "pixel_sum": []}
            for doc_id, raw in zip(pdf["doc_id"], pdf["img_data"]):
                if raw is None:
                    w = h = ow = oh = psum = None
                else:
                    w, h, _ch, pixels = _decode_image_real(bytes(raw))
                    psum = sum(pixels)
                    mx = max(w, h)
                    if mx <= _RESIZE_BOX:
                        ow, oh = w, h
                    else:
                        ow, oh = w * _RESIZE_BOX // mx, h * _RESIZE_BOX // mx
                rows["doc_id"].append(doc_id)
                rows["src_width"].append(w)
                rows["src_height"].append(h)
                rows["out_width"].append(ow)
                rows["out_height"].append(oh)
                rows["pixel_sum"].append(psum)
            yield pd.DataFrame(
                {k: (_nullable_long(v) if k != "doc_id" else v)
                 for k, v in rows.items()}
            )

    return imgs.mapInPandas(
        resize_batches,
        schema="doc_id long, src_width long, src_height long, "
        "out_width long, out_height long, pixel_sum long",
    )


@register(
    "mm_image_features",
    oracle=f"""
    WITH d AS ({_SYNTH_DIMS_SQL}),
    s AS (SELECT doc_id, w, h, a, w * h * 3 AS n,
                 ((w * 3 + 3) // 4) * 4 AS stride
          FROM d)
    SELECT doc_id,
           54 + h * stride AS byte_len,
           {_PIXSUM_SQL} AS f0,
           a AS f1,
           (a + n - 1) % 256 AS f2,
           CASE WHEN a + n >= 256 THEN 255 ELSE a + n - 1 END AS f3
    FROM s
    UNION ALL
    SELECT doc_id, NULL, NULL, NULL, NULL, NULL
    FROM documents WHERE text IS NULL
    """,
)
def mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL bytes→pixels feature extraction over a binary BMP column
    (r06 VERDICT item 2).  Stage 1 synthesizes an uncompressed 24-bit BMP
    per document — bottom-up BGR rows with 4-byte stride padding, the
    layout every real .bmp on disk uses.  Stage 2 — the op under test —
    runs the vendored pure-Python BMP decoder (header parse, row-order
    flip, padding strip, BGR→RGB swap) and derives a 4-long feature
    vector from the DECODED pixels: f0 = pixel sum, f1 = first pixel,
    f2 = last pixel, f3 = max pixel.  The oracle recomputes each in
    closed form from the source byte length, and byte_len pins the full
    on-disk size (54-byte headers + h*stride raster) — any layout
    mis-handle fails the value hash.  The batch shape (binary in,
    fixed-width vector out) is the real embedding-worker contract; swap
    the feature lambda for a model call when weights exist."""
    # spread: the single-split fixture scan would serialize the whole
    # Python decode pipeline on one core (r11, guide §2.4/§4)
    d = spread(load(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")

    def encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield from _encode_frames(pdf, _encode_bmp_synth)

    imgs = d.mapInPandas(encode_batches, schema="doc_id long, img_data binary")

    def feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "byte_len": [], "f0": [], "f1": [],
                    "f2": [], "f3": []}
            for doc_id, raw in zip(pdf["doc_id"], pdf["img_data"]):
                if raw is None:
                    blen = f0 = f1 = f2 = f3 = None
                else:
                    data = bytes(raw)
                    _w, _h, _ch, pixels = _decode_image_real(data)
                    blen = len(data)
                    f0, f1, f2, f3 = (
                        sum(pixels), pixels[0], pixels[-1], max(pixels),
                    )
                rows["doc_id"].append(doc_id)
                rows["byte_len"].append(blen)
                rows["f0"].append(f0)
                rows["f1"].append(f1)
                rows["f2"].append(f2)
                rows["f3"].append(f3)
            yield pd.DataFrame(
                {k: (_nullable_long(v) if k != "doc_id" else v)
                 for k, v in rows.items()}
            )

    return imgs.mapInPandas(
        feature_batches,
        schema="doc_id long, byte_len long, f0 long, f1 long, f2 long, f3 long",
    )


@register(
    "mm_image_channel_stats",
    oracle=f"""
    WITH d AS ({_SYNTH_DIMS_SQL}),
    s AS (SELECT doc_id, w, h, a, w * h AS npx FROM d)
    SELECT doc_id, npx AS n_px,
           CAST((npx // 256) * 32640 + COALESCE(list_sum(list_transform(
             range(npx % 256), j -> (a + 0 + 3 * j) % 256)), 0) AS BIGINT)
             AS r_sum,
           CAST((npx // 256) * 32640 + COALESCE(list_sum(list_transform(
             range(npx % 256), j -> (a + 1 + 3 * j) % 256)), 0) AS BIGINT)
             AS g_sum,
           CAST((npx // 256) * 32640 + COALESCE(list_sum(list_transform(
             range(npx % 256), j -> (a + 2 + 3 * j) % 256)), 0) AS BIGINT)
             AS b_sum
    FROM s
    UNION ALL
    SELECT doc_id, NULL, NULL, NULL, NULL
    FROM documents WHERE text IS NULL
    """,
)
def mm_image_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel (R/G/B) pixel sums over REAL decoded BMP payloads — the
    channel-statistics pass a vision-data pipeline runs before
    normalization (mean/std per channel).  The channel split only exists
    AFTER a correct decode: the BMP rows are stored bottom-up in BGR with
    stride padding, so r_sum/g_sum/b_sum verify the decoder's layout
    transforms sample-accurately (a BGR swap or padding slip moves sums
    between channels).  The oracle recomputes each channel in closed form
    over the synthetic ramp: channel c's samples are (a + 3j + c) mod 256
    for j in [0, w*h); since gcd(3, 256) = 1 the stride-3 walk covers all
    residues, so full 256-length cycles contribute 32640 each and the
    sub-cycle remainder is a <256-element unnest.

    Scale (100 TB): identical shape to mm_image_features — Arrow-batched
    mapInPandas, payloads never on the driver; at production the channel
    sums feed a global mean/std aggregate for dataset normalization."""
    # spread: the single-split fixture scan would serialize the whole
    # Python decode pipeline on one core (r11, guide §2.4/§4)
    d = spread(load(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")

    def encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield from _encode_frames(pdf, _encode_bmp_synth)

    imgs = d.mapInPandas(encode_batches, schema="doc_id long, img_data binary")

    def stat_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "n_px": [], "r_sum": [], "g_sum": [],
                    "b_sum": []}
            for doc_id, raw in zip(pdf["doc_id"], pdf["img_data"]):
                if raw is None:
                    npx = rs = gs = bs = None
                else:
                    w, h, _ch, px = _decode_image_real(bytes(raw))
                    npx = w * h
                    rs, gs, bs = sum(px[0::3]), sum(px[1::3]), sum(px[2::3])
                rows["doc_id"].append(doc_id)
                rows["n_px"].append(npx)
                rows["r_sum"].append(rs)
                rows["g_sum"].append(gs)
                rows["b_sum"].append(bs)
            yield pd.DataFrame(
                {k: (_nullable_long(v) if k != "doc_id" else v)
                 for k, v in rows.items()}
            )

    return imgs.mapInPandas(
        stat_batches,
        schema="doc_id long, n_px long, r_sum long, g_sum long, b_sum long",
    )


_FRAME = 1024


@register(
    "mm_audio_frames",
    oracle=f"""
    WITH t AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
    f AS (SELECT doc_id, n, CAST(ceil(n / {_FRAME}.0) AS BIGINT) AS nf FROM t)
    SELECT doc_id,
           unnest(range(1, nf + 1)) AS frame_idx,
           unnest(list_transform(range(1, nf + 1),
                                 i -> least({_FRAME}, n - (i - 1) * {_FRAME})))
             AS frame_len
    FROM f
    """,
)
def mm_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sample a binary audio column: one output row per 1024-byte
    frame (frame_idx, frame_len) via mapInPandas — the 1:N batch shape of a
    real frame extractor (video keyframes, audio windows).  Decode is
    stubbed; framing arithmetic is real and hash-verified."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("audio_data")
    )

    def frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_len": []}
            for doc_id, raw in zip(pdf["doc_id"], pdf["audio_data"]):
                if raw is None:  # NULL payload -> zero frames (oracle:
                    continue     # unnest(range(1, NULL+1)) emits no rows)
                data = bytes(raw)
                for i in range(0, len(data), _FRAME):
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i // _FRAME + 1)
                    out["frame_len"].append(min(_FRAME, len(data) - i))
            yield pd.DataFrame(out)

    return d.mapInPandas(
        frame_batches, schema="doc_id long, frame_idx long, frame_len long"
    )


_KEYFRAME_STRIDE = 4


@register(
    "mm_video_keyframes",
    oracle=f"""
    WITH t AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
    f AS (SELECT doc_id, n, CAST(ceil(n / {_FRAME}.0) AS BIGINT) AS nf FROM t),
    allf AS (
        SELECT doc_id, nf, unnest(range(1, nf + 1)) AS frame_idx,
               unnest(list_transform(range(1, nf + 1),
                                     i -> least({_FRAME}, n - (i - 1) * {_FRAME})))
                 AS frame_len
        FROM f
    )
    SELECT doc_id, frame_idx, frame_len,
           (frame_idx - 1) * {_FRAME} AS byte_offset
    FROM allf
    WHERE (frame_idx - 1) % {_KEYFRAME_STRIDE} = 0 OR frame_idx = nf
    """,
)
def mm_video_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling: treat the binary payload as a fixed-size frame
    sequence and emit every {stride}-th frame plus the final frame — the
    1:K downsampling shape of a real keyframe extractor (ffmpeg
    ``select='eq(pict_type,I)'``), which is stubbed with the codecs.  The
    sampling arithmetic (stride, byte offsets, tail frame) is real and
    hash-verified; at scale this is the op that turns 100 TB of video into
    the ~3% of frames a vision model trains on."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("video_data")
    )

    def keyframe_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_len": [], "byte_offset": []}
            for doc_id, raw in zip(pdf["doc_id"], pdf["video_data"]):
                if raw is None:  # NULL payload -> zero keyframes
                    continue
                data = bytes(raw)
                nf = (len(data) + _FRAME - 1) // _FRAME
                for fi in range(1, nf + 1):
                    if (fi - 1) % _KEYFRAME_STRIDE == 0 or fi == nf:
                        off = (fi - 1) * _FRAME
                        out["doc_id"].append(doc_id)
                        out["frame_idx"].append(fi)
                        out["frame_len"].append(min(_FRAME, len(data) - off))
                        out["byte_offset"].append(off)
            yield pd.DataFrame(out)

    return d.mapInPandas(
        keyframe_batches,
        schema="doc_id long, frame_idx long, frame_len long, byte_offset long",
    )


@register(
    "scan_binary_files",
    oracle="""
    SELECT 'doc_' || doc_id || '.bin' AS filename,
           octet_length(encode(text)) AS byte_len,
           sha256(text) AS content_sha
    FROM documents
    WHERE doc_id < 20 AND text IS NOT NULL
      -- binaryFile SKIPS zero-byte files (no splits to plan — probed,
      -- hostile-strings sweep): an empty document's .bin never surfaces
      AND octet_length(encode(text)) > 0
    """,
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-file ingest via Spark's ``binaryFile`` source — the front door
    of every multimodal pipeline: a directory of opaque files becomes a
    DataFrame of (path, modificationTime, length, content) WITHOUT any
    per-format code, and the binary column then flows into the
    mapInPandas decode stages (mm_image_meta etc.).

    Fixture prep writes 20 .bin files (utf-8 bytes of the first 20
    documents — bounded, deterministic, driver-side by necessity: Spark
    has no binary-file WRITER, which is exactly why the reader matters).
    Zero-byte files are SKIPPED by the binaryFile source (no splits to
    plan — probed); the oracle excludes empty-text docs to match, and a
    pipeline that must not lose empty markers should ship them as
    metadata rows, not payload files;
    the op under test is the distributed binaryFile SCAN, whose content
    bytes are re-hashed and checked against the oracle's sha256 of the
    source text — any corruption in the file write/read path fails the
    value hash.

    Scale: binaryFile scans parallelize per file (and honor
    maxPartitionBytes for large files); at 100 TB this is the pattern for
    slurping image/audio shards off object storage before decode."""
    import hashlib as _hashlib
    import os as _os

    from .scans import _sink_path

    # Staging keyed by the SOURCE fixture (path + mtime + size, like the
    # bucketed-join prep in joins.py) — a per-application key alone goes
    # stale when one session runs the op against several fixtures (real
    # sf, then the degenerate/empty/single regimes) and the second call
    # would read the first fixture's files.
    doc_path = _os.path.join(sf_dir, "documents.parquet")
    st = _os.stat(doc_path)
    tag = _hashlib.sha256(
        f"{_os.path.abspath(doc_path)}|{st.st_mtime_ns}|{st.st_size}".encode()
    ).hexdigest()[:12]
    src = _sink_path(spark, f"binfiles_{tag}")
    if not _os.path.isdir(src):
        # Atomic publish: stage into a tmp dir and rename — a crashed prep
        # must not leave a half-written dir that the isdir() check would
        # treat as complete on the next call.
        stage = f"{src}.tmp.{_os.getpid()}"
        _os.makedirs(stage, exist_ok=True)
        rows = (
            load(spark, sf_dir, "documents")
            # a filesystem cannot hold a NULL file: NULL-text docs have no
            # .bin to scan (oracle filters the same rows)
            .filter((F.col("doc_id") < 20) & F.col("text").isNotNull())
            .select("doc_id", "text")
            .collect()  # bounded: 20 fixture rows, prep only
        )
        for r in rows:
            with open(_os.path.join(stage, f"doc_{r.doc_id}.bin"), "wb") as f:
                f.write(r.text.encode("utf-8"))
        try:
            _os.rename(stage, src)
        except OSError:  # concurrent prep won the rename — use theirs
            import shutil as _shutil

            _shutil.rmtree(stage, ignore_errors=True)
            # r6 ADVICE: only a concurrent winner justifies swallowing the
            # OSError — if src still doesn't exist the rename failed for a
            # real reason (EXDEV, permissions) and the binaryFile read
            # below would die with an unrelated path-not-found; re-raise.
            if not _os.path.isdir(src):
                raise

    files = spark.read.format("binaryFile").load(src)
    return files.select(
        F.element_at(F.split("path", "/"), -1).alias("filename"),
        F.col("length").alias("byte_len"),
        F.sha2("content", 256).alias("content_sha"),
    )


_PHASH_ORACLE = """
WITH d AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         greatest(octet_length(encode(text)), 1) AS n,
         octet_length(encode(text)) AS rawn
  FROM documents WHERE text IS NOT NULL
),
bytes AS (
  SELECT doc_id, unnest(range(n)) AS j, n, rawn, hx FROM d
),
byteval AS (  -- empty text hashes one zero byte, mirroring np.zeros(1)
  SELECT doc_id, j, n,
         CASE WHEN rawn = 0 THEN 0
              ELSE ('0x' || substr(hx, CAST(j * 2 + 1 AS INT), 2))::INT
         END AS v
  FROM bytes
),
blk AS (  -- np.array_split(arr, 64): first (n % 64) blocks get n//64 + 1
  SELECT doc_id,
         CASE WHEN j < (n % 64) * (n // 64 + 1)
              THEN j // (n // 64 + 1)
              ELSE (n % 64) + (j - (n % 64) * (n // 64 + 1)) // (n // 64)
         END AS b, v
  FROM byteval
),
means AS (  -- all 64 blocks, empty ones at mean 0.0 (b.mean() if b.size)
  SELECT ids.doc_id, g.b, COALESCE(AVG(CAST(blk.v AS DOUBLE)), 0.0) AS m
  FROM (SELECT DISTINCT doc_id FROM d) ids
  CROSS JOIN range(64) g(b)
  LEFT JOIN blk ON blk.doc_id = ids.doc_id AND blk.b = g.b
  GROUP BY ids.doc_id, g.b
),
med AS (SELECT doc_id, median(m) AS md FROM means GROUP BY doc_id),
hash_u AS (  -- unsigned 64-bit hash in HUGEINT; block 0 is the MSB
  SELECT means.doc_id,
         SUM(CASE WHEN m > md THEN CAST(1 AS HUGEINT) << CAST(63 - b AS INT)
                  ELSE 0 END) AS uh
  FROM means JOIN med USING (doc_id)
  GROUP BY means.doc_id
),
hashes AS (
  SELECT doc_id, uh,
         CAST(CASE WHEN uh >= CAST(1 AS HUGEINT) << 63
                   THEN uh - (CAST(1 AS HUGEINT) << 64)
                   ELSE uh END AS BIGINT) AS phash
  FROM hash_u
),
bands AS (
  SELECT doc_id, phash, t.i AS band,
         CAST((uh >> CAST(16 * t.i AS INT)) & 65535 AS BIGINT) AS val
  FROM hashes CROSS JOIN range(4) t(i)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.phash AS h_a, b.phash AS h_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(h_a, h_b)) AS INT) AS hamming
FROM pairs WHERE bit_count(xor(h_a, h_b)) <= 3
"""


@register(
    "mm_phash_dedup",
    # promoted rows-only -> hash (r8, fourth promotion this round): the
    # block-mean phash over the deterministic payload bytes is EXACT
    # arithmetic end to end (integer byte sums -> one float64 division
    # per block mean -> median of 64 doubles -> strict > threshold), so
    # the oracle recomputes the full 64-bit hash from hex-extracted
    # bytes, replicates np.array_split's block boundaries, and runs the
    # same 4x16 banding + hamming<=3 verify.  Verified bit-identical on
    # all 500 sf0.01 hashes before registration.
    oracle=_PHASH_ORACLE,
)
def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection for image payloads: a
    64-bit block-mean pHash per payload (computed in an Arrow-batched
    mapInPandas, like every decode in this module — deterministic fake
    'pixels' from the bytes, real PIL decode slots into the same
    signature), then the SAME banding trick as dedup_near_simhash: split
    the 64 bits into 4×16-bit bands — two hashes within Hamming
    distance 3 MUST agree on ≥1 band (pigeonhole), so candidate pairs
    come from an EQUI self-join on (band, value), never an all-pairs
    Hamming scan — and verify candidates exactly with bit_count(XOR).

    Property contract (tests/test_property.py): byte-identical payloads
    hash identically, so every exact-duplicate pair must surface with
    hamming 0.

    Scale (100 TB): per-payload hashing is embarrassingly parallel; the
    shuffle carries (band, 16-bit value, doc_id) triples — never
    payloads; bucket sizes bound the join fan-out exactly as in the
    simhash op.  Output is the verified near-dup pair list."""
    import numpy as np

    # spread: single-split fixture scan would serialize the Python
    # hashing stage on one core (r11, guide §2.4/§4)
    d = spread(load(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )

    def phash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, out_hashes = [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:  # NULL payload: nothing to hash, and a
                    continue         # missing image cannot be a near-dup
                arr = np.frombuffer(bytes(payload), dtype=np.uint8).astype(
                    np.float64
                )
                if arr.size == 0:
                    arr = np.zeros(1)
                # 64 block means (the fake 8x8 'image'); real decode would
                # produce the same 64-value vector from downsampled pixels
                blocks = np.array_split(arr, 64)
                means = np.array([b.mean() if b.size else 0.0 for b in blocks])
                bits = means > np.median(means)
                h = 0
                for b in bits:
                    h = (h << 1) | int(b)
                out_ids.append(int(doc_id))
                out_hashes.append(h - (1 << 64) if h >= (1 << 63) else h)
            yield pd.DataFrame({"doc_id": out_ids, "phash": out_hashes})

    hashed = d.mapInPandas(phash, schema="doc_id long, phash long")
    bands = hashed.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftrightunsigned("phash", i * 16)
                    .bitwiseAND(F.lit(0xFFFF))
                    .alias("val"),
                )
                for i in range(4)
            ])
        ).alias("b"),
    ).select("doc_id", "phash", F.col("b.band").alias("band"), F.col("b.val").alias("val"))
    left = bands.select(
        F.col("band"), F.col("val"),
        F.col("doc_id").alias("id_a"), F.col("phash").alias("h_a"),
    )
    right = bands.select(
        F.col("band"), F.col("val"),
        F.col("doc_id").alias("id_b"), F.col("phash").alias("h_b"),
    )
    pairs = (
        left.join(right, ["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b")
        .distinct()
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).alias("hamming"),
    ).filter(F.col("hamming") <= 3)


@register(
    "mm_exif_strip",
    oracle="""
    WITH tagged AS (
      SELECT doc_id,
             'EXIF0|GPS:' || CAST(doc_id * 7 % 180 AS VARCHAR)
               || ',' || CAST(doc_id * 13 % 90 AS VARCHAR)
               || '|CAM:unit' || CAST(doc_id % 17 AS VARCHAR)
               || '|END|' AS meta_block,
             text
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN text IS NULL THEN NULL
                ELSE CAST(length(meta_block) AS BIGINT) END AS bytes_removed,
           sha256(text) AS clean_sha,
           CAST(octet_length(encode(text)) AS BIGINT) AS clean_len
    FROM tagged
    """,
)
def mm_exif_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII metadata stripping on a binary media column: each payload is
    synthesized with a leading EXIF-like block (GPS coordinates,
    camera id — exactly the fields privacy review requires removed
    before media enters a training corpus) terminated by '|END|'; an
    Arrow mapInPandas pass locates the marker IN THE BYTES and
    re-emits the payload without the block, reporting bytes removed
    and the sha256 of the cleaned payload — which the oracle predicts
    arithmetically, proving the byte surgery was exact (the mm
    counterpart of pii_text_scrub; ASCII metadata + multi-byte utf-8
    text payloads both round-trip).

    Scale (100 TB): the strip runs in Arrow batches next to the scan
    — payloads never visit the driver and never shuffle; only the
    (doc_id, digest, counts) report leaves the executors."""
    d = load(spark, sf_dir, "documents")
    meta_block = F.concat(
        F.lit("EXIF0|GPS:"),
        (F.col("doc_id") * 7 % 180).cast("string"),
        F.lit(","),
        (F.col("doc_id") * 13 % 90).cast("string"),
        F.lit("|CAM:unit"),
        (F.col("doc_id") % 17).cast("string"),
        F.lit("|END|"),
    )
    tagged = d.select(
        "doc_id",
        F.encode(F.concat(meta_block, F.col("text")), "utf-8").alias(
            "payload"
        ),
    )

    def strip_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        marker = b"|END|"
        for pdf in batches:
            removed, cleaned = [], []
            for b in pdf["payload"]:
                if b is None:  # NULL text -> NULL payload (concat
                    removed.append(None)  # propagates) -> NULL report
                    cleaned.append(None)
                    continue
                raw = bytes(b)
                cut = raw.find(marker)
                if cut >= 0:
                    removed.append(cut + len(marker))
                    cleaned.append(raw[cut + len(marker):])
                else:
                    removed.append(0)
                    cleaned.append(raw)
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "bytes_removed": _nullable_long(removed),
                    "clean_payload": pd.Series(cleaned, dtype="object"),
                }
            )
            yield from _bounded_slices(out, "clean_payload")

    stripped = tagged.mapInPandas(
        strip_batches,
        schema="doc_id long, bytes_removed long, clean_payload binary",
    )
    return stripped.select(
        "doc_id",
        "bytes_removed",
        F.sha2("clean_payload", 256).alias("clean_sha"),
        F.length("clean_payload").cast("long").alias("clean_len"),
    )
