"""Multimodal column handling (SURVEY §2.L).

Contract: image/audio/video payloads are opaque BinaryType columns with a
typed metadata struct; decode / feature-extraction / resize / frame-sample
run as Arrow-batched pandas functions over mapInPandas.

Round 4: the decode tier is split honestly in two —

- RAW buffers (``image/x-raw-rgb888``) decode FOR REAL: numpy frombuffer
  → (n_pixels, 3) uint8, feeding real vectorized channel statistics
  (j27, HASH-checked against a byte-level SQL oracle) and a real
  nearest-neighbor resize kernel. Raw RGB is an actual wire format
  (ffmpeg's rawvideo), so none of this is a simulation.
- PNG decodes FOR REAL too (round 5): stdlib zlib + numpy scanline
  filter reconstruction in operators/png.py — no codec library needed.
  j32 HASH-checks it: PNGs staged from the same deterministic pixels as
  j27 must produce byte-identical channel statistics.
- Baseline JPEG decodes FOR REAL as of round 7: operators/jpeg.py is a
  pure stdlib+numpy T.81 baseline codec (Huffman entropy decode, dequant,
  zigzag, matrix IDCT, JFIF color transform). j33 HASH-checks it via
  block-constant staged images, which survive quant=1 JPEG exactly.
- AUDIO decodes FOR REAL as of round 7: operators/wav.py parses
  RIFF/WAVE integer-PCM containers with stdlib struct; j35 HASH-checks
  the decode->feature loop (PCM is lossless, so no staging construction
  is needed for exactness).
- VIDEO decodes FOR REAL as of round 7: operators/avi.py parses
  uncompressed BI_RGB AVI containers (ffmpeg's rawvideo output) with the
  DIB quirks implemented faithfully (bottom-up rows, BGR order, 4-byte
  stride); j36 HASH-checks frame-sampled statistics against byte-level
  ground truth.
- Remaining codecs (WebP, compressed audio/video: H.264, AAC, ...) stay
  STUBBED with a clearly-marked NotImplementedError: a real deployment
  plugs Pillow/ffmpeg into the same decode dispatch.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from scopus_spark.execution import spread

RAW_MIME = "image/x-raw-rgb888"
PNG_MIME = "image/png"
JPEG_MIME = "image/jpeg"

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = (
    "media_id long, byte_len long, first_byte int, last_byte int, "
    "payload_sha string"
)


def attach_payload(docs: DataFrame) -> DataFrame:
    """documents -> media table shape: utf-8 bytes stand in for real blobs.
    The media frame is spread to one task per core (execution.spread)
    before any Python stage runs over it; every attach_* below builds on
    this function or attach_raw_rgb, so each applies the rule once."""
    docs = spread(docs)
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.lit(0).alias("width"),
            F.lit(0).alias("height"),
        ).alias("meta"),
    )


def decode_image(payload: bytes):  # pragma: no cover - stub by design
    """STUB for the remaining codecs needing external libraries (WebP,
    audio/video): real deployments plug Pillow/ffmpeg here. PNG decodes
    for real in operators/png.py (round 5) and baseline JPEG in
    operators/jpeg.py (round 7) — neither routes here anymore."""
    raise NotImplementedError(
        "WebP/audio/video decode requires codec libraries not present in "
        "this container; plug a decoder into decode_pixels()'s dispatch "
        "(raw RGB888, PNG, and baseline JPEG decode natively — see "
        "operators/png.py and operators/jpeg.py)"
    )


def attach_raw_rgb(docs: DataFrame) -> DataFrame:
    """documents -> media table whose payloads are RAW RGB888 pixel
    buffers (the text's utf-8 bytes read as packed [r,g,b] triples; the
    trailing 0-2 bytes that don't complete a triple are ignored by the
    decoder, mirroring rawvideo's frame-size truncation). Single-row
    images: width = floor(bytes/3), height = 1. Spread like
    attach_payload."""
    docs = spread(docs)
    payload = F.col("text").cast("binary")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        payload.alias("payload"),
        F.struct(
            F.lit(RAW_MIME).alias("mime"),
            F.floor(F.length(payload) / 3).cast("int").alias("width"),
            F.lit(1).alias("height"),
        ).alias("meta"),
    )


def decode_pixels(payload: bytes, mime: str) -> np.ndarray:
    """REAL decode -> (n_pixels, 3) uint8 array for raw RGB888 buffers and
    PNG (operators/png.py, zero dependencies); the remaining compressed
    codecs dispatch to the documented stub."""
    if mime == RAW_MIME:
        raw = bytes(payload) if payload is not None else b""
        n = (len(raw) // 3) * 3
        return np.frombuffer(raw[:n], dtype=np.uint8).reshape(-1, 3)
    if mime == PNG_MIME:
        from scopus_spark.operators.png import decode_png

        return decode_png(payload)
    if mime == JPEG_MIME:
        from scopus_spark.operators.jpeg import decode_jpeg

        px = decode_jpeg(payload)
        if px.ndim == 2:  # grayscale -> replicate to RGB
            px = np.repeat(px.reshape(-1, 1), 3, axis=1)
        return px.reshape(-1, 3)
    return decode_image(payload)


def _png_dims(n_pixels: int) -> tuple[int, int]:
    """Deterministic (width, height) for staging n_pixels into a PNG:
    the tallest height in {4,3,2,1} dividing n_pixels exactly, so every
    pixel is kept (stats stay equal to the raw ground truth) and
    multi-row images exercise the Up/Average/Paeth filter paths."""
    for h in (4, 3, 2, 1):
        if n_pixels % h == 0 and n_pixels >= h:
            return n_pixels // h, h
    return n_pixels, 1


def attach_png(docs: DataFrame) -> DataFrame:
    """documents -> media table whose payloads are REAL PNG files encoded
    from the text's utf-8 bytes read as RGB triples — the SAME pixel
    buffers attach_raw_rgb exposes, so j32's channel statistics must be
    byte-identical to j27's raw ground truth for the same rows. Encoding
    runs Arrow-batched in mapInPandas (pure map work); the staging
    encoder cycles all five PNG filter types row by row."""
    from scopus_spark.operators.png import encode_png

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            widths = np.zeros(len(pdf), dtype=np.int32)
            heights = np.zeros(len(pdf), dtype=np.int32)
            for i, payload in enumerate(pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                n = (len(raw) // 3) * 3
                px = np.frombuffer(raw[:n], dtype=np.uint8).reshape(-1, 3)
                w, h = _png_dims(px.shape[0])
                widths[i], heights[i] = w, h
                payloads.append(encode_png(px, w, h))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "width": widths,
                    "height": heights,
                }
            )

    staged = attach_raw_rgb(docs).mapInPandas(
        enc, "media_id long, payload binary, width int, height int"
    )
    return staged.select(
        "media_id",
        "payload",
        F.struct(
            F.lit(PNG_MIME).alias("mime"),
            F.col("width"),
            F.col("height"),
        ).alias("meta"),
    )


CHANNEL_STATS_SCHEMA = (
    "media_id long, n_pixels long, "
    "mean_r double, mean_g double, mean_b double, "
    "var_r double, var_g double, var_b double"
)


def image_channel_stats(media: DataFrame) -> DataFrame:
    """Per-image channel mean/variance over DECODED pixels — real
    vectorized numpy feature extraction through Arrow batches (the shape
    a CLIP-style embedding UDF has: decode -> ndarray -> per-image
    vector). Determinism contract: sums and sums-of-squares accumulate in
    int64 (exact), the population variance is the exact integer
    (n*ssq - s^2) / n^2 evaluated in ONE double division, then 6dp
    one double division each — bit-identical on any engine, NO rounding
    needed, so j27 is HASH-checkable. Callers must pre-filter images with
    zero complete pixels (payload < 3 bytes): the NaN a zero division
    would produce is not NULL on the hash surface."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": pdf["media_id"].to_numpy(),
                "n_pixels": np.zeros(len(pdf), dtype=np.int64),
            }
            cols = {}
            for c in ("r", "g", "b"):
                cols[f"mean_{c}"] = np.full(len(pdf), np.nan)
                cols[f"var_{c}"] = np.full(len(pdf), np.nan)
            for i, (payload, meta) in enumerate(zip(pdf["payload"], pdf["meta"])):
                px = decode_pixels(payload, meta["mime"]).astype(np.int64)
                n = px.shape[0]
                out["n_pixels"][i] = n
                if n == 0:
                    continue
                s = px.sum(axis=0)
                ssq = (px * px).sum(axis=0)
                for c_idx, c in enumerate(("r", "g", "b")):
                    # exact int64 numerators, ONE double division each
                    sc, qc = int(s[c_idx]), int(ssq[c_idx])
                    cols[f"mean_{c}"][i] = sc / n
                    cols[f"var_{c}"][i] = (n * qc - sc * sc) / (n * n)
            yield pd.DataFrame({**out, **cols})

    return media.mapInPandas(stats, CHANNEL_STATS_SCHEMA)


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    The feature set here (lengths, boundary bytes, sha) is a deterministic
    stand-in for embedding/codec features — the mapInPandas plumbing
    (batch iteration, binary columns through Arrow, schema contract) is
    exactly what a real decoder uses.
    """
    import hashlib

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "byte_len": payloads.map(len),
                    "first_byte": payloads.map(lambda b: b[0] if len(b) else -1),
                    "last_byte": payloads.map(lambda b: b[-1] if len(b) else -1),
                    "payload_sha": payloads.map(
                        lambda b: hashlib.sha256(b).hexdigest()
                    ),
                }
            )

    return media.mapInPandas(feats, FEATURE_SCHEMA)


def sample_frames(media: DataFrame, every_n_bytes: int = 64) -> DataFrame:
    """'Frame sampling' stand-in: one row per byte-offset sample — the same
    explode-shaped plumbing as video frame extraction (media_id, frame_no,
    frame payload slice)."""
    n_frames = F.greatest(
        (F.length("payload") / every_n_bytes).cast("int"), F.lit(1)
    )
    return media.select(
        "media_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_frames - 1),
                lambda i: F.substring(
                    F.col("payload").cast("string"), i * every_n_bytes + 1, every_n_bytes
                ).cast("binary"),
            )
        ).alias("frame_no", "frame"),
    )


RESIZED_SCHEMA = "media_id long, payload binary, width int, height int"


def resize_media(media: DataFrame, width: int, height: int) -> DataFrame:
    """REAL nearest-neighbor resample to width*height samples, Arrow-
    batched: the payload is read as a 1-channel byte raster and output
    sample j takes the source byte at floor(j * n / target) — the actual
    nearest-neighbor kernel (numpy fancy-indexing, vectorized per
    payload), not a stand-in. A real deployment swaps in Pillow/ffmpeg
    for compressed inputs via the same per-batch loop; the batch shape,
    binary round-trip, and (payload, dims) contract are unchanged."""

    def rs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        target = width * height
        idx_base = np.arange(target, dtype=np.int64)

        def nn_resample(b) -> bytes:
            raw = np.frombuffer(bytes(b) if b is not None else b"", dtype=np.uint8)
            if raw.size == 0:
                return bytes(target)
            return raw[idx_base * raw.size // target].tobytes()

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": pdf["payload"].map(nn_resample),
                    "width": width,
                    "height": height,
                }
            )

    return media.mapInPandas(rs, RESIZED_SCHEMA)


def attach_jpeg(docs: DataFrame) -> DataFrame:
    """documents -> media table whose payloads are REAL baseline JFIF
    files: each byte of the text becomes one CONSTANT 8x8 grayscale block
    (image = 8 x 8n, one block row). Block-constant content survives
    quant=1 baseline JPEG exactly (only the DC coefficient is nonzero and
    its rounding is lossless — operators/jpeg.py module docstring), so
    j33's decoded statistics must be byte-identical to the raw text-byte
    ground truth; any entropy/zigzag/IDCT deviation breaks the hash.
    Encoding runs Arrow-batched in mapInPandas (pure map work). Callers
    pre-filter to 1..8191 bytes (JPEG's 16-bit width limit at 8 px per
    block)."""
    from scopus_spark.operators.jpeg import encode_jpeg

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            widths = np.zeros(len(pdf), dtype=np.int32)
            for i, payload in enumerate(pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                vals = np.frombuffer(raw, dtype=np.uint8)
                img = np.repeat(np.repeat(vals.reshape(1, -1), 8, 0), 8, 1)
                widths[i] = img.shape[1]
                payloads.append(encode_jpeg(img))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "width": widths,
                }
            )

    staged = attach_payload(docs).mapInPandas(
        enc, "media_id long, payload binary, width int"
    )
    return staged.select(
        "media_id",
        "payload",
        F.struct(
            F.lit(JPEG_MIME).alias("mime"),
            F.col("width"),
            F.lit(8).alias("height"),
        ).alias("meta"),
    )


def attach_jpeg420(docs: DataFrame) -> DataFrame:
    """documents -> media table of 4:2:0-subsampled COLOR baseline JPEGs:
    Y = the text bytes as constant 8x8 blocks (j33's layout), Cb = Cr =
    128 exactly (the staged RGB has r=g=b, and the JFIF chroma formulas
    cancel to 128 on gray input; 2x2-mean subsampling of a constant plane
    is lossless). Decoding therefore exercises the full 4:2:0 MCU
    interleave (4 Y blocks + Cb + Cr per MCU), chroma upsampling, and the
    YCbCr->RGB transform — while remaining bit-exact: zero chroma means
    R=G=B=Y, so the decoded statistics must still equal the byte-level
    ground truth. The h=8 image against 16-px-tall MCUs also pins the
    bottom-half pad-and-crop path."""
    from scopus_spark.operators.jpeg import encode_jpeg

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            widths = np.zeros(len(pdf), dtype=np.int32)
            for i, payload in enumerate(pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                vals = np.frombuffer(raw, dtype=np.uint8)
                g = np.repeat(np.repeat(vals.reshape(1, -1), 8, 0), 8, 1)
                img = np.stack([g, g, g], axis=-1)
                widths[i] = img.shape[1]
                payloads.append(encode_jpeg(img, subsampling="420"))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "width": widths,
                }
            )

    staged = attach_payload(docs).mapInPandas(
        enc, "media_id long, payload binary, width int"
    )
    return staged.select(
        "media_id",
        "payload",
        F.struct(
            F.lit(JPEG_MIME).alias("mime"),
            F.col("width"),
            F.lit(8).alias("height"),
        ).alias("meta"),
    )


BLOCK_STATS_SCHEMA = "media_id long, n_blocks long, mean_y double, var_y double"


def jpeg_block_stats(media: DataFrame) -> DataFrame:
    """Per-image grayscale statistics over DECODED 8x8 blocks, for
    block-constant staged JPEGs: every block is asserted constant (all 64
    pixels equal — a decode error anywhere in a block trips it), then the
    per-block values feed the exact integer (n*ssq - s^2) / n^2 variance
    with ONE double division, matching the oracle's byte-level formula
    operand for operand (block-level sums keep every intermediate far
    inside int64/float53 exactness; pixel-level sums at 64x the count
    would not). A non-constant block emits the loud sentinel
    n_blocks = -1 so the driver hash breaks instead of silently passing
    near-miss decodes."""
    from scopus_spark.operators.jpeg import decode_jpeg

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_out = np.zeros(len(pdf), dtype=np.int64)
            mean = np.full(len(pdf), np.nan)
            var = np.full(len(pdf), np.nan)
            for i, payload in enumerate(pdf["payload"]):
                px = decode_jpeg(payload).astype(np.int64)
                if px.ndim == 3:
                    # 4:2:0 color staging: gray input must decode with all
                    # three channels equal (zero chroma) — else loud.
                    if np.ptp(px, axis=2).max(initial=0) != 0:
                        n_out[i] = -1
                        continue
                    px = px[..., 0]
                plane = px
                h, w = plane.shape
                blocks = (
                    plane.reshape(h // 8, 8, w // 8, 8)
                    .transpose(0, 2, 1, 3)
                    .reshape(-1, 64)
                )
                if np.ptp(blocks, axis=1).max(initial=0) != 0:
                    n_out[i] = -1  # loud: decode broke block constancy
                    continue
                vals = blocks[:, 0]
                n = vals.shape[0]
                s, ssq = int(vals.sum()), int((vals * vals).sum())
                n_out[i] = n
                mean[i] = s / n
                var[i] = (n * ssq - s * s) / (n * n)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "n_blocks": n_out,
                    "mean_y": mean,
                    "var_y": var,
                }
            )

    return media.mapInPandas(stats, BLOCK_STATS_SCHEMA)


WAV_MIME = "audio/wav"

AUDIO_FEATURES_SCHEMA = (
    "media_id long, n_samples long, sample_rate long, peak_abs long, "
    "mean_amp double, rms double, zero_crossings long"
)


def attach_wav(docs: DataFrame) -> DataFrame:
    """documents -> media table whose payloads are REAL RIFF/WAVE files:
    the text's utf-8 bytes read as little-endian int16 PCM samples (pairs
    of bytes; a trailing odd byte is dropped, mirroring PCM frame
    truncation). PCM is lossless, so unlike the image tiers no staging
    construction is needed for exactness — container encode/decode must
    be byte-faithful or j35's hash breaks. Callers pre-filter to >= 2
    bytes (at least one complete sample)."""
    from scopus_spark.operators.wav import encode_wav

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for payload in pdf["payload"]:
                raw = bytes(payload) if payload is not None else b""
                n = (len(raw) // 2) * 2
                samples = np.frombuffer(raw[:n], dtype="<i2")
                payloads.append(encode_wav(samples, sample_rate=8000))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    staged = attach_payload(docs).mapInPandas(
        enc, "media_id long, payload binary"
    )
    return staged.select(
        "media_id",
        "payload",
        F.struct(
            F.lit(WAV_MIME).alias("mime"),
            F.lit(0).alias("width"),
            F.lit(0).alias("height"),
        ).alias("meta"),
    )


def audio_features(media: DataFrame) -> DataFrame:
    """Per-clip audio features over DECODED PCM samples — the audio
    analog of image_channel_stats (decode -> ndarray -> per-item feature
    vector, Arrow-batched, zero shuffle): sample count, peak amplitude,
    mean amplitude, RMS energy, and zero-crossing count (the classic
    cheap voicing/noisiness signal). Determinism contract: sums
    accumulate in int64 (exact), mean/rms are ONE double division (plus
    one IEEE sqrt for rms) from exact integers, crossings are integer
    comparisons — all bit-identical cross-engine, so j35 is
    HASH-checkable with no rounding."""
    from scopus_spark.operators.wav import decode_wav

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            k = len(pdf)
            n_out = np.zeros(k, dtype=np.int64)
            rate_out = np.zeros(k, dtype=np.int64)
            peak = np.zeros(k, dtype=np.int64)
            mean = np.full(k, np.nan)
            rms = np.full(k, np.nan)
            zc = np.zeros(k, dtype=np.int64)
            for i, payload in enumerate(pdf["payload"]):
                samples, rate = decode_wav(payload)
                v = samples[:, 0]  # staged mono
                n = v.shape[0]
                n_out[i], rate_out[i] = n, rate
                if n == 0:
                    continue
                s, ssq = int(v.sum()), int((v * v).sum())
                peak[i] = int(np.abs(v).max())
                mean[i] = s / n
                rms[i] = np.sqrt(ssq / n)
                zc[i] = int(((v[:-1] < 0) != (v[1:] < 0)).sum())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "n_samples": n_out,
                    "sample_rate": rate_out,
                    "peak_abs": peak,
                    "mean_amp": mean,
                    "rms": rms,
                    "zero_crossings": zc,
                }
            )

    return media.mapInPandas(feats, AUDIO_FEATURES_SCHEMA)


AVI_MIME = "video/x-msvideo"

VIDEO_STATS_SCHEMA = (
    "media_id long, n_frames long, n_sampled long, n_px long, "
    "mean_r double, mean_g double, mean_b double, "
    "var_r double, var_g double, var_b double"
)


def attach_avi(docs: DataFrame) -> DataFrame:
    """documents -> media table whose payloads are REAL uncompressed AVI
    files: the text's utf-8 bytes read as RGB triples (j27's pixel
    buffers), grouped 4 pixels per 2x2 frame (incomplete trailing
    triples/frames dropped). Raw BI_RGB frames are lossless, so decode
    must reproduce every staged pixel byte-for-byte — including the DIB
    bottom-up row order, BGR swap, and 4-byte row stride the container
    mandates (a decoder that gets any of them wrong scrambles pixels and
    breaks j36's hash). Callers pre-filter to >= 12 bytes (one complete
    frame)."""
    from scopus_spark.operators.avi import encode_avi

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for payload in pdf["payload"]:
                raw = bytes(payload) if payload is not None else b""
                n = (len(raw) // 3) * 3
                px = np.frombuffer(raw[:n], dtype=np.uint8).reshape(-1, 3)
                nf = px.shape[0] // 4
                frames = px[: nf * 4].reshape(nf, 2, 2, 3)
                payloads.append(encode_avi(frames, fps=10))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    staged = attach_payload(docs).mapInPandas(
        enc, "media_id long, payload binary"
    )
    return staged.select(
        "media_id",
        "payload",
        F.struct(
            F.lit(AVI_MIME).alias("mime"),
            F.lit(2).alias("width"),
            F.lit(2).alias("height"),
        ).alias("meta"),
    )


def video_frame_stats(media: DataFrame, every_n: int = 2) -> DataFrame:
    """Frame-SAMPLED per-clip channel statistics over DECODED video — the
    video analog of image_channel_stats and the canonical cheap treatment
    of video in a training-data pipeline (decode, keep every n-th frame,
    featurize the kept frames). Same exactness contract: int64 sums over
    the sampled pixels, population variance as ONE double division from
    exact integers, so j36 is HASH-checkable."""
    from scopus_spark.operators.avi import decode_avi

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            k = len(pdf)
            out = {
                "media_id": pdf["media_id"].to_numpy(),
                "n_frames": np.zeros(k, dtype=np.int64),
                "n_sampled": np.zeros(k, dtype=np.int64),
                "n_px": np.zeros(k, dtype=np.int64),
            }
            cols = {}
            for c in ("r", "g", "b"):
                cols[f"mean_{c}"] = np.full(k, np.nan)
                cols[f"var_{c}"] = np.full(k, np.nan)
            for i, payload in enumerate(pdf["payload"]):
                frames, _ = decode_avi(payload)
                sampled = frames[::every_n]
                px = sampled.reshape(-1, 3).astype(np.int64)
                n = px.shape[0]
                out["n_frames"][i] = frames.shape[0]
                out["n_sampled"][i] = sampled.shape[0]
                out["n_px"][i] = n
                if n == 0:
                    continue
                s = px.sum(axis=0)
                ssq = (px * px).sum(axis=0)
                for ci, c in enumerate(("r", "g", "b")):
                    sc, qc = int(s[ci]), int(ssq[ci])
                    cols[f"mean_{c}"][i] = sc / n
                    cols[f"var_{c}"][i] = (n * qc - sc * sc) / (n * n)
            yield pd.DataFrame({**out, **cols})

    return media.mapInPandas(stats, VIDEO_STATS_SCHEMA)


def perceptual_dhash(media: DataFrame, bits: int = 60) -> DataFrame:
    """60-bit difference hash (dHash — the perceptual image fingerprint
    under every image-dedup pipeline): decode -> integer luma
    ((299r + 587g + 114b) // 1000) -> point-sample bits+1 grid positions
    ((i * n_pixels) // (bits+1), nearest-neighbor resize, the dHash
    standard) -> bit i set iff sample i < sample i+1 -> pack little-
    endian into a signed 64-bit int (60 bits: the repo's hash60 width,
    no sign-bit overflow). EVERY step is exact integer arithmetic, so
    the hash is a pure function of the pixel buffer — engine- and
    partitioning-independent, which is what lets the j51 oracle recompute
    it byte-by-byte in SQL.

    Scale: pure map work in Arrow batches (no shuffle); downstream
    near-dup pairing bands the 60 bits exactly like SimHash (j11) —
    hamming<=r via 15-bit band equi-joins, never all-pairs.

    Returns (media_id, n_pixels, dhash).
    """
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("n_pixels", T.LongType()),
            T.StructField("dhash", T.LongType()),
        ]
    )

    def hashes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, npx, hs = [], [], []
            for mid, payload, meta in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"]
            ):
                px = decode_pixels(payload, meta["mime"]).astype(np.int64)
                n = px.shape[0]
                if n == 0:
                    continue
                luma = (
                    299 * px[:, 0] + 587 * px[:, 1] + 114 * px[:, 2]
                ) // 1000
                idx = (np.arange(bits + 1, dtype=np.int64) * n) // (bits + 1)
                s = luma[idx]
                flags = s[:-1] < s[1:]
                h = 0
                for i, f in enumerate(flags):
                    if f:
                        h |= 1 << i
                ids.append(int(mid))
                npx.append(int(n))
                hs.append(h)
            yield pd.DataFrame(
                {"media_id": ids, "n_pixels": npx, "dhash": hs}
            )

    return media.mapInPandas(hashes, out_schema)


AUDIO_FP_SCHEMA = "media_id long, n_frames long, fp long"


def audio_fingerprint(
    media: DataFrame, frame: int = 64, bands: int = 4, max_frames: int = 16
) -> DataFrame:
    """(media_id, n_frames, fp) — PERCEPTUAL AUDIO FINGERPRINT over
    decoded PCM, the audio sibling of the image dHash (j51): the
    Haitsma–Kalker recipe with exact-integer band energies so the hash
    gate can prove it bit-for-bit. Per clip: split the int16 samples
    into non-overlapping `frame`-sample frames (incomplete tail
    dropped), each frame into `bands` equal sub-bands, band energy =
    sum of v^2 (exact int64 — 16 samples * 32767^2 fits with 5 digits
    to spare); bit((f-1)*bands + b) is set iff band b's energy ROSE
    from frame f-1 to f, for the first `max_frames`-1 frame deltas —
    60 bits packed into one int64 at the defaults. Energy-trend signs
    survive volume scaling and mild noise, which is what makes the
    fingerprint perceptual rather than cryptographic; near-dup pairing
    over it is the j11 SimHash band machinery verbatim.

    Zero shuffle: decode -> reshape -> integer compare is one
    Arrow-batched mapInPandas pass, the same shape as audio_features."""
    from scopus_spark.operators.wav import decode_wav

    sub = frame // bands

    def fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            k = len(pdf)
            nfr = np.zeros(k, dtype=np.int64)
            fps = np.zeros(k, dtype=np.int64)
            for i, payload in enumerate(pdf["payload"]):
                samples, _rate = decode_wav(payload)
                v = samples[:, 0].astype(np.int64)  # staged mono
                nf = v.shape[0] // frame
                nfr[i] = nf
                if nf < 2:
                    continue
                e = (
                    (v[: nf * frame].reshape(nf, bands, sub) ** 2)
                    .sum(axis=2)
                )
                acc = 0
                for fi in range(1, min(nf, max_frames)):
                    for b in range(bands):
                        if e[fi, b] > e[fi - 1, b]:
                            acc |= 1 << ((fi - 1) * bands + b)
                fps[i] = acc
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "n_frames": nfr,
                    "fp": fps,
                }
            )

    return media.mapInPandas(fp, AUDIO_FP_SCHEMA)


VIDEO_FP_SCHEMA = "media_id long, n_frames long, n_sampled long, vhash long"


def video_fingerprint(
    media: DataFrame, every_n: int = 2, max_frames: int = 15
) -> DataFrame:
    """(media_id, n_frames, n_sampled, vhash) — TEMPORAL dHash over
    sampled video frames: the video rung of the perceptual-fingerprint
    matrix (j51 image dHash, j54 audio Haitsma–Kalker, j59 this).
    Per clip: decode the AVI, keep every ``every_n``-th frame (the j36
    sampling), and for the first ``max_frames`` sampled frames compute
    integer luma per pixel ((299r + 587g + 114b) // 1000). Sampled
    frame j contributes 4 bits:

    - 3 SPATIAL dHash bits at positions 4j+0..4j+2 — bit i set iff
      luma[i] < luma[i+1] across the frame's pixels in decode order
      (the j51 rule applied within the frame);
    - 1 TEMPORAL bit at position 4j-1 (j >= 1) — set iff the frame's
      total luma ROSE vs the previous SAMPLED frame (the j54
      energy-trend rule applied to brightness).

    15 sampled frames pack 45 spatial + 14 temporal = 59 bits into one
    int64 (hash60 width, no sign-bit overflow). Every step is exact
    integer arithmetic, so the fingerprint is a pure function of the
    frame bytes — which is what lets the j59 oracle recompute it
    byte-by-byte in SQL. Luma-trend signs survive uniform brightness /
    contrast scaling, making the hash perceptual rather than
    cryptographic; near-dup video pairing over vhash is the j11
    hamming-band machinery verbatim (15-bit bands, hamming <= r).

    Zero shuffle: decode -> luma -> compare is one Arrow-batched
    mapInPandas pass, the j36 shape."""
    from scopus_spark.operators.avi import decode_avi

    def fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            k = len(pdf)
            nfr = np.zeros(k, dtype=np.int64)
            nsam = np.zeros(k, dtype=np.int64)
            vh = np.zeros(k, dtype=np.int64)
            for i, payload in enumerate(pdf["payload"]):
                frames, _ = decode_avi(payload)
                nf = frames.shape[0]
                nfr[i] = nf
                nsam[i] = (nf + every_n - 1) // every_n
                sampled = frames[::every_n][:max_frames]
                if sampled.shape[0] == 0:
                    continue
                px = sampled.reshape(sampled.shape[0], -1, 3).astype(
                    np.int64
                )
                luma = (
                    299 * px[..., 0] + 587 * px[..., 1] + 114 * px[..., 2]
                ) // 1000
                totals = luma.sum(axis=1)
                acc = 0
                for j in range(luma.shape[0]):
                    row = luma[j]
                    for b in range(min(3, row.shape[0] - 1)):
                        if row[b] < row[b + 1]:
                            acc |= 1 << (4 * j + b)
                    if j >= 1 and totals[j] > totals[j - 1]:
                        acc |= 1 << (4 * j - 1)
                vh[i] = acc
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "n_frames": nfr,
                    "n_sampled": nsam,
                    "vhash": vh,
                }
            )

    return media.mapInPandas(fp, VIDEO_FP_SCHEMA)
