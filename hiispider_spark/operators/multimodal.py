"""Multimodal columns: opaque binary media + typed metadata, with REAL
decoders for the formats the standard library can express.

Two tiers, honestly separated:

- **Real decode** — BMP images (``decode_bmp``: 24-bit BITMAPINFOHEADER
  parsed with struct + numpy, bottom-up rows, 4-byte padding, BGR→RGB)
  and WAV audio (``decode_wav``: stdlib ``wave`` + numpy int16 PCM).
  Neither needs any imaging/audio library, so the decode→feature path
  (``bmp_features``, ``wav_features``) is a fully real
  binary-in-DataFrame pipeline, value-oracle-checked end-to-end (the
  synth media is a closed-form function of doc_id, so expected
  features are SQL-expressible).
- **Stand-in** — compressed formats (JPEG/PNG/MP3/video frames) need
  PIL/ffmpeg, which the package does not depend on: no decoder is
  offered for them. ``extract_media_features`` (byte-histogram) stands
  in to test the Arrow plumbing contract a real decoder must satisfy.

Scale notes: media bytes ride in the same row as metadata (fine to
~1 MB/row; bigger media belongs in object storage with a pointer
column). ``mapInPandas`` streams Arrow batches, so executor memory is
bounded by maxRecordsPerBatch × media size, not partition size.
"""

from __future__ import annotations

import io
import struct
import wave
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_DIM = 16


def synth_media(docs: DataFrame) -> DataFrame:
    """Attach a deterministic fake media payload per document: bytes
    derived from doc_id (stands in for a WARC image record)."""
    size = (F.col("doc_id") % 64 + 16).cast("int")
    payload = F.encode(
        F.concat(F.lit("IMG:"), F.repeat(F.format_string("%08x", F.col("doc_id")), 8)),
        "UTF-8",
    )
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        payload.alias("media"),
        F.struct(
            F.lit("image/fake").alias("kind"),
            size.alias("width"),
            (size * 2).alias("height"),
            F.length(payload).cast("int").alias("n_bytes"),
        ).alias("meta"),
    )


def _fake_features(media: pd.Series) -> np.ndarray:
    """Deterministic stand-in featurizer: 16-bin byte histogram,
    L1-normalized. Vectorized per Arrow batch."""
    out = np.zeros((len(media), FEATURE_DIM), dtype=np.float64)
    for i, b in enumerate(media):
        arr = np.frombuffer(b, dtype=np.uint8)
        hist, _ = np.histogram(arr, bins=FEATURE_DIM, range=(0, 256))
        s = hist.sum()
        out[i] = hist / s if s else hist
    return out


def extract_media_features(media_df: DataFrame) -> DataFrame:
    """mapInPandas featurization: (doc_id, meta.*, features[16]).

    One Python invocation per Arrow batch; batch shape is asserted in
    tests (the contract a real decoder must also satisfy).
    """
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("kind", T.StringType(), False),
            T.StructField("n_bytes", T.IntegerType(), False),
            T.StructField(
                "features", T.ArrayType(T.DoubleType(), False), False
            ),
        ]
    )

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = _fake_features(pdf["media"])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "kind": pdf["meta"].map(lambda m: m["kind"]),
                    "n_bytes": pdf["meta"].map(lambda m: m["n_bytes"]),
                    "features": [np.round(f, 6).tolist() for f in feats],
                }
            )

    return media_df.mapInPandas(featurize, out_schema)


# ---------------------------------------------------------------- real BMP
def encode_bmp(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → 24-bit BMP bytes (BITMAPINFOHEADER,
    bottom-up rows, rows padded to 4 bytes — the classic layout)."""
    h, w, _ = pixels.shape
    row_bytes = (w * 3 + 3) // 4 * 4
    img_size = row_bytes * h
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    rows = np.zeros((h, row_bytes), dtype=np.uint8)
    rows[:, : w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    return header + dib + rows.tobytes()


def decode_bmp(media: bytes) -> np.ndarray:
    """24-bit uncompressed BMP → (h, w, 3) uint8 RGB. Raises ValueError
    on anything else (compressed/paletted BMPs are out of scope)."""
    b = bytes(media)
    if b[:2] != b"BM":
        raise ValueError("not a BMP")
    off = struct.unpack_from("<I", b, 10)[0]
    w = struct.unpack_from("<i", b, 18)[0]
    h = struct.unpack_from("<i", b, 22)[0]
    bpp = struct.unpack_from("<H", b, 28)[0]
    comp = struct.unpack_from("<I", b, 30)[0]
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={comp})")
    row_bytes = (w * 3 + 3) // 4 * 4
    ah = abs(h)
    arr = np.frombuffer(b, np.uint8, row_bytes * ah, off).reshape(ah, row_bytes)
    px = arr[:, : w * 3].reshape(ah, w, 3)[..., ::-1]  # BGR → RGB
    return px[::-1] if h > 0 else px  # positive height = bottom-up


def synth_bmp_media(docs: DataFrame) -> DataFrame:
    """Deterministic 8×8 solid-color BMP per document: RGB =
    ((7d+2)%256, (3d+1)%256, d%256) — closed-form, so the decoded
    channel means are SQL-expressible for the oracle."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = []
            for d in pdf["doc_id"]:
                d = int(d)
                color = np.array(
                    [(7 * d + 2) % 256, (3 * d + 1) % 256, d % 256],
                    dtype=np.uint8,
                )
                blobs.append(
                    encode_bmp(np.broadcast_to(color, (8, 8, 3)).copy())
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": blobs})

    return docs.select(F.col("doc_id").cast("long")).mapInPandas(
        gen, "doc_id long, media binary"
    )


def bmp_features(media_df: DataFrame) -> DataFrame:
    """REAL decode → per-image stats: (doc_id, width, height,
    mean_r, mean_g, mean_b), Arrow-batched."""
    schema = (
        "doc_id long, width int, height int, "
        "mean_r double, mean_g double, mean_b double"
    )

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, b in zip(pdf["doc_id"], pdf["media"]):
                px = decode_bmp(b)
                m = px.reshape(-1, 3).mean(axis=0)
                rows.append(
                    (
                        int(d), px.shape[1], px.shape[0],
                        round(float(m[0]), 6), round(float(m[1]), 6),
                        round(float(m[2]), 6),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "mean_r", "mean_g", "mean_b",
                ],
            )

    return media_df.mapInPandas(featurize, schema)


# ---------------------------------------------------------------- real WAV
def encode_wav(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """int16 mono PCM → WAV bytes via the stdlib ``wave`` module."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def decode_wav(media: bytes) -> tuple[int, np.ndarray]:
    """WAV bytes → (sample_rate, int16 sample array)."""
    with wave.open(io.BytesIO(bytes(media)), "rb") as w:
        if w.getsampwidth() != 2 or w.getnchannels() != 1:
            raise ValueError("only 16-bit mono PCM supported")
        sr = w.getframerate()
        data = np.frombuffer(w.readframes(w.getnframes()), dtype="<i2")
    return sr, data


def synth_wav_media(docs: DataFrame) -> DataFrame:
    """Deterministic audio per document: a ±a square wave with
    a = 100 + d%900, n = 64 + d%64 samples at 8 kHz — RMS is exactly
    ``a`` (closed-form for the oracle)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = []
            for d in pdf["doc_id"]:
                d = int(d)
                a, n = 100 + d % 900, 64 + d % 64
                samples = np.where(
                    np.arange(n) % 2 == 0, a, -a
                ).astype(np.int16)
                blobs.append(encode_wav(samples))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": blobs})

    return docs.select(F.col("doc_id").cast("long")).mapInPandas(
        gen, "doc_id long, media binary"
    )


def wav_features(media_df: DataFrame) -> DataFrame:
    """REAL decode → (doc_id, sample_rate, n_samples, rms)."""
    schema = "doc_id long, sample_rate int, n_samples int, rms double"

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, b in zip(pdf["doc_id"], pdf["media"]):
                sr, samples = decode_wav(b)
                rms = float(np.sqrt(np.mean(samples.astype(np.float64) ** 2)))
                rows.append((int(d), sr, len(samples), round(rms, 6)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "sample_rate", "n_samples", "rms"]
            )

    return media_df.mapInPandas(featurize, schema)
