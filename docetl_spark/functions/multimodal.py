"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata structs, processed via ``mapInPandas`` Arrow
batches.

Containerless-codec formats decode FOR REAL with the stdlib: WAV (PCM
8/16/32-bit via ``wave`` + numpy) and uncompressed 24-bit BMP (``struct``)
— decode and feature extraction run distributed. Codec
formats (png/jpeg/mp3/mp4) stay behind ``set_decoder`` (tests install a
deterministic fake; production installs a real codec), mirroring the
reference's parsing-tool fan-out (docetl/dataset.py:250-315,
parsing_tools.py: whisper/azure_di/paddleocr) where heavy decoders are
similarly external.
"""

from __future__ import annotations

import io
import struct
import wave
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_META = T.StructType(
    [
        T.StructField("media_type", T.StringType(), True),   # image/audio/video
        T.StructField("format", T.StringType(), True),       # png/jpeg/wav/mp4...
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
    ]
)

# decoder: bytes -> np.ndarray (H,W,C) for images / (n,) for audio.
_DECODER: Callable[[bytes, str], np.ndarray] | None = None


def set_decoder(fn: Callable[[bytes, str], np.ndarray] | None) -> None:
    global _DECODER
    _DECODER = fn


# -- stdlib decoders/encoders (no external codecs needed) ----------------------

def decode_wav(blob: bytes) -> np.ndarray:
    """PCM WAV -> float64 samples in [-1, 1], shape (n,) mono or (n, ch)."""
    with wave.open(io.BytesIO(blob), "rb") as w:
        ch, width, n = w.getnchannels(), w.getsampwidth(), w.getnframes()
        raw = w.readframes(n)
    if width not in (1, 2, 4):
        raise NotImplementedError(f"only 8/16/32-bit PCM WAV decodes natively (got {8 * width}-bit)")
    dtype, scale = {1: ("u1", 127.5), 2: ("<i2", 32768.0), 4: ("<i4", 2147483648.0)}[width]
    arr = np.frombuffer(raw, dtype=dtype).astype("float64")
    if width == 1:
        arr = arr - 127.5  # 8-bit WAV is unsigned, centered at 128
    arr = arr / scale
    return arr.reshape(-1, ch) if ch > 1 else arr


def decode_bmp(blob: bytes) -> np.ndarray:
    """Uncompressed 24-bit BMP -> uint8 (H, W, 3) RGB."""
    if blob[:2] != b"BM":
        raise ValueError("not a BMP")
    data_off = struct.unpack_from("<I", blob, 10)[0]
    width, height = struct.unpack_from("<ii", blob, 18)
    _planes, bpp, compression = struct.unpack_from("<HHI", blob, 26)
    if bpp != 24 or compression != 0:
        raise NotImplementedError(f"only uncompressed 24-bit BMP decodes natively (got bpp={bpp})")
    flipped = height > 0  # positive height = bottom-up row order
    height = abs(height)
    row_bytes = (width * 3 + 3) & ~3  # rows pad to 4 bytes
    rows = np.frombuffer(blob, dtype="u1", count=row_bytes * height, offset=data_off)
    img = rows.reshape(height, row_bytes)[:, : width * 3].reshape(height, width, 3)
    img = img[::-1] if flipped else img
    return img[:, :, ::-1].copy()  # BGR -> RGB


def encode_bmp(img: np.ndarray) -> bytes:
    """uint8 (H, W, 3) RGB -> uncompressed 24-bit BMP bytes."""
    h, w = img.shape[:2]
    row_bytes = (w * 3 + 3) & ~3
    body = np.zeros((h, row_bytes), dtype="u1")
    body[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)  # RGB->BGR, bottom-up
    body_b = body.tobytes()
    header = b"BM" + struct.pack("<IHHI", 54 + len(body_b), 0, 0, 54)
    header += struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body_b), 2835, 2835, 0, 0)
    return header + body_b


def decode_media(blob: bytes, fmt: str, decoder: Callable | None = None) -> np.ndarray:
    """Dispatch: stdlib decoders for wav/bmp; ``decoder`` (defaulting to
    the ``set_decoder`` global) for codec formats; NotImplementedError
    only when neither applies."""
    f = (fmt or "").lower()
    if f == "wav":
        return decode_wav(blob)
    if f == "bmp":
        return decode_bmp(blob)
    decoder = decoder if decoder is not None else _DECODER
    if decoder is not None:
        return decoder(blob, fmt)
    raise NotImplementedError(
        f"format {fmt!r} needs a codec this environment does not ship; "
        f"install one with set_decoder (wav/bmp decode natively)"
    )


FEATURE_SCHEMA = "mean double, std double, p05 double, p95 double, n_values long"


def extract_features(df: DataFrame, binary_col: str, meta_col: str, out_prefix: str = "feat") -> DataFrame:
    """Decode each blob and emit summary features — the shape every real
    embed/resize/frame-sample stage shares: binary in, fixed-width numeric
    struct out, one Python call per Arrow batch.

    The pluggable decoder is captured BY VALUE at plan-construction time (a
    module-level global would not exist in executor worker processes);
    wav/bmp decode natively without it."""
    decoder = _DECODER  # close over the current decoder; cloudpickled to workers
    fields = [(f"{out_prefix}_mean", "double"), (f"{out_prefix}_std", "double"),
              (f"{out_prefix}_p05", "double"), (f"{out_prefix}_p95", "double"),
              (f"{out_prefix}_n", "long")]
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(n, T.DoubleType() if t == "double" else T.LongType(), True) for n, t in fields]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = {n: [] for n, _ in fields}
            for blob, meta in zip(pdf[binary_col], pdf[meta_col]):
                fmt = (meta or {}).get("format") if isinstance(meta, dict) else getattr(meta, "format", None)
                # decoder captured by value above; the global would not
                # exist in the executor worker process
                arr = decode_media(bytes(blob), fmt or "", decoder=decoder).astype("float64").ravel()
                feats[f"{out_prefix}_mean"].append(float(arr.mean()) if arr.size else None)
                feats[f"{out_prefix}_std"].append(float(arr.std()) if arr.size else None)
                feats[f"{out_prefix}_p05"].append(float(np.percentile(arr, 5)) if arr.size else None)
                feats[f"{out_prefix}_p95"].append(float(np.percentile(arr, 95)) if arr.size else None)
                feats[f"{out_prefix}_n"].append(int(arr.size))
            for n, _ in fields:
                pdf[n] = feats[n]
            yield pdf

    return df.mapInPandas(run, schema=out_schema)
