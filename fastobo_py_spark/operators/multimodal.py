"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads ride as ``binary`` columns with a metadata
struct; decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` kernels. Image decode is REAL even here:
Pillow when importable, else the vendored pure-stdlib PNG codec
(operators/png_codec.py) — strict mode (default) only raises for
payloads neither branch can decode, so non-PNG audio/video feature
extraction remains a clearly-marked deterministic fake until a real
codec is plugged into the same kernel.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fastobo_py_spark.worker import prune_zip_importers

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("mime", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("payload_sha", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)

# STRICT by default: a production caller must either plug a real codec
# or EXPLICITLY opt into the deterministic fake (tests do) — a silent
# fake in the default path could masquerade as real features.
STRICT_DECODE = True


def synth_media(spark: SparkSession, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table (payload = seeded bytes)."""
    rows = []
    kinds = ["image", "audio", "video"]
    mimes = {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}
    for i in range(n):
        kind = kinds[i % 3]
        payload = hashlib.sha256(f"{seed}|{i}".encode()).digest() * (4 + i % 5)
        rows.append(
            (
                i,
                kind,
                mimes[kind],
                bytearray(payload),
                64 + i % 512 if kind != "audio" else None,
                64 + (i * 3) % 512 if kind != "audio" else None,
                1000 * (1 + i % 30) if kind != "image" else None,
            )
        )
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def _synth_png_pixels(i: int) -> tuple[int, int, int, bytes]:
    """Deterministic raw pixels for synthetic PNG #i: varied sizes and all
    four supported color types (gray, RGB, RGBA, gray+alpha), gradient
    pattern (x·7 + y·13 + c·41 + i·31) mod 256. This is the INPUT
    definition — oracles re-derive expected stats from it directly, while
    the Spark path must round-trip encode→decode→unfilter to agree."""
    w = 5 + (i * 7) % 28
    h = 4 + (i * 11) % 23
    ch = (1, 3, 4, 2)[i % 4]
    pix = bytearray(
        (x * 7 + y * 13 + c * 41 + i * 31) % 256
        for y in range(h)
        for x in range(w)
        for c in range(ch)
    )
    return w, h, ch, bytes(pix)


def synth_png_media(spark: SparkSession, n: int = 12) -> DataFrame:
    """Media table whose image payloads are REAL (valid) PNGs from the
    vendored encoder — the table that drives the real-decode branch
    end-to-end in this codec-less container."""
    from fastobo_py_spark.operators.png_codec import encode_png

    rows = []
    for i in range(n):
        w, h, ch, pix = _synth_png_pixels(i)
        rows.append((i, "image", "image/png", bytearray(encode_png(w, h, ch, pix)), w, h, None))
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def _pil_image_features(payload: bytes, dim: int) -> list[float]:
    """Real-codec path (used automatically when Pillow is importable and
    the payload decodes): grayscale → dim×dim resize → column means.
    Raises ImportError when Pillow is absent (this sandbox)."""
    import io

    from PIL import Image  # noqa: F401 — optional dependency

    import numpy as np

    img = Image.open(io.BytesIO(payload)).convert("L").resize((dim, dim))
    a = np.asarray(img, dtype="float32") / 255.0
    return [float(x) for x in a.mean(axis=0)]


def _fake_decode_features(payload: bytes, dim: int = 16, strict: bool | None = None) -> list[float]:
    """STUB: stands in for image/audio decode + embedding.

    Deterministic: unpack sha256(payload) into floats. A real deployment
    replaces this body with PIL/torchvision/librosa calls — the Spark
    plumbing (Arrow batches in, fixed-dim float vectors out) is identical.
    """
    if STRICT_DECODE if strict is None else strict:
        raise NotImplementedError(
            "media codecs not available in this environment; pass strict=False "
            "to extract_features to use the deterministic fake embedding"
        )
    h = hashlib.sha256(payload).digest() + hashlib.sha256(payload + b"x").digest()
    vals = struct.unpack("<16H", h[:32])
    return [v / 65535.0 for v in vals[:dim]]


def _png_image_features(payload: bytes, dim: int) -> list[float]:
    """REAL decode without Pillow: the vendored pure-stdlib PNG codec
    (operators/png_codec.py) → integer luma → nearest-neighbor dim×dim →
    column means. Same FEATURE DEFINITION as the Pillow branch (luma
    grid, per-column means) and the same ITU-R 601 weights, but NOT
    bit-identical to it: Pillow resamples bicubic by default and rounds
    luma differently, so the two branches are alternatives, not twins —
    which is why the `multimodal_real_decode` oracle pins THIS codec
    explicitly (extract_features(codec="png")) instead of letting the
    environment pick. Raises ValueError for non-PNG / unsupported
    payloads."""
    from fastobo_py_spark.operators.png_codec import (
        column_mean_features,
        decode_png,
        resize_nearest,
        to_gray,
    )

    w, h, ch, pix = decode_png(payload)
    return column_mean_features(resize_nearest(to_gray(w, h, ch, pix), w, h, dim), dim)


def _decode_features(
    payload: bytes, kind: str, dim: int, strict: bool | None, codec: str = "auto"
) -> list[float]:
    """Codec dispatch: Pillow when importable, else the vendored pure-
    stdlib PNG decoder for decodable PNG payloads, else the strict/fake
    policy above. Keeps strict mode honest — a non-decodable payload with
    no codec installed still raises by default. ``codec="png"`` pins the
    vendored decoder (deterministic across environments — the oracle
    path); ``"auto"`` prefers Pillow, whose resampling differs."""
    if kind == "image":
        if codec == "png":
            try:
                return _png_image_features(payload, dim)
            except Exception:
                pass  # not a (supported) PNG — fall through to policy
        else:
            try:
                return _pil_image_features(payload, dim)
            except ImportError:
                # Pillow absent (this sandbox) — try the vendored PNG path
                try:
                    return _png_image_features(payload, dim)
                except Exception:
                    pass  # not a (supported) PNG — fall through to policy
            except Exception:
                pass  # undecodable payload (synthetic bytes) — same fallthrough
    return _fake_decode_features(payload, dim, strict)


def extract_features(
    media: DataFrame,
    dim: int = 16,
    strict: bool | None = None,
    with_features: bool = True,
    codec: str = "auto",
) -> DataFrame:
    """mapInPandas feature extraction: one Arrow batch of payloads in,
    one batch of fixed-dim vectors out. Only (media_id, kind, payload)
    cross the JVM→Python boundary (column pruning does the rest).

    Images route through Pillow when it is importable (real codec path);
    otherwise strict by default: raises NotImplementedError unless
    ``strict=False`` opts into the deterministic fake embedding.

    ``with_features=False`` emits the codec-FREE columns only
    (payload_sha, n_bytes; features stays null) — the part of the
    contract that is oracle-checkable in a codec-less environment."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prune_zip_importers()
        for pdf in batches:
            out = {
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "payload_sha": pdf["payload"].map(lambda b: hashlib.sha256(bytes(b)).hexdigest()),
                "n_bytes": pdf["payload"].map(len).astype("int32"),
                "features": (
                    [
                        _decode_features(bytes(b), k, dim, strict, codec)
                        for b, k in zip(pdf["payload"], pdf["kind"])
                    ]
                    if with_features
                    else None
                ),
            }
            yield pd.DataFrame(out)

    return media.select("media_id", "kind", "payload").mapInPandas(kernel, schema=FEATURE_SCHEMA)


def sample_frames(media: DataFrame, every_ms: int = 5000) -> DataFrame:
    """Frame-sampling plumbing for video rows: one output row per sampled
    timestamp (the decode itself is the stub above). Pure column ops —
    sequence+explode, no UDF."""
    vids = media.where(F.col("kind") == "video")
    return vids.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.col("duration_ms") - 1, F.lit(every_ms))
        ).alias("frame_ts_ms"),
    )
