"""Opaque-binary multimodal column plumbing (image/audio/video).

A 100 TB training-data pipeline carries media as opaque ``binary``
columns with typed metadata and runs decode / feature-extract / resize /
frame-sample as Arrow-batched pandas UDFs. The real codecs (PIL, ffmpeg,
torchaudio, …) are NOT in this container, so the decode kernel is a
clearly-marked deterministic fake behind ``_decode_one`` — everything
Spark-side (schema, mapInPandas batching, partition behavior, null/error
handling) is real and tested (tests/test_multimodal.py).

Reference analogue: the image-preprocess stages of
ocr-ai-service/app/services/ocr_service.py:56-76 (M5) and
ocr_service_advanced.py:98-155 (M6/M7) — binary payload in, typed
features out, failures captured per record (document_service.py:173-182,
C2: failures are data, never exceptions).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from .oracle import media_format

DECODED_SCHEMA = (
    "doc_id bigint, source string, n_bytes bigint, format string, "
    "width int, height int, n_frames int, decode_error string"
)


def _sniff_format(payload: bytes) -> str:
    """The payload's format as the extraction pipeline's sniffer names
    it (oracle.media_format: raster formats, ``riff/<form>``), plus PDF
    for media census use."""
    if payload[:4] == b"%PDF":
        return "pdf"
    return media_format(payload) or "raw"


def _decode_one(payload: bytes) -> tuple[int, int, int]:
    """STUB — deterministic fake decoder.

    A real deployment replaces this with PIL/ffmpeg decode; the container
    has neither, so dimensions derive deterministically from payload
    bytes (first/last/length) to keep tests stable. Raises on empty
    payloads to exercise the per-record error path.
    """
    if not payload:
        raise ValueError("empty media payload")
    w = 64 + (payload[0] * 31 + len(payload)) % 1024
    h = 64 + (payload[-1] * 17 + len(payload) // 2) % 1024
    frames = 1 + (len(payload) % 30)
    return w, h, frames


def decode_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: (doc_id, media:binary, source) → typed metadata.
    Per-record failures land in ``decode_error`` (C2), never raised."""
    for pdf in it:
        n = len(pdf)
        out = {
            "doc_id": pdf["doc_id"].values,
            "source": pdf["source"].values,
            "n_bytes": [0] * n, "format": [""] * n,
            "width": [0] * n, "height": [0] * n, "n_frames": [0] * n,
            "decode_error": [None] * n,
        }
        for k, payload in enumerate(pdf["media"]):
            b = bytes(payload) if payload is not None else b""
            out["n_bytes"][k] = len(b)
            out["format"][k] = _sniff_format(b)
            try:
                w, h, fr = _decode_one(b)
                out["width"][k], out["height"][k], out["n_frames"][k] = w, h, fr
            except Exception as e:  # noqa: BLE001
                out["decode_error"][k] = f"{type(e).__name__}: {e}"
        res = pd.DataFrame(out)
        res["width"] = res["width"].astype("int32")
        res["height"] = res["height"].astype("int32")
        res["n_frames"] = res["n_frames"].astype("int32")
        res["n_bytes"] = res["n_bytes"].astype("int64")
        yield res


def decode_media(df: DataFrame) -> DataFrame:
    """Decode an opaque media column: df(doc_id, media:binary, source) →
    typed metadata DataFrame. Arrow-batched; scales by partition."""
    return df.mapInPandas(decode_batches, DECODED_SCHEMA)


# -------------------------------------------------------- feature-extract

FEATURES_SCHEMA = "doc_id bigint, features array<float>, feat_norm double"


def feature_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Feature extraction over opaque media: an 8-bin byte histogram,
    L1-normalized — the deterministic stand-in for an image/audio
    embedding model (same shape: binary in, float vector out, Arrow
    batched). numpy-vectorized per batch; undecodable rows get a zero
    vector."""
    import numpy as np

    for pdf in it:
        feats: list[list[float]] = []
        norms: list[float] = []
        for payload in pdf["media"]:
            b = bytes(payload) if payload is not None else b""
            if not b:
                feats.append([0.0] * 8)
                norms.append(0.0)
                continue
            arr = np.frombuffer(b, dtype=np.uint8)
            hist = np.bincount(arr >> 5, minlength=8).astype(np.float64)
            v = hist / hist.sum()
            feats.append([float(x) for x in v])
            norms.append(float(np.sqrt((v * v).sum())))
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"].values,
            "features": feats,
            "feat_norm": norms,
        })


def extract_features(df: DataFrame) -> DataFrame:
    """df(doc_id, media:binary) → (doc_id, features:array<float>,
    feat_norm). The embedding-generation stage of a multimodal training
    pipeline; output feeds the ANN/near-dup operators."""
    return df.mapInPandas(feature_batches, FEATURES_SCHEMA)


# --------------------------------------------------- resize / frame-sample

RESIZED_SCHEMA = DECODED_SCHEMA + ", out_width int, out_height int, scale double"


def resize_plan(decoded: DataFrame, max_side: int = 512) -> DataFrame:
    """Resize planning is pure Catalyst — no Python: compute the target
    dims that fit ``max_side`` preserving aspect ratio. (The pixel
    resample itself would live in the decode kernel; dimension math is
    metadata and stays JVM-side, exactly like any production thumbnailer
    pipeline splits plan vs execute.)"""
    import pyspark.sql.functions as F

    scale = F.when(
        F.greatest("width", "height") > max_side,
        F.lit(max_side) / F.greatest("width", "height").cast("double"),
    ).otherwise(F.lit(1.0))
    return decoded.withColumn("scale", scale).withColumn(
        "out_width", F.greatest(F.floor(F.col("width") * F.col("scale")), F.lit(1)).cast("int")
    ).withColumn(
        "out_height", F.greatest(F.floor(F.col("height") * F.col("scale")), F.lit(1)).cast("int")
    )


FRAMES_SCHEMA = "doc_id bigint, frame_index int, frame_ts_ms double"


def sample_frames(decoded: DataFrame, every_nth: int = 5) -> DataFrame:
    """Deterministic frame sampling for video-like media: keep frames
    0, n, 2n, … of ``n_frames`` (assumed 25 fps for timestamps). Pure
    Catalyst: sequence + explode — one output row per kept frame, no
    Python. On a real decoder the frame payload extraction would join
    back into the decode kernel by (doc_id, frame_index)."""
    import pyspark.sql.functions as F

    idx = F.explode(
        F.sequence(F.lit(0), F.greatest(F.col("n_frames") - 1, F.lit(0)),
                   F.lit(every_nth))
    ).alias("frame_index")
    return (
        decoded.filter(F.col("decode_error").isNull() & (F.col("n_frames") > 0))
        .select("doc_id", idx)
        .withColumn("frame_ts_ms", F.col("frame_index") * (1000.0 / 25.0))
    )
