"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

The Spark-side contract is real and tested — schema, partitioning, Arrow batch
shape, mapInPandas signatures; the actual codec calls are STUBBED behind
``DECODERS`` (the image/audio libraries are not in this container). A real
deployment swaps the stub for PIL/torchaudio/ffmpeg calls without touching the
dataflow.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),  # opaque encoded bytes
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

FEATURES_SCHEMA = (
    "media_id string, kind string, n_bytes int, sha256 string, "
    "feature array<float>, decode_ok boolean, decode_error string"
)


def _stub_decode(payload: bytes) -> list[float]:
    """Deterministic fake 'decode + feature extract'.

    Real deployments replace this with PIL/torchaudio decode + a model; kept
    deterministic (bytes -> hash -> 8 floats) so the plumbing is testable.
    """
    if payload is None:
        raise NotImplementedError("real codec not available in this environment")
    h = hashlib.sha256(payload).digest()
    return [b / 255.0 for b in h[:8]]


DECODERS = {"image": _stub_decode, "audio": _stub_decode, "video": _stub_decode}


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Per-row failure isolation: decode errors become quarantine-able rows
    (decode_ok=false), never task failures — the reference's per-chunk
    failure-isolation pattern (PropositionPipeline.kt:432-467).
    """
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            feats, oks, errs, hashes, sizes = [], [], [], [], []
            for kind, payload in zip(pdf["kind"], pdf["payload"]):
                try:
                    raw = bytes(payload) if payload is not None else None
                    feats.append(DECODERS[kind](raw))
                    oks.append(True)
                    errs.append(None)
                except Exception as e:  # noqa: BLE001 — quarantine, don't fail the task
                    feats.append(None)
                    oks.append(False)
                    errs.append(f"{type(e).__name__}: {e}")
                    raw = None
                hashes.append(hashlib.sha256(raw).hexdigest() if raw else None)
                sizes.append(len(raw) if raw else 0)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pd.Series(sizes, index=pdf.index, dtype="int32"),
                    "sha256": hashes,
                    "feature": feats,
                    "decode_ok": oks,
                    "decode_error": errs,
                }
            )

    return media.mapInPandas(run, schema=FEATURES_SCHEMA)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plan: one row per planned frame timestamp.

    The decode itself is stubbed; the explode/partition shape (what a real
    ffmpeg-backed sampler fans out to) is the tested part.
    """
    v = media.filter(F.col("kind") == "video").filter(F.col("duration_ms").isNotNull())
    return v.select(
        "media_id",
        F.explode(F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms))).alias("frame_ts_ms"),
    )
