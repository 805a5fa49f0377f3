"""Multimodal column plumbing: opaque ``binary`` payloads + typed metadata.

The Spark-side mechanics are real and tested — schema contract,
Arrow-batched ``mapInPandas`` over binary columns, partition-sized
batches — while the actual media decode is stubbed (image/audio libs
are not in this container). Swap ``_decode_stub`` for a real decoder
(PIL/torchaudio/ffmpeg) without touching the plumbing.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Contract for a multimodal asset table: payload is opaque bytes, all
# dimensions/typing live in metadata columns so planning (partition
# pruning, size-based batching) never touches the payload.
ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("modality", StringType(), False),  # image | audio | video
        StructField("mime", StringType(), True),
        StructField("payload", BinaryType(), True),
        StructField("n_bytes", LongType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("modality", StringType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("checksum", StringType(), True),
    ]
)


def synthetic_assets(spark, n: int = 64) -> DataFrame:
    """Deterministic fake asset table (payload = seeded bytes) so the
    plumbing is testable without media libraries.

    Partitioning is sized to the data (guide §2.5): createDataFrame's
    default slices a local list over defaultParallelism, so a 256-row
    table landed on 32 partitions and every downstream mapInPandas
    paid 32 Python-worker launches (~2 s each — 63 s of task time for
    a 4 s query, measured in the r11 profile sweep). One slice per 64
    assets keeps small inputs on a handful of workers while a larger
    asset table still fans out."""
    rows = []
    for i in range(n):
        payload = bytes((i * 31 + j * 7) % 256 for j in range(128 + (i % 5) * 64))
        modality = ("image", "audio", "video")[i % 3]
        rows.append((i, modality, f"application/x-fake-{modality}", payload, len(payload)))
    n_slices = max(1, min(spark.sparkContext.defaultParallelism, n // 64))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n_slices), ASSET_SCHEMA
    )


def _decode_stub(payload: bytes, modality: str) -> tuple[int, int]:
    """STUB for the real media decode. Deterministic fake dimensions
    derived from the payload so tests are stable. A production build
    replaces this body with PIL.Image.open / av / soundfile."""
    if payload is None:
        return (0, 0)
    w = 16 + (payload[0] if payload else 0) % 64
    h = 16 + (payload[-1] if payload else 0) % 64
    return (w, h)


def extract_features(assets: DataFrame, batch_rows: int = 1024) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``mapInPandas`` streams record batches through Python once —
    the pattern a real image-resize/frame-sample operator uses. The
    per-row decode is the stub above; everything else (schema, batch
    shape, checksum, null payloads) is production-real."""
    import hashlib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = [_decode_stub(p, m) for p, m in zip(pdf["payload"], pdf["modality"])]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "n_bytes": pdf["n_bytes"],
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "checksum": [
                        hashlib.md5(p).hexdigest() if p is not None else None
                        for p in pdf["payload"]
                    ],
                }
            )

    return assets.mapInPandas(run, FEATURE_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("byte_offset", IntegerType(), False),
        StructField("frame_byte", IntegerType(), True),
    ]
)


def sample_frames(
    assets: DataFrame, max_frames: int = 8, bytes_per_frame: int = 64
) -> DataFrame:
    """Evenly-spaced frame sampling over binary payloads — the 1→k
    fan-out shape a video frame extractor has (one asset row in, k
    frame rows out of the same Arrow batch). The per-frame "decode" is
    a STUB (the sampled payload byte stands in for a decoded frame); a
    production build replaces the inner loop with av/ffmpeg extraction
    without touching the mapInPandas signature, batching, or schema.
    Frame count is size-derived (min(max_frames, n_bytes //
    bytes_per_frame)) so row fan-out stays bounded per asset at any
    corpus scale."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "asset_id": [],
                "frame_idx": [],
                "byte_offset": [],
                "frame_byte": [],
            }
            for aid, payload, nb in zip(
                pdf["asset_id"], pdf["payload"], pdf["n_bytes"]
            ):
                if payload is None or not nb:
                    continue
                k = max(1, min(max_frames, int(nb) // bytes_per_frame))
                for j in range(k):
                    off = j * int(nb) // k
                    out["asset_id"].append(int(aid))
                    out["frame_idx"].append(j)
                    out["byte_offset"].append(off)
                    out["frame_byte"].append(payload[off])
            yield pd.DataFrame(out).astype(
                {
                    "asset_id": "int64",
                    "frame_idx": "int32",
                    "byte_offset": "int32",
                    "frame_byte": "int32",
                }
            )

    return assets.mapInPandas(run, FRAME_SCHEMA)


CHUNK_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("chunk_idx", IntegerType(), False),
        StructField("start_ms", IntegerType(), False),
        StructField("end_ms", IntegerType(), False),
        StructField("chunk_byte", IntegerType(), True),
    ]
)


def chunk_audio(
    assets: DataFrame, chunk_ms: int = 100, stride_ms: int = 80
) -> DataFrame:
    """Overlapping fixed-duration chunking over audio payloads — the
    windowing an ASR/audio-embedding pipeline runs before batching
    (chunk 100 ms, stride 80 ms → 20 ms overlap). Same Arrow fan-out
    shape as :func:`sample_frames`: one asset row in, k bounded chunk
    rows out of the same batch. The "decode" (duration = n_bytes * 2 ms,
    chunk checksum = payload byte at the chunk start) is the
    deterministic STUB; a production build swaps in soundfile/ffmpeg
    without touching the signature, batching, or schema. Chunk count is
    duration-derived and bounded per asset, so fan-out stays linear in
    corpus bytes at any scale."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "asset_id": [], "chunk_idx": [], "start_ms": [], "end_ms": [],
                "chunk_byte": [],
            }
            for aid, payload, nb in zip(
                pdf["asset_id"], pdf["payload"], pdf["n_bytes"]
            ):
                if payload is None or not nb:
                    continue
                dur = int(nb) * 2
                if dur <= chunk_ms:
                    k = 1
                else:
                    k = 1 + (dur - chunk_ms) // stride_ms
                for j in range(k):
                    start = j * stride_ms
                    end = min(start + chunk_ms, dur)
                    out["asset_id"].append(int(aid))
                    out["chunk_idx"].append(j)
                    out["start_ms"].append(start)
                    out["end_ms"].append(end)
                    out["chunk_byte"].append(payload[start // 2])
            yield pd.DataFrame(out).astype(
                {
                    "asset_id": "int64", "chunk_idx": "int32",
                    "start_ms": "int32", "end_ms": "int32", "chunk_byte": "int32",
                }
            )

    return assets.mapInPandas(run, CHUNK_SCHEMA)
