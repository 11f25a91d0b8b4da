"""Multimodal (binary-column) plumbing for training-data pipelines.

Images / audio / video are carried as opaque ``binary`` cells plus a
typed metadata struct. The Spark-side machinery — schema, Arrow batch
shape, mapInPandas signatures, partition sizing — is real and tested.
The codec step is tiered: PNG and PCM WAV decode for REAL via the
stdlib codecs in ``functions/codecs.py`` (zlib/struct PNG with full
filter support; manual RIFF/PCM parse); every other format (JPEG,
MP3, MP4 — whose decode libraries are not in this container) falls
back to a labeled ``stub`` row. ``extract_media_stats`` is the
magic-byte dispatcher and the single swap point for adding codecs;
``extract_features`` runs ``decode_stub``, a deterministic fake that
derives pseudo-"features" from the bytes, clearly marked.

Pattern at scale: keep blobs in their own column so Parquet column
pruning skips them unless the query touches them; run codecs in
``mapInPandas`` so one task holds one Arrow batch of blobs at a time;
cap ``spark.sql.execution.arrow.maxRecordsPerBatch`` (or pre-size
partitions by bytes) so batch_size * avg_blob_size fits executor
memory.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

BLOB_META_SCHEMA = "id long, n_bytes long, magic string, sha_prefix string"
FEATURE_SCHEMA = "id long, n_bytes long, feature array<float>"


def blob_metadata(df: DataFrame, blob_col: str, id_col: str) -> DataFrame:
    """Typed metadata over an opaque binary column: byte length, magic
    prefix, content hash prefix. Entirely JVM whole-stage codegen —
    octet_length / hex / sha2 all operate on binary natively, so no
    blob bytes ever cross the Arrow boundary (the Python-side pattern
    only starts at the codec step, extract_features below)."""
    blob = F.col(blob_col)
    return df.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.octet_length(blob), F.lit(0)).alias("n_bytes"),
        F.when(
            F.octet_length(blob) >= 4, F.lower(F.hex(F.substring(blob, 1, 4)))
        )
        .otherwise("")
        .alias("magic"),
        F.when(blob.isNotNull(), F.substring(F.sha2(blob, 256), 1, 16))
        .otherwise("")
        .alias("sha_prefix"),
    )


def decode_stub(blob: bytes, feature_dim: int = 8) -> np.ndarray:
    """STUB codec — the decode libraries for JPEG/MP3/MP4/... are not
    in this container (PNG and PCM WAV decode for real in
    ``extract_media_stats`` below). Deterministic fake features derived
    from the bytes so the end-to-end plumbing (schema, batching,
    downstream aggregation) is fully exercised for the formats we
    cannot decode. Swap in a real decoder (PIL / torchaudio / pyav)
    by extending the ``extract_media_stats`` dispatch."""
    if blob is None or len(blob) == 0:
        return np.zeros(feature_dim, dtype=np.float32)
    arr = np.frombuffer(bytes(blob), dtype=np.uint8)
    chunks = np.array_split(arr.astype(np.float64), feature_dim)
    return np.array([c.mean() if len(c) else 0.0 for c in chunks], dtype=np.float32)


MEDIA_STATS_SCHEMA = (
    "id long, modality string, width long, height long, channels long,"
    " sample_rate long, n_frames long, value_sum long, value_min long,"
    " value_max long"
)


def extract_media_stats(df: DataFrame, blob_col: str, id_col: str) -> DataFrame:
    """Blob → one typed row of integer-exact media facts through the
    REAL codecs of ``functions/codecs.py``, dispatched on the magic
    bytes: PNG rows carry (width, height,
    channels, pixel sum/min/max over all channels, n_frames=1); WAV
    rows carry (sample_rate, channels, n_frames, sum(|sample|),
    min, max). Unknown formats land as modality='stub' with byte
    facts. All-long columns so downstream aggregates are exact (the
    float32 ``extract_features`` path cannot hold a 10^8 pixel sum).

    Scale shape: same as ``extract_features`` — one ``mapInPandas``
    pass, one Arrow batch of blobs per task, blob column pruned away
    unless the query touches it."""
    sdf = df.select(F.col(id_col).alias("id"), F.col(blob_col).alias("blob"))

    from q_digest_spark.functions.codecs import (
        UnsupportedBlobError,
        decode_png,
        decode_wav,
    )

    def stats(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            rows = []
            for i, b in zip(pdf["id"], pdf["blob"]):
                b = bytes(b) if b is not None else b""
                try:
                    if b[:8] == b"\x89PNG\r\n\x1a\n":
                        w, h, ch, px = decode_png(b)
                        p = px.astype(np.int64)
                        rows.append((i, "png", w, h, ch, 0, 1,
                                     int(p.sum()), int(p.min()), int(p.max())))
                        continue
                    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
                        rate, ch, samples = decode_wav(b)
                        s = samples.astype(np.int64)
                        rows.append((
                            i, "wav", 0, 0, ch, rate, samples.shape[0],
                            int(np.abs(s).sum()),
                            int(s.min()) if s.size else 0,
                            int(s.max()) if s.size else 0,
                        ))
                        continue
                except UnsupportedBlobError:
                    pass
                rows.append((i, "stub", 0, 0, 0, 0, 0, len(b), 0, 0))
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "id", "modality", "width", "height", "channels",
                        "sample_rate", "n_frames", "value_sum", "value_min",
                        "value_max",
                    ],
                )

    return sdf.mapInPandas(stats, MEDIA_STATS_SCHEMA)


def extract_features(
    df: DataFrame, blob_col: str, id_col: str, feature_dim: int = 8
) -> DataFrame:
    """blob -> fixed-dim feature vector through the (stubbed) codec;
    the Arrow plumbing and output schema are production-shaped."""
    sdf = df.select(F.col(id_col).alias("id"), F.col(blob_col).alias("blob"))

    def feats(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            if not len(pdf):
                continue
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(),
                    "n_bytes": [len(b) if b is not None else 0 for b in pdf["blob"]],
                    "feature": [decode_stub(b, feature_dim) for b in pdf["blob"]],
                }
            )

    return sdf.mapInPandas(feats, FEATURE_SCHEMA)

