"""Multimodal column plumbing: opaque binary payloads + typed metadata,
decoded/feature-extracted via Arrow-batched ``mapInPandas``.

Image/audio/video decode libraries are not in this container, so the decode
step is a DETERMINISTIC STUB (clearly marked below); everything around it —
schema, batch iteration, partitioning, column pruning — is the real Spark
plumbing a production decode would use.

Scale: ``mapInPandas`` streams Arrow batches through the Python worker, so
memory is bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch`` (not
partition size); binary payloads never pass through the driver. For real
media, read files with ``spark.read.format("binaryFile")`` (its
``pathGlobFilter`` option prunes by extension at listing time) and keep
payload columns out of shuffles (extract features first, drop the bytes
before any wide transform).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODED_SCHEMA = (
    "doc_id bigint, n_bytes bigint, fake_width bigint, fake_height bigint, "
    "checksum string"
)


def attach_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Model a multimodal table: payload as ``binary`` + typed metadata.

    (The fixtures have no real media, so the payload is the UTF-8 encoding
    of the text column — an opaque byte blob as far as the pipeline cares.)
    """
    return df.select(
        "doc_id",
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            F.length(F.col(text_col)).alias("n_chars"),
            F.lit("text/plain").alias("mime"),
        ).alias("meta"),
    )


def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """STUB DECODER — deterministic fake in place of e.g. PIL/ffmpeg.

    A real implementation would do ``Image.open(io.BytesIO(payload))`` per
    row here; the Arrow batch shape, output schema, and per-batch memory
    profile are identical. Raising ``NotImplementedError`` for genuinely
    unsupported codecs is the intended pattern for partial decoders.
    """
    import hashlib

    for pdf in batches:
        n_bytes = pdf["payload"].map(len)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": n_bytes,
                # fake "dimensions" derived deterministically from size
                "fake_width": n_bytes % 640,
                "fake_height": n_bytes % 480,
                "checksum": pdf["payload"].map(
                    lambda b: hashlib.md5(bytes(b)).hexdigest()
                ),
            }
        )


def decode_payloads(binary_df: DataFrame) -> DataFrame:
    """Run the (stub) decoder over Arrow batches."""
    return binary_df.select("doc_id", "payload").mapInPandas(
        _decode_batches, schema=DECODED_SCHEMA
    )


FRAME_SCHEMA = "doc_id bigint, frame_idx bigint, byte_offset bigint, frame_md5 string"

_FRAME_BYTES = 64
_FRAME_STRIDE = 4  # sample every 4th frame
_MAX_FRAMES = 5


def _sample_frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """STUB FRAME SAMPLER — the video-pipeline pattern (decode → stride
    sample → per-frame feature) with a deterministic fake decoder: a
    "frame" is a fixed 64-byte window of the payload; sampling takes every
    4th frame, capped at 5. One input row → N output rows, exactly how a
    real ffmpeg-backed sampler fans out."""
    import hashlib

    for pdf in batches:
        ids, idxs, offs, sums = [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            raw = bytes(payload)
            n_frames = len(raw) // _FRAME_BYTES
            for k, frame_idx in enumerate(range(0, n_frames, _FRAME_STRIDE)):
                if k >= _MAX_FRAMES:
                    break
                off = frame_idx * _FRAME_BYTES
                ids.append(doc_id)
                idxs.append(frame_idx)
                offs.append(off)
                sums.append(hashlib.md5(raw[off : off + _FRAME_BYTES]).hexdigest())
        yield pd.DataFrame(
            {
                "doc_id": ids,
                "frame_idx": idxs,
                "byte_offset": offs,
                "frame_md5": sums,
            }
        )


def sample_frames(binary_df: DataFrame) -> DataFrame:
    """Stride-sample fixed-size frames from binary payloads (stub decode)."""
    return binary_df.select("doc_id", "payload").mapInPandas(
        _sample_frame_batches, schema=FRAME_SCHEMA
    )


RESIZED_SCHEMA = "doc_id bigint, n_bytes_out bigint, out_width bigint, out_height bigint, resized_md5 string"


def _resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """STUB RESIZER — deterministic 2× downsample (every other byte) in
    place of a real interpolating image resize; same one-in-one-out batch
    shape and payload-size reduction profile a PIL/opencv resize has."""
    import hashlib

    for pdf in batches:
        out = [bytes(p)[::2] for p in pdf["payload"]]
        n = pd.Series([len(o) for o in out])
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].reset_index(drop=True),
                "n_bytes_out": n,
                "out_width": n % 320,
                "out_height": n % 240,
                "resized_md5": [hashlib.md5(o).hexdigest() for o in out],
            }
        )


def resize_payloads(binary_df: DataFrame) -> DataFrame:
    """Run the (stub) 2× downsample over Arrow batches."""
    return binary_df.select("doc_id", "payload").mapInPandas(
        _resize_batches, schema=RESIZED_SCHEMA
    )


ENERGY_SCHEMA = "doc_id bigint, frame_idx bigint, energy bigint"
_ENERGY_FRAME = 32


def _energy_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """STUB AUDIO FEATURE — windowed energy over the raw payload bytes
    (stride = frame size, tail partial frame dropped), the exact batch
    shape a real PCM frame-energy / VAD feature extractor would use.
    Integer byte sums → deterministic in any engine."""
    import numpy as np

    for pdf in batches:
        ids, frames, energies = [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            buf = np.frombuffer(bytes(payload), dtype=np.uint8)
            n_frames = len(buf) // _ENERGY_FRAME
            if n_frames == 0:
                continue
            e = (
                buf[: n_frames * _ENERGY_FRAME]
                .reshape(-1, _ENERGY_FRAME)
                .sum(axis=1, dtype=np.int64)
            )
            ids.extend([doc_id] * n_frames)
            frames.extend(range(n_frames))
            energies.extend(e.tolist())
        yield pd.DataFrame(
            {"doc_id": ids, "frame_idx": frames, "energy": energies}
        )


def frame_energy(binary_df: DataFrame) -> DataFrame:
    """Windowed byte-energy per fixed-size frame via mapInPandas."""
    return binary_df.select("doc_id", "payload").mapInPandas(
        _energy_batches, schema=ENERGY_SCHEMA
    )


def _histogram_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-doc 16-bin histogram of payload byte values (bin = byte >> 4) —
    the channel-statistics shape of an image feature extractor, as integer
    counts any engine reproduces. Empty bins are not emitted."""
    import numpy as np

    for pdf in batches:
        out = {"doc_id": [], "bin": [], "n_bytes": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            arr = np.frombuffer(bytes(payload), dtype=np.uint8)
            counts = np.bincount(arr >> 4, minlength=16)
            for b in np.nonzero(counts)[0]:
                out["doc_id"].append(doc_id)
                out["bin"].append(int(b))
                out["n_bytes"].append(int(counts[b]))
        yield pd.DataFrame(out)


def byte_histogram(binary_df: DataFrame) -> DataFrame:
    """16-bin byte-value histogram per payload (stub feature extractor)."""
    return binary_df.select("doc_id", "payload").mapInPandas(
        _histogram_batches,
        "doc_id long, bin long, n_bytes long",
    )


# --- frame embedding + clustering (the multimodal → vector bridge) ------

_EMB_BUCKETS = 16
_EMB_K = 4


def frame_embed_centroids(seed: int = 23) -> list[list[int]]:
    """Deterministic integer centroids (LCG), one per cluster, in byte-
    bucket-count space: values 0..8 around the expected per-bucket count
    (64 bytes / 16 buckets = 4). Integer space keeps the whole embed +
    assign pipeline EXACT — no float accumulation order to disagree on."""
    state = seed
    books = []
    for _ in range(_EMB_K):
        row = []
        for _ in range(_EMB_BUCKETS):
            state = (state * 1103515245 + 12345) % (1 << 31)
            row.append(state % 9)
        books.append(row)
    return books


EMBED_CLUSTER_SCHEMA = "doc_id bigint, frame_idx bigint, cell int, dist bigint"


def _embed_cluster_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """STUB FRAME EMBEDDER + cluster assign — the pattern of a real
    vision-encoder scoring pass (decode → embed → nearest centroid), with
    a deterministic 16-dim byte-bucket histogram standing in for the
    model forward pass. Integer L2 to fixed centroids, argmin with
    first-index tiebreak (1-based, matching the oracle's list_position)."""
    import numpy as np

    C = np.array(frame_embed_centroids(), dtype=np.int64)
    for pdf in batches:
        ids, idxs, cells, dists = [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            raw = bytes(payload)
            n_frames = len(raw) // _FRAME_BYTES
            for k, frame_idx in enumerate(range(0, n_frames, _FRAME_STRIDE)):
                if k >= _MAX_FRAMES:
                    break
                off = frame_idx * _FRAME_BYTES
                fb = np.frombuffer(raw[off : off + _FRAME_BYTES], dtype=np.uint8)
                hist = np.bincount(fb >> 4, minlength=_EMB_BUCKETS).astype(np.int64)
                d = ((hist - C) ** 2).sum(axis=1)
                cell = int(d.argmin())
                ids.append(doc_id)
                idxs.append(frame_idx)
                cells.append(cell + 1)
                dists.append(int(d[cell]))
        yield pd.DataFrame(
            {"doc_id": ids, "frame_idx": idxs, "cell": cells, "dist": dists}
        )


def embed_cluster_frames(binary_df: DataFrame) -> DataFrame:
    """Stride-sampled frames → 16-dim integer feature → nearest fixed
    centroid, in one Arrow pass (no intermediate frame materialization)."""
    return binary_df.select("doc_id", "payload").mapInPandas(
        _embed_cluster_batches, schema=EMBED_CLUSTER_SCHEMA
    )
