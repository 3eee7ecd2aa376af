"""Multimodal column plumbing.

Beyond-reference (BASELINE.json north star): image/audio/video payloads
ride through the engine as opaque ``binary`` columns with a typed
metadata struct. The Spark-side machinery — schema, partition-friendly
layout, Arrow-batched ``mapInPandas`` feature extraction — is real and
tested; the actual media decoding is stubbed behind import guards
because codec libraries (PIL/librosa/av) are not in this container.

Design for 100 TB:
- payloads stay in one column; metadata is a narrow struct so pruning a
  metadata-only query never touches the blob column (columnar parquet
  prunes at the page level).
- feature extraction is ``mapInPandas`` (per-partition Arrow batches),
  NOT a row-at-a-time UDF — the only Python-side hop in the engine.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def attach_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    modality: str = "text",
) -> DataFrame:
    """Wrap a source column as an opaque binary payload + typed
    metadata struct: the canonical layout for multimodal rows.

    Output: (id, payload binary, meta struct<modality, n_bytes, fmt>).
    """
    payload = F.encode(F.col(text_col), "UTF-8")
    meta = F.struct(
        F.lit(modality).alias("modality"),
        F.octet_length(F.col(text_col)).alias("n_bytes"),
        F.lit("utf-8").alias("fmt"),
    )
    return df.select(F.col(id_col), payload.alias("payload"), meta.alias("meta"))


def extract_payload_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads via
    ``mapInPandas``: per batch, compute byte length and md5 digest.

    This is the template every real decoder follows: iterator of pandas
    batches in, narrow feature frame out, schema declared up front. The
    md5 here matches SQL ``md5`` on the source text, which is what
    makes the plumbing oracle-verifiable end to end.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": pdf[payload_col].map(len).astype("int64"),
                    "payload_md5": pdf[payload_col].map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                    ),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(
        batches, schema=f"{id_col} long, n_bytes long, payload_md5 string"
    )


def _fake_decode_pixels(payload: bytes, h: int, w: int) -> "np.ndarray":
    """DETERMINISTIC FAKE image decode (no codec in this container):
    tile the payload bytes to h*w and scale to [0, 1] float32. A real
    decoder (PIL ``Image.open(...).resize((w, h))``) drops in here
    without touching the distributed plumbing."""
    import numpy as np

    b = np.frombuffer(payload, dtype=np.uint8)
    if len(b) == 0:
        b = np.zeros(1, dtype=np.uint8)
    return (np.resize(b, h * w) / np.float32(255.0)).astype(np.float32)


def decode_image(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    target_size: tuple[int, int] = (8, 8),
) -> DataFrame:
    """Decode + resize image payloads to fixed-size pixel tensors via
    Arrow-batched ``mapInPandas``.

    The DISTRIBUTED plumbing is real and tested: binary batches in,
    (id, height, width, pixels array<float>, mean_px_x1000 long) out,
    schema declared up front, one output row per image, partitioning
    preserved. The decode kernel itself is a clearly-marked
    deterministic fake (``_fake_decode_pixels`` — byte tiling), since
    no image codec ships in this container; swapping in PIL changes
    ONE local function.
    """
    h, w = target_size

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            pixels = [
                _fake_decode_pixels(bytes(b), h, w) for b in pdf[payload_col]
            ]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "height": h,
                    "width": w,
                    "pixels": pixels,
                    "mean_px_x1000": [
                        int(np.floor(p.astype(np.float64).mean() * 1000)) for p in pixels
                    ],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(
        batches,
        schema=(
            f"{id_col} long, height int, width int, "
            f"pixels array<float>, mean_px_x1000 long"
        ),
    )


def frame_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    frame_bytes: int = 64,
    every_n_frames: int = 4,
) -> DataFrame:
    """Sample every Nth frame from video payloads via ``mapInPandas``
    — a ONE-TO-MANY Arrow transform (each video yields multiple frame
    rows), the shape a real ffmpeg/av sampler needs.

    The container decode is a deterministic fake: the payload is
    treated as a concatenation of ``frame_bytes``-sized frames and
    every ``every_n_frames``-th frame is emitted with its md5. A real
    demuxer replaces the frame-slicing loop only.

    Output: (id, frame_idx, frame_md5) — one row per sampled frame.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, digests = [], [], []
            for vid, payload in zip(pdf[id_col], pdf[payload_col]):
                data = bytes(payload)
                n_frames = max(1, len(data) // frame_bytes)
                for fi in range(0, n_frames, every_n_frames):
                    chunk = data[fi * frame_bytes : (fi + 1) * frame_bytes]
                    ids.append(vid)
                    idxs.append(fi)
                    digests.append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame(
                {id_col: ids, "frame_idx": idxs, "frame_md5": digests}
            )

    return df.select(id_col, payload_col).mapInPandas(
        batches, schema=f"{id_col} long, frame_idx int, frame_md5 string"
    )
