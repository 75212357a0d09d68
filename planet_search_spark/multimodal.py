"""Multimodal column plumbing: opaque ``binary`` payloads + typed metadata.

The decode step itself is STUBBED (image/audio libs are not in this
container): ``decode_image(mode="real")`` raises ``NotImplementedError``;
``mode="fake"`` produces a deterministic pseudo-decode whose shape metadata
derives from md5 arithmetic. What IS real and tested is the Spark-side
plumbing a 100 TB multimodal pipeline needs:

* schema: ``payload binary`` + ``meta struct<n_bytes, width, height, frames>``
* Arrow-batched ``mapInPandas`` with bounded batch sizes (the decode path
  never materializes more than one Arrow batch of payloads per task);
* partition-friendly: the metadata extraction is a narrow map, no shuffle.

``multimodal_metadata`` is oracle-checked: the Spark side runs the REAL
mapInPandas plumbing over binary payloads; the DuckDB oracle recomputes the
same frozen metadata arithmetic directly.
"""
from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import lazyzip
from .queries.logical import _register

META_SCHEMA = ("doc_id long, n_bytes long, width int, height int, "
               "n_frames int")


def fake_dims(payload: bytes) -> tuple[int, int, int]:
    """Frozen deterministic pseudo-metadata: md5-derived dims."""
    h = hashlib.md5(payload).hexdigest()
    width = 64 + int(h[:2], 16) % 192
    height = 64 + int(h[2:4], 16) % 192
    n_frames = 1 + int(h[4:6], 16) % 8
    return width, height, n_frames


def decode_image(payload: bytes, mode: str = "real") -> np.ndarray:
    """Decode an image payload to HxWx3 uint8.

    mode="real" is intentionally unimplemented in this container; the fake
    mode keeps the full pipeline shape-correct and deterministic.
    """
    if mode == "real":
        raise NotImplementedError(
            "image decoding requires PIL/libjpeg — not available here; "
            "use mode='fake' for the deterministic stub")
    w, h, _ = fake_dims(payload)
    seed = int(hashlib.md5(payload).hexdigest()[:8], 16)
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def extract_metadata(df: DataFrame, payload_col: str = "payload",
                     id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched metadata extraction over a binary column (narrow map)."""

    def extract(batches):
        lazyzip.install()
        for pdf in batches:
            payloads = pdf[payload_col]
            dims = [fake_dims(bytes(p)) for p in payloads]
            yield pd.DataFrame({
                "doc_id": pdf[id_col].astype("int64"),
                "n_bytes": payloads.map(len).astype("int64"),
                "width": np.array([d[0] for d in dims], dtype=np.int32),
                "height": np.array([d[1] for d in dims], dtype=np.int32),
                "n_frames": np.array([d[2] for d in dims], dtype=np.int32),
            })

    return df.select(id_col, payload_col).mapInPandas(extract, schema=META_SCHEMA)


def sample_frames(df: DataFrame, every_k: int = 2,
                  payload_col: str = "payload") -> DataFrame:
    """Frame-sampling plumbing: explode deterministic frame indices 0..n-1
    step ``every_k`` per payload (the video analogue; decode is stubbed)."""
    meta = extract_metadata(df, payload_col=payload_col)
    return meta.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1,
                             F.lit(every_k))).alias("frame_idx"))


@_register("multimodal_metadata", """
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       CAST(64 + ('0x' || substr(md5(text), 1, 2))::BIGINT % 192 AS INT) AS width,
       CAST(64 + ('0x' || substr(md5(text), 3, 2))::BIGINT % 192 AS INT) AS height,
       CAST(1 + ('0x' || substr(md5(text), 5, 2))::BIGINT % 8 AS INT) AS n_frames
FROM documents
""")
def q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Treat each document's utf-8 bytes as an opaque payload; run the real
    binary-column mapInPandas plumbing; compare with the SQL oracle."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return extract_metadata(docs)
