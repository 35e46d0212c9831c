"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched pandas kernels.

The decode step itself is STUBBED (image/audio codecs are not in this
container): `decode_image_batch` raises NotImplementedError unless the
deterministic fake decoder is requested. Everything Spark-side — schema,
partitioning, mapInPandas batch shape, metadata extraction — is real and
tested, so swapping in a real codec is a one-function change.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes long, payload_sha string, "
    "width int, height int, feature array<float>"
)


def synth_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table matching MEDIA_SCHEMA (payload =
    seeded bytes with a parseable fake header 'W<width>H<height>;')."""
    rng = np.random.default_rng(seed)
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        w, h = int(rng.integers(8, 64)), int(rng.integers(8, 64))
        body = rng.integers(0, 256, size=int(rng.integers(64, 256)), dtype=np.uint8)
        payload = f"W{w}H{h};".encode() + body.tobytes()
        rows.append(
            (
                i,
                kinds[i % 3],
                "application/octet-stream",
                bytearray(payload),
                {"source": f"synth/{i}"},
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic media table DERIVED from the documents table with
    pure JVM expressions — payload = 'W<w>H<h>;' + utf8(text), w/h from
    doc_id arithmetic. Unlike synth_media (driver-side RNG), every
    metadata column an oracle checks (n_bytes, payload_sha, width,
    height) is reproducible in plain SQL over the same table."""
    w = (F.lit(8) + F.col("doc_id") % 56).cast("int")
    h = (F.lit(8) + (F.col("doc_id") * 7) % 56).cast("int")
    header = F.concat(F.lit("W"), w.cast("string"), F.lit("H"), h.cast("string"), F.lit(";"))
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.lit("application/octet-stream").alias("mime"),
        F.encode(F.concat(header, F.col("text")), "UTF-8").alias("payload"),
        F.create_map(F.lit("source"), F.concat(F.lit("doc/"), F.col("doc_id"))).alias("meta"),
    )


def _fake_decode(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Deterministic fake decoder: parses the synthetic header and derives
    an 8-dim feature from payload bytes. Stands in for PIL/ffmpeg."""
    head, _, body = payload.partition(b";")
    ws, _, hs = head[1:].partition(b"H")
    w, h = int(ws), int(hs)
    arr = np.frombuffer(body, dtype=np.uint8)
    # 8 bucket-means over the byte stream — stable, codec-free "feature"
    chunks = np.array_split(arr.astype(np.float32), 8)
    feat = np.array([c.mean() if len(c) else 0.0 for c in chunks], dtype=np.float32)
    return w, h, feat


def decode_image_batch(payloads: pd.Series, fake: bool = False) -> pd.DataFrame:
    """Vectorized decode of a payload batch → (width, height, feature).

    Real codecs are NOT available in this environment: with fake=False
    this raises NotImplementedError (clearly-marked stub per the build
    contract). fake=True uses the deterministic synthetic decoder."""
    if not fake:
        raise NotImplementedError(
            "image/audio codecs not available in this container; "
            "pass fake=True for the deterministic synthetic decoder"
        )
    out = {"width": [], "height": [], "feature": []}
    for p in payloads:
        w, h, f = _fake_decode(bytes(p))
        out["width"].append(w)
        out["height"].append(h)
        out["feature"].append(f.tolist())
    return pd.DataFrame(out)


def extract_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """media → FEATURE_SCHEMA via mapInPandas: JVM-side sha/byte stats,
    Arrow-batched Python only for the decode kernel. Partitioning: payloads
    are large — repartition upstream by media_id so batches are balanced;
    the kernel never sees more than one Arrow batch at a time."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dec = decode_image_batch(pdf["payload"], fake=fake)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "kind": pdf["kind"].values,
                    "n_bytes": pdf["n_bytes"].values,
                    "payload_sha": pdf["payload_sha"].values,
                    "width": dec["width"].values,
                    "height": dec["height"].values,
                    "feature": dec["feature"].values,
                }
            )

    prepped = media.select(
        "media_id",
        "kind",
        F.length("payload").cast("long").alias("n_bytes"),
        F.sha2("payload", 256).alias("payload_sha"),
        "payload",
    )
    return prepped.mapInPandas(kernel, FEATURE_SCHEMA)
