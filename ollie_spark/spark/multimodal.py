"""Multimodal span processing: media columns as opaque payloads with
typed metadata.

Media spans (kind in image/audio/video) ride through the KG pipeline
untouched (span-sequence invariant); this module adds the training-data
operators a multimodal corpus needs — decode, feature-extract, ANN
bucketing — as Arrow-batched ``mapInPandas`` stages.

The actual codecs are STUBS: no image/audio libraries ship in this
container, so ``decode_media`` routes to a clearly-marked
deterministic fake (hash-derived bytes/dimensions) unless a real
decoder is injected.  Everything Spark-side — schemas, batch shapes,
partitioning, UDF signatures — is real and tested, so swapping in a
real decoder (PIL / torchaudio / pyav) is a one-function change.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BinaryType, FloatType,
                               IntegerType, StringType, StructField,
                               StructType)

MEDIA_FEATURES_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("span_idx", IntegerType()),
    StructField("kind", StringType()),
    StructField("media_ref", StringType()),
    StructField("payload", BinaryType()),      # opaque decoded bytes
    StructField("width", IntegerType()),       # image/video
    StructField("height", IntegerType()),
    StructField("duration_ms", IntegerType()),  # audio/video
    StructField("n_frames", IntegerType()),     # video
    StructField("embedding", ArrayType(FloatType())),  # feature vector
    StructField("error", StringType()),
])

EMBED_DIM = 16

# FakeDecoder metadata constants — module-level so the cross-engine
# DuckDB recompute oracle (tests/test_entry_oracle.py) interpolates
# the SAME values the decoder uses; a drift in either side fails the
# oracle instead of silently desynchronizing.
FAKE_DIM_BASE = 64          # width/height = base + hash byte
FAKE_MS_BASE = 1000         # duration_ms = base + byte0 * per_unit
FAKE_MS_PER_UNIT = 100
FAKE_FRAME_MOD = 32         # n_frames = 1 + byte2 % mod


class FakeDecoder:
    """Deterministic stand-in for real media codecs.

    Every output is a pure function of the media_ref, so pipelines and
    tests are reproducible.  Replace with a real decoder by passing any
    object with the same three methods to ``extract_media_features``.
    """

    def decode(self, kind: str, ref: str) -> bytes:
        return hashlib.sha256(f"{kind}:{ref}".encode()).digest()

    def metadata(self, kind: str, ref: str) -> dict:
        h = hashlib.sha256(ref.encode()).digest()
        width, height = FAKE_DIM_BASE + h[0], FAKE_DIM_BASE + h[1]
        dur = FAKE_MS_BASE + h[0] * FAKE_MS_PER_UNIT
        if kind == "image":
            return {"width": width, "height": height,
                    "duration_ms": None, "n_frames": None}
        if kind == "audio":
            return {"width": None, "height": None,
                    "duration_ms": dur, "n_frames": None}
        return {"width": width, "height": height, "duration_ms": dur,
                "n_frames": 1 + h[2] % FAKE_FRAME_MOD}

    def embed(self, payload: bytes) -> list[float]:
        # hash bytes -> unit-norm pseudo-embedding
        h = hashlib.sha256(payload).digest()
        v = [(b - 128) / 128.0 for b in h[:EMBED_DIM]]
        norm = sum(x * x for x in v) ** 0.5 or 1.0
        return [x / norm for x in v]


def media_spans(documents: DataFrame) -> DataFrame:
    """The media half of the span explode (counterpart of
    pipeline.sentences)."""
    return (documents
            .select("doc_id",
                    F.posexplode("spans").alias("span_idx", "span"))
            .where(F.col("span.kind") != "text")
            .select("doc_id",
                    F.col("span_idx").cast("int").alias("span_idx"),
                    F.col("span.kind").alias("kind"),
                    F.col("span.media_ref").alias("media_ref")))


def extract_media_features(media: DataFrame,
                           decoder=None) -> DataFrame:
    """decode -> metadata -> embed, one Arrow batch at a time."""
    def run(batches):
        import pandas as pd
        dec = decoder or FakeDecoder()
        for pdf in batches:
            rows = []
            for doc_id, span_idx, kind, ref in zip(
                    pdf["doc_id"], pdf["span_idx"], pdf["kind"],
                    pdf["media_ref"]):
                try:
                    payload = dec.decode(kind, ref)
                    meta = dec.metadata(kind, ref)
                    rows.append({
                        "doc_id": doc_id, "span_idx": int(span_idx),
                        "kind": kind, "media_ref": ref,
                        "payload": payload,
                        "width": meta["width"],
                        "height": meta["height"],
                        "duration_ms": meta["duration_ms"],
                        "n_frames": meta["n_frames"],
                        "embedding": dec.embed(payload),
                        "error": None})
                except NotImplementedError as e:
                    rows.append({
                        "doc_id": doc_id, "span_idx": int(span_idx),
                        "kind": kind, "media_ref": ref, "payload": None,
                        "width": None, "height": None,
                        "duration_ms": None, "n_frames": None,
                        "embedding": None,
                        "error": f"decoder: {e}"})
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in MEDIA_FEATURES_SCHEMA.fields])

    return media.mapInPandas(run, schema=MEDIA_FEATURES_SCHEMA)


def media_ann_buckets(features: DataFrame,
                      bits: int | None = None) -> DataFrame:
    """Embedding-space LSH cells over the media embeddings — the same
    IVF-bucketed ANN path as q19, on multimodal vectors.

    ``bits=None`` (default) sizes the cell count from the corpus
    (textops.auto_cell_bits) so cell population — and with it the
    within-cell join cost — stays ~constant as the corpus grows.  Pass
    an explicit ``bits`` only where a small-scale oracle pins it (the
    kg_media_features entry wrapper pins 4)."""
    from .textops import auto_cell_bits, sign_cell
    nonnull = features.where(F.col("embedding").isNotNull())
    if bits is None:
        bits = auto_cell_bits(nonnull.count(), dim=EMBED_DIM)
    return nonnull.withColumn("cell", sign_cell(F.col("embedding"), bits))
