"""Multimodal plumbing tests: media span extraction, feature UDF batch
shape, determinism, ANN bucketing."""

import pytest
from pyspark.sql import functions as F

from ollie_spark.spark.corpus import corpus
from ollie_spark.spark.multimodal import (FakeDecoder, EMBED_DIM,
                                          extract_media_features,
                                          media_ann_buckets, media_spans)


@pytest.fixture(scope="module")
def media(spark):
    docs = corpus(spark, 60, seed=42, partitions=4)
    return media_spans(docs).cache()


def test_media_spans_shape(media):
    rows = media.collect()
    assert len(rows) > 0
    assert all(r.kind in ("image", "audio", "video") for r in rows)
    assert all(r.media_ref.startswith("media://") for r in rows)


def test_feature_extraction(media):
    feats = extract_media_features(media).collect()
    assert len(feats) == media.count()
    for r in feats:
        assert r.error is None
        assert r.payload is not None and len(r.payload) == 32
        assert len(r.embedding) == EMBED_DIM
        norm = sum(x * x for x in r.embedding) ** 0.5
        assert abs(norm - 1.0) < 1e-5
        if r.kind == "image":
            assert r.width and r.height and r.duration_ms is None
        elif r.kind == "audio":
            assert r.duration_ms and r.width is None
        else:
            assert r.width and r.duration_ms and r.n_frames


def test_feature_determinism(media):
    a = sorted(map(str, extract_media_features(media).collect()))
    b = sorted(map(str, extract_media_features(media).collect()))
    assert a == b


def test_media_ann_buckets(media):
    # default = auto-sized bits; a small corpus sits at the 4-bit floor
    cells = media_ann_buckets(extract_media_features(media))
    rows = cells.collect()
    assert all(len(r.cell) == 4 and set(r.cell) <= {"0", "1"}
               for r in rows)
    # deterministic cell for same ref
    by_ref = {}
    for r in rows:
        by_ref.setdefault(r.media_ref, set()).add(r.cell)
    assert all(len(v) == 1 for v in by_ref.values())


def _media_features_df(spark, n):
    """Synthetic decoded-media features (FakeDecoder embeddings) at a
    size where auto bit-sizing leaves the 4-bit floor."""
    dec = FakeDecoder()
    rows = [(f"d{i}", 0, "image", f"media://img/{i}",
             dec.embed(dec.decode("image", f"media://img/{i}")))
            for i in range(n)]
    return spark.createDataFrame(
        rows, "doc_id string, span_idx int, kind string, "
              "media_ref string, embedding array<float>")


def test_media_pair_counts_stay_linear_with_auto_bits(spark):
    """Mirror of test_textops_scale's linearity check on the media ANN
    path: the auto-sized default keeps within-cell candidate pairs
    ~linear as the corpus doubles; a fixed 4-bit grid quadruples."""
    def pair_count(cells):
        sizes = cells.groupBy("cell").count().collect()
        return sum(r["count"] * (r["count"] - 1) // 2 for r in sizes)

    counts_auto, counts_fixed = [], []
    for n in (16384, 32768, 65536):
        feats = _media_features_df(spark, n)
        counts_auto.append(pair_count(media_ann_buckets(feats)))
        counts_fixed.append(pair_count(media_ann_buckets(feats, bits=4)))
    for a, b in zip(counts_auto, counts_auto[1:]):
        assert b / a < 3.0, f"auto-bits pair growth superlinear: {counts_auto}"
    assert counts_fixed[-1] / counts_fixed[0] > 8.0, (
        f"fixed-bits should blow up quadratically: {counts_fixed}")
