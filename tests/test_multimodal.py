"""Multimodal binary-column plumbing: schema, batch shape."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hiispider_spark.operators import multimodal as mm

SF_DIR = "/root/testdata/sf0.001"


def test_synth_media_schema_and_determinism(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id")
    media = mm.synth_media(docs)
    assert [f.name for f in media.schema.fields] == ["doc_id", "media", "meta"]
    row = media.filter("doc_id = 7").first()
    assert isinstance(row.media, (bytes, bytearray))
    assert row.meta.kind == "image/fake"
    assert row.meta.n_bytes == len(row.media)
    # deterministic: same doc_id → same bytes
    again = mm.synth_media(docs).filter("doc_id = 7").first()
    assert bytes(row.media) == bytes(again.media)


def test_feature_extraction_shape_and_normalization(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id")
    feats = mm.extract_media_features(mm.synth_media(docs))
    rows = feats.collect()
    assert len(rows) == 500
    for r in rows[:20]:
        assert len(r.features) == mm.FEATURE_DIM
        assert abs(sum(r.features) - 1.0) < 1e-3  # L1-normalized histogram
        assert r.kind == "image/fake"


def test_featurizer_matches_local_numpy(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id").limit(5)
    media_rows = mm.synth_media(docs).collect()
    got = {r.doc_id: r.features for r in mm.extract_media_features(mm.synth_media(docs)).collect()}
    for r in media_rows:
        arr = np.frombuffer(bytes(r.media), dtype=np.uint8)
        hist, _ = np.histogram(arr, bins=mm.FEATURE_DIM, range=(0, 256))
        expected = np.round(hist / hist.sum(), 6)
        assert np.allclose(got[r.doc_id], expected, atol=1e-6)


def test_bmp_roundtrip_odd_width_and_orientation():
    import numpy as np

    from hiispider_spark.operators import multimodal as mm

    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    assert np.array_equal(mm.decode_bmp(mm.encode_bmp(px)), px)
    with pytest.raises(ValueError):
        mm.decode_bmp(b"nope")


def test_wav_roundtrip():
    import numpy as np

    from hiispider_spark.operators import multimodal as mm

    s = np.array([100, -100, 100, -100], dtype=np.int16)
    sr, out = mm.decode_wav(mm.encode_wav(s, sample_rate=16000))
    assert sr == 16000 and list(out) == list(s)


def test_bmp_features_real_decode(spark):
    from hiispider_spark.operators import multimodal as mm

    docs = spark.range(50).toDF("doc_id")
    got = {
        r.doc_id: r
        for r in mm.bmp_features(mm.synth_bmp_media(docs)).collect()
    }
    for d in range(50):
        r = got[d]
        assert (r.width, r.height) == (8, 8)
        assert (r.mean_r, r.mean_g, r.mean_b) == (
            float((7 * d + 2) % 256),
            float((3 * d + 1) % 256),
            float(d % 256),
        )


def test_wav_features_real_decode(spark):
    from hiispider_spark.operators import multimodal as mm

    docs = spark.range(40).toDF("doc_id")
    got = {
        r.doc_id: r
        for r in mm.wav_features(mm.synth_wav_media(docs)).collect()
    }
    for d in range(40):
        r = got[d]
        assert r.sample_rate == 8000
        assert r.n_samples == 64 + d % 64
        assert r.rms == float(100 + d % 900)
