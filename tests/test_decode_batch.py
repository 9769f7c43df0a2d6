"""The one decode loop per image family.

``featurize.decode_batch`` is the batch kernel behind every featurize
entry point: only the codec's ``ValueError`` marks a row missing, and a
missing row keeps the raw zero tensor.  ``ops.multimodal._map_images`` is
the decode-and-map helper behind the per-image curation operators: a
failure in decode or in the kernel yields the operator's failed row.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import types as T

import pic2vec_spark.featurize as featurize
from pic2vec_spark.codecs import decode_image, encode_png
from pic2vec_spark.featurize import _zero_features, decode_batch, featurize_batch
from pic2vec_spark.model import model_weights
from pic2vec_spark.ops.multimodal import (
    _map_images,
    compute_tile_phash,
    image_profile,
    image_stats,
)
from pic2vec_spark.plan import FeaturizerPlan
from pic2vec_spark.preprocess import preprocess_pixels, resize_nearest, to_grayscale


def _png(h: int, w: int, seed: int = 0) -> bytes:
    rng = np.random.default_rng(seed)
    return encode_png(rng.integers(0, 256, (h, w, 3), dtype=np.uint8))


def test_decode_batch_rows():
    """Valid rows are resized + preprocessed; null, empty, unsupported
    and corrupt rows are missing and keep the raw zero tensor."""
    good = _png(20, 30)
    datas = [good, None, b"", good, b"\x89PNG garbage"]
    fmts = ["png", "png", "png", "gif", "png"]
    x, missing = decode_batch(datas, fmts, (8, 8), "caffe")
    assert x.shape == (5, 8, 8, 3) and x.dtype == np.float32
    np.testing.assert_array_equal(missing, [False, True, True, True, True])
    assert not x[1:].any()
    img = resize_nearest(decode_image(good, "png"), (8, 8)).astype(np.float32)
    np.testing.assert_array_equal(x[0], preprocess_pixels(img[None], "caffe")[0])


def test_decode_batch_grayscale():
    good = _png(9, 9, seed=1)
    x, missing = decode_batch([good, None], ["png", None], (4, 5), None, grayscale=True)
    assert x.shape == (2, 4, 5, 1)
    want = to_grayscale(resize_nearest(decode_image(good, "png"), (4, 5)))
    np.testing.assert_array_equal(x[0], want.astype(np.float32))
    assert missing.tolist() == [False, True] and not x[1].any()


def test_decode_batch_empty():
    x, missing = decode_batch([], [], (8, 8), "tf")
    assert x.shape == (0, 8, 8, 3) and missing.shape == (0,)


def test_featurize_batch_missing_rows_get_f0():
    plan = FeaturizerPlan.build()
    weights = model_weights(plan.model, plan.weight_seed, plan.depth)
    zero = _zero_features(plan)
    feats, missing = featurize_batch([None, b"", b"x"], ["png", "bmp", "gif"], plan, weights, zero)
    assert missing.all() and feats.dtype == np.float32
    np.testing.assert_array_equal(feats, np.tile(zero, (3, 1)))
    feats, missing = featurize_batch([], [], plan, weights, zero)
    assert feats.shape == (0, len(zero)) and missing.shape == (0,)


def test_featurize_batch_raises_non_codec_errors(monkeypatch):
    """A decode failure outside the codec contract (anything but
    ValueError) is a bug: it must surface, not become a silent f(0) row."""
    plan = FeaturizerPlan.build()
    weights = model_weights(plan.model, plan.weight_seed, plan.depth)

    def broken(data, fmt):
        raise RuntimeError("decoder bug")

    monkeypatch.setattr(featurize, "decode_image", broken)
    with pytest.raises(RuntimeError, match="decoder bug"):
        featurize_batch([_png(8, 8)], ["png"], plan, weights, _zero_features(plan))


def _tiny_df(spark):
    rows = [("ok", _png(16, 16, seed=2), "png"), ("dot", _png(1, 1), "png"), ("bad", b"", "png")]
    return spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")


def test_map_images_kernel_failure_is_a_failed_row(spark):
    """decode and kernel share one catch; column types come from the
    StructFields (long, nullable double, boolean, binary)."""

    def kernel(img):
        if img.shape[0] < 2:
            raise IndexError("too small")
        return int(img.shape[0]), float(img.mean()), b"x", True

    fields = [
        T.StructField("h", T.LongType(), False),
        T.StructField("mean", T.DoubleType(), True),
        T.StructField("blob", T.BinaryType(), True),
        T.StructField("ok", T.BooleanType(), False),
    ]
    out = _map_images(_tiny_df(spark), fields, kernel, (0, None, None, False), "bytes", "fmt")
    assert out.schema["h"].dataType == T.LongType()
    got = {r["image_id"]: r for r in out.collect()}
    assert (got["ok"]["h"], got["ok"]["blob"], got["ok"]["ok"]) == (16, b"x", True)
    for rid in ("dot", "bad"):
        assert (got[rid]["h"], got[rid]["mean"], got[rid]["blob"], got[rid]["ok"]) == (
            0, None, None, False,
        )


def test_tile_phash_of_a_1x1_image_is_a_failed_row(spark):
    got = {r["image_id"]: r for r in compute_tile_phash(_tiny_df(spark)).collect()}
    assert got["ok"]["tile_ok"] and not got["dot"]["tile_ok"] and not got["bad"]["tile_ok"]
    assert list(got["dot"]["tile_phashes"]) == [0, 0, 0, 0]


def test_profile_failed_rows_match_stats(spark):
    df = _tiny_df(spark)
    prof = {r["image_id"]: r for r in image_profile(df).collect()}
    stats = {r["image_id"]: r for r in image_stats(df).collect()}
    for rid, s in stats.items():
        p = prof[rid]
        assert p["stats_ok"] == s["stats_ok"] == p["phash64_ok"]
        assert p["brightness"] == s["brightness"]
    assert prof["bad"]["phash64"] == 0 and prof["bad"]["brightness"] is None
