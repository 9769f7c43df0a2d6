"""Weight-free golden fixtures ported from the reference test suite.

Each test cites the reference file:line it reproduces; values are the
reference's hand-computed fixtures, matched exactly / allclose(1e-5)
(ATOL from /root/reference/pic2vec/enums.py:9).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from pic2vec_spark.plan import (
    SUPPORTED_MODELS,
    FeaturizerPlan,
    check_downsampling_mismatch,
    find_pooling_constant,
    splice_average_downsample,
)
from pic2vec_spark.preprocess import preprocess_pixels

ATOL = 1e-5  # /root/reference/pic2vec/enums.py:9


def test_downsample_hand_fixture():
    """tests/test_build_featurizer.py:128-149 — [1..10] downsampled to 5
    via strided splice + average -> [1.5, 3.5, 5.5, 7.5, 9.5]."""
    x = np.arange(1.0, 11.0)[None, :]
    out = splice_average_downsample(x, 5)
    assert np.allclose(out, [[1.5, 3.5, 5.5, 7.5, 9.5]], atol=ATOL)


def test_downsample_is_strided_splice_mean():
    """Equivalence with the reference's literal formulation:
    mean over [x[:, i::n] for i in range(n)] (build_featurizer.py:198-258)."""
    rng = np.random.default_rng(0)
    x = rng.normal(size=(3, 24))
    n = 24 // 8
    literal = np.mean(np.stack([x[:, i::n] for i in range(n)]), axis=0)
    # NOTE: slice i element j is x[i + j*n], so the slice-average equals
    # the consecutive-block mean:
    assert np.allclose(splice_average_downsample(x, 8), literal, atol=1e-12)


def test_pooling_constant_rules():
    """tests/test_build_featurizer.py:108-125 — divisor rules."""
    assert find_pooling_constant(60, 6) == 10
    with pytest.raises(ValueError):
        find_pooling_constant(60, 120)  # upsample
    with pytest.raises(ValueError):
        find_pooling_constant(60, 40)  # non-integer divisor
    with pytest.raises(ValueError):
        find_pooling_constant(60, 0)


def test_autosample_rules():
    """build_featurizer.py:261-299 — autosample / mismatch semantics."""
    assert check_downsampling_mismatch(True, 0, 2048) == (True, 1024)
    with pytest.raises(ValueError):
        check_downsampling_mismatch(True, 0, 2049)  # odd, no autosample
    assert check_downsampling_mismatch(False, 512, 2048) == (True, 512)
    assert check_downsampling_mismatch(False, 0, 2048) == (False, 0)


# the reference's exhaustive (depth, autosample, size, expected, model)
# matrix — tests/test_build_featurizer.py:268-315 (all 72 cases)
FEAT_CASES = [
    (1, False, 128, 128, "squeezenet"), (1, False, 0, 512, "squeezenet"),
    (1, True, 0, 256, "squeezenet"), (2, True, 0, 256, "squeezenet"),
    (2, False, 128, 128, "squeezenet"), (2, False, 0, 512, "squeezenet"),
    (3, False, 96, 96, "squeezenet"), (3, False, 0, 384, "squeezenet"),
    (3, True, 0, 192, "squeezenet"), (4, True, 0, 192, "squeezenet"),
    (4, False, 96, 96, "squeezenet"), (4, False, 0, 384, "squeezenet"),
    (1, False, 1024, 1024, "vgg16"), (1, False, 0, 4096, "vgg16"),
    (1, True, 0, 2048, "vgg16"), (2, True, 0, 2048, "vgg16"),
    (2, False, 1024, 1024, "vgg16"), (2, False, 0, 4096, "vgg16"),
    (3, False, 128, 128, "vgg16"), (3, False, 0, 512, "vgg16"),
    (3, True, 0, 256, "vgg16"), (4, True, 0, 256, "vgg16"),
    (4, False, 128, 128, "vgg16"), (4, False, 0, 512, "vgg16"),
    (1, False, 1024, 1024, "vgg19"), (1, False, 0, 4096, "vgg19"),
    (1, True, 0, 2048, "vgg19"), (2, True, 0, 2048, "vgg19"),
    (2, False, 1024, 1024, "vgg19"), (2, False, 0, 4096, "vgg19"),
    (3, False, 128, 128, "vgg19"), (3, False, 0, 512, "vgg19"),
    (3, True, 0, 256, "vgg19"), (4, True, 0, 256, "vgg19"),
    (4, False, 128, 128, "vgg19"), (4, False, 0, 512, "vgg19"),
    (1, False, 512, 512, "resnet50"), (1, False, 0, 2048, "resnet50"),
    (1, True, 0, 1024, "resnet50"), (2, True, 0, 1024, "resnet50"),
    (2, False, 512, 512, "resnet50"), (2, False, 0, 2048, "resnet50"),
    (3, False, 512, 512, "resnet50"), (3, False, 0, 2048, "resnet50"),
    (3, True, 0, 1024, "resnet50"), (4, True, 0, 1024, "resnet50"),
    (4, False, 512, 512, "resnet50"), (4, False, 0, 2048, "resnet50"),
    (1, False, 512, 512, "inceptionv3"), (1, False, 0, 2048, "inceptionv3"),
    (1, True, 0, 1024, "inceptionv3"), (2, True, 0, 1024, "inceptionv3"),
    (2, False, 512, 512, "inceptionv3"), (2, False, 0, 2048, "inceptionv3"),
    (3, False, 512, 512, "inceptionv3"), (3, False, 0, 2048, "inceptionv3"),
    (3, True, 0, 1024, "inceptionv3"), (4, True, 0, 640, "inceptionv3"),
    (4, False, 320, 320, "inceptionv3"), (4, False, 0, 1280, "inceptionv3"),
    (1, False, 512, 512, "xception"), (1, False, 0, 2048, "xception"),
    (1, True, 0, 1024, "xception"), (2, True, 0, 512, "xception"),
    (2, False, 256, 256, "xception"), (2, False, 0, 1024, "xception"),
    (3, False, 182, 182, "xception"), (3, False, 0, 728, "xception"),
    (3, True, 0, 364, "xception"), (4, True, 0, 364, "xception"),
    (4, False, 182, 182, "xception"), (4, False, 0, 728, "xception"),
]


@pytest.mark.parametrize("depth,autosample,size,expected,model", FEAT_CASES)
def test_output_size_matrix(depth, autosample, size, expected, model):
    plan = FeaturizerPlan.build(
        model=model, depth=depth, autosample=autosample, downsample_size=size
    )
    assert plan.num_features == expected


def test_preprocess_caffe_closed_form():
    """feature_preprocessing.py:37-63 — caffe mode: RGB->BGR then
    mean-subtract [103.939, 116.779, 123.68]."""
    x = np.zeros((1, 2, 2, 3), dtype=np.float32)
    x[..., 0] = 10.0  # R
    x[..., 1] = 20.0  # G
    x[..., 2] = 30.0  # B
    out = preprocess_pixels(x, "caffe")
    assert np.allclose(out[..., 0], 30.0 - 103.939, atol=ATOL)  # B first
    assert np.allclose(out[..., 1], 20.0 - 116.779, atol=ATOL)
    assert np.allclose(out[..., 2], 10.0 - 123.68, atol=ATOL)


def test_preprocess_tf_closed_form():
    x = np.full((1, 2, 2, 3), 255.0, dtype=np.float32)
    assert np.allclose(preprocess_pixels(x, "tf"), 1.0, atol=ATOL)
    x = np.zeros((1, 2, 2, 3), dtype=np.float32)
    assert np.allclose(preprocess_pixels(x, "tf"), -1.0, atol=ATOL)


def test_widening_matches_reference_csv(spark):
    """tests/test_data_featurizing.py:86-99 + golden CSV
    featurize_data_check_csv_full: mock 4x3 features with row 2 missing
    -> image_missing,image_feat_0..2 with True,0,0,0 on the missing row."""
    from pic2vec_spark.featurize import widen_features

    check_array = [[1.0, 2.0, 3.0], [4.0, 5.0, 6.0], [0.0, 0.0, 0.0], [7.0, 8.0, 9.0]]
    missing = [False, False, True, False]
    df = spark.createDataFrame(
        [(i, m, f) for i, (m, f) in enumerate(zip(missing, check_array))],
        "row_id int, missing boolean, features array<float>",
    )
    wide = widen_features(df, column="image").orderBy("row_id").drop("row_id")
    got = wide.toPandas()

    golden_name = "featurize_data_check_csv_full"
    golden = pd.read_csv(os.path.join(os.path.dirname(__file__), "data", golden_name))
    # The in-repo golden is a copy of the reference's; where a pic2vec
    # checkout sits next to this repository as reference/, the copy must
    # still equal the original.
    original = os.path.join(
        os.path.dirname(__file__), os.pardir, os.pardir, "reference", "tests",
        "data_featurizing_testing", "csv_testing", golden_name,
    )
    if os.path.exists(original):
        assert pd.read_csv(original).equals(golden)
    assert list(got.columns) == list(golden.columns)
    assert got["image_missing"].tolist() == golden["image_missing"].tolist()
    for c in ["image_feat_0", "image_feat_1", "image_feat_2"]:
        assert np.allclose(got[c].values, golden[c].values, atol=ATOL)


def test_model_registry_covers_all_six():
    """build_featurizer.py:29-66 — all six reference models present."""
    assert set(SUPPORTED_MODELS) == {
        "squeezenet", "vgg16", "vgg19", "resnet50", "inceptionv3", "xception"
    }
