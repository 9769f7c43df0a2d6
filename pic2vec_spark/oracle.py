"""Single-machine NumPy oracle — the pic2vec stand-in.

Plays the role the reference's golden fixtures play in its test suite
(SURVEY.md §5): a non-Spark, sequential implementation of
decode → resize → preprocess → decapitated-SqueezeNet → GAP →
splice-average downsample, one image per step and per forward call.
It builds on the codec, preprocess and model primitives alone and
imports nothing from the featurize pipeline (no batch decode, no
CNN_CHUNK slicing, no f(0) cache, no dedup, no partitioning, no
Arrow), so a fault in the pipeline's batching cannot hide in both.
Every Spark result must be ``np.allclose(atol=1e-5)`` to this per
image_id, and invariant to partition count / dedup on-off — mirroring
the reference's batch/no-batch equality tests
(tests/test_image_featurizer.py:332-399).

The reference's own CNN goldens are unusable here (ImageNet h5 stripped
from the checkout, no network), so deterministic seeded weights anchor
numeric correctness instead; the weight-free reference fixtures
(downsample hand values, widening CSV, preprocess closed forms) are
matched directly in tests/test_reference_fixtures.py.  The numerics of
the primitives themselves are pinned by tests/test_cnn_golden.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pic2vec_spark.codecs import decode_image
from pic2vec_spark.model import model_forward, model_weights
from pic2vec_spark.plan import FeaturizerPlan
from pic2vec_spark.preprocess import preprocess_pixels, resize_nearest


def oracle_featurize(
    pdf: pd.DataFrame, plan: FeaturizerPlan | None = None
) -> pd.DataFrame:
    """images pandas frame (image_id, bytes, fmt, ...) ->
    (image_id, missing, features) computed sequentially on one machine.
    A row the codec rejects (``ValueError``) is missing and goes through
    the CNN as the raw zero tensor."""
    plan = plan or FeaturizerPlan.build()
    weights = model_weights(plan.model, plan.weight_seed, plan.depth)
    missing, feats = [], []
    for data, fmt in zip(pdf["bytes"], pdf["fmt"]):
        x = np.zeros((1, *plan.target_size, 3), np.float32)
        try:
            img = decode_image(data, fmt)
        except ValueError:
            missing.append(True)
        else:
            missing.append(False)
            img = resize_nearest(img, plan.target_size).astype(np.float32)
            x = preprocess_pixels(img[None], plan.preprocess_mode)
        raw = model_forward(plan.model, x, weights, plan.depth)
        feats.append(plan.finalize(raw)[0].astype(np.float32))
    return pd.DataFrame(
        {
            "image_id": pdf["image_id"].values,
            "missing": np.array(missing, dtype=bool),
            "features": feats,
        }
    )
