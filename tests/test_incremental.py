"""Incremental featurize: append snapshots, CNN cost proportional to new
distinct content, results identical to one-shot featurize."""

from __future__ import annotations

import numpy as np
import pytest

from pic2vec_spark.featurize import (
    featurize_images,
    incremental_featurize,
    lookup_features,
)
from pic2vec_spark.plan import FeaturizerPlan
from pic2vec_spark.snapshots import SnapshotTable
from pic2vec_spark.synth import IMAGES_SCHEMA, synth_images_pdf


@pytest.fixture(scope="module")
def plan():
    return FeaturizerPlan.build("squeezenet", depth=1, autosample=True)


def test_incremental_matches_oneshot_and_appends(spark, plan, tmp_path):
    all_pdf = synth_images_pdf(32, seed=42)
    batch1 = spark.createDataFrame(all_pdf.iloc[:20], schema=IMAGES_SCHEMA)
    batch2 = spark.createDataFrame(all_pdf.iloc[12:], schema=IMAGES_SCHEMA)  # overlap
    full = spark.createDataFrame(all_pdf, schema=IMAGES_SCHEMA)

    t = SnapshotTable(str(tmp_path / "feats"), spark)
    s1 = incremental_featurize(batch1, t, plan)
    n1 = t.scan().count()
    s2 = incremental_featurize(batch2, t, plan)
    n2 = t.scan(s2).count()
    assert s2 != s1
    assert t.manifest(s2)["parent"] == s1
    # second commit added only the digests batch1 hadn't seen
    assert n2 > n1
    one_shot_digests = (
        featurize_images(full, plan).select("image_id").count()
    )
    assert one_shot_digests == 32

    # append never rewrote batch1's files
    man1 = {p["file"] for p in t.manifest(s1)["partitions"]}
    man2 = {p["file"] for p in t.manifest(s2)["partitions"]}
    assert man1 <= man2

    # lookup joins every row of the full table to a feature vector,
    # identical to the one-shot pipeline result
    looked = lookup_features(full, t).toPandas().set_index("image_id")
    oneshot = featurize_images(full, plan).toPandas().set_index("image_id")
    assert looked.features.notna().all()
    for iid in oneshot.index:
        assert np.allclose(
            np.array(looked.loc[iid, "features"], dtype=np.float32),
            np.array(oneshot.loc[iid, "features"], dtype=np.float32),
            atol=1e-5,
        )
        assert bool(looked.loc[iid, "missing"]) == bool(oneshot.loc[iid, "missing"])

    # time travel: scanning s1 still shows only the first batch's digests
    assert t.scan(s1).count() == n1


def test_featurize_metrics_accumulate(spark, plan):
    from pic2vec_spark.metrics import FeaturizeMetrics
    from pic2vec_spark.synth import synth_images_df

    m = FeaturizeMetrics(spark)
    out = featurize_images(synth_images_df(spark, 20, seed=3), plan, metrics=m)
    out.write.format("noop").mode("overwrite").save()
    s = m.summary()
    assert s["images"] > 0 and s["cnn_sec"] > 0 and s["batches"] >= 1
    assert s["cpu_sec"] > 0
    assert "cnn_images_per_worker_sec" in s


def test_incremental_refuses_mixed_feature_spaces(spark, plan, tmp_path):
    """The manifest records the plan fingerprint; appending with a
    different plan (or after a FEATURE_SEMVER bump) raises instead of
    silently mixing two feature spaces in one column."""
    from pic2vec_spark.synth import synth_images_df

    t = SnapshotTable(str(tmp_path / "feats"), spark)
    imgs = synth_images_df(spark, 16, seed=42)
    incremental_featurize(imgs, t, plan)
    assert t.manifest()["properties"]["plan_fingerprint"] == plan.fingerprint()

    other = FeaturizerPlan.build("squeezenet", depth=2, autosample=True)
    with pytest.raises(ValueError, match="fingerprint"):
        incremental_featurize(synth_images_df(spark, 8, seed=1), t, other)

    # same plan appends fine, fingerprint carried forward
    incremental_featurize(synth_images_df(spark, 24, seed=42), t, plan)
    assert t.manifest()["properties"]["plan_fingerprint"] == plan.fingerprint()


def test_missing_fingerprint_manifest_refused(spark, tmp_path):
    """A non-empty feature table whose manifest lacks a plan_fingerprint
    (pre-fingerprint era / foreign writer) is an unknowable feature
    space: incremental_featurize must refuse to append, not silently mix."""
    import pytest

    from pic2vec_spark.featurize import incremental_featurize
    from pic2vec_spark.plan import FeaturizerPlan
    from pic2vec_spark.snapshots import SnapshotTable
    from pic2vec_spark.synth import synth_images_df

    t = SnapshotTable(str(tmp_path / "tbl"), spark)
    plan = FeaturizerPlan.build("squeezenet", depth=1, autosample=True)
    # simulate a pre-fingerprint table: a write with no properties
    t.write(
        spark.createDataFrame(
            [("0" * 34, False, [0.0] * plan.num_features)],
            "__digest string, missing boolean, features array<float>",
        ),
        num_partitions=1,
    )
    with pytest.raises(ValueError, match="no plan_fingerprint"):
        incremental_featurize(synth_images_df(spark, 8, seed=1), t, plan)
