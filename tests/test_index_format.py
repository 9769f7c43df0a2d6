"""On-disk format of the persisted key indexes: the manifest properties
each index kind records.  Appends and probes rebuild the index family
from these properties, so an index written by an earlier build stays
appendable and probeable only while they keep their names, values and
order.  The digests are literals, computed once from the hash families
(MinHash permutation constants, chunk split, quantizer bytes) — a change
to any of them must fail here, not silently orphan existing indexes."""

from __future__ import annotations

import numpy as np
import pytest

LSH_DEFAULT = {
    "index": "lsh_dedup",
    "id_col": "doc_id",
    "n_hashes": 16,
    "bands": 4,
    "shingle_n": 3,
    "prefix_chars": 1,
    "family_digest": "3b7de2eae7751ee260a3cea6e617f9a4",
}
LSH_8_2_2_2 = {
    "index": "lsh_dedup",
    "id_col": "doc_id",
    "n_hashes": 8,
    "bands": 2,
    "shingle_n": 2,
    "prefix_chars": 2,
    "family_digest": "f80e173a1aad7ca5a2ad6adf5d9b996a",
}
DIGEST_TEXT = {
    "index": "digest_dedup",
    "id_col": "doc_id",
    "norm": "lower_trim_md5",
    "prefix_chars": 1,
}
DIGEST_BINARY = {
    "index": "digest_dedup",
    "id_col": "image_id",
    "norm": "binary_md5",
    "prefix_chars": 1,
}
HAMMING_DEFAULT = {
    "index": "hamming_dedup",
    "id_col": "image_id",
    "max_distance": 4,
    "bits": 64,
    "bucket_mod": 16,
    "family_digest": "73322b60d96543589f27628c6b9aa0ee",
}
HAMMING_3_60 = {
    "index": "hamming_dedup",
    "id_col": "doc_id",
    "max_distance": 3,
    "bits": 60,
    "bucket_mod": 16,
    "family_digest": "7b0f1dbdc3a2690addf90007e51b2816",
}
IVF = {
    "index": "ivf",
    "n_cells": 3,
    "centroid_digest": "cc33f2c800edb309d2922515eac8e6f2",
}
CENTROIDS = np.array(
    [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]]
)


@pytest.fixture(scope="module")
def frames(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "The Quick Brown Fox "),
         (3, "something else entirely")],
        "doc_id bigint, text string",
    )
    blobs = spark.createDataFrame(
        [("a", b"\x00\x01", 5), ("b", b"\x00\x01", 5 ^ 3), ("c", b"\xff", -7)],
        "image_id string, bytes binary, phash64 bigint",
    )
    sims = docs.selectExpr("doc_id", "doc_id * 1315423911 AS simhash")
    vecs = spark.createDataFrame(
        [(i, [float(i % 3 == j) for j in range(4)]) for i in range(6)],
        "vec_id bigint, embedding array<float>",
    )
    return {"docs": docs, "blobs": blobs, "sims": sims, "vecs": vecs}


def _builders():
    from pic2vec_spark.ops import dedup_store as ds
    from pic2vec_spark.ops import ivf_store as iv

    return {
        "lsh_default": (
            LSH_DEFAULT,
            lambda f, root, spark, **kw: ds.build_lsh_dedup_index(
                f["docs"], root, spark, **kw),
            lambda f, root, spark, **kw: ds.append_to_lsh_dedup_index(
                f["docs"], root, spark, **kw),
        ),
        "lsh_8_2_2_2": (
            LSH_8_2_2_2,
            lambda f, root, spark, **kw: ds.build_lsh_dedup_index(
                f["docs"], root, spark, n_hashes=8, bands=2, shingle_n=2,
                prefix_chars=2, **kw),
            lambda f, root, spark, **kw: ds.append_to_lsh_dedup_index(
                f["docs"], root, spark, **kw),
        ),
        "digest_lower_trim": (
            DIGEST_TEXT,
            lambda f, root, spark, **kw: ds.build_digest_dedup_index(
                f["docs"], root, spark, **kw),
            lambda f, root, spark, **kw: ds.append_to_digest_dedup_index(
                f["docs"], root, spark, **kw),
        ),
        "digest_binary": (
            DIGEST_BINARY,
            lambda f, root, spark, **kw: ds.build_digest_dedup_index(
                f["blobs"], root, spark, id_col="image_id",
                text_col="bytes", norm="binary", **kw),
            lambda f, root, spark, **kw: ds.append_to_digest_dedup_index(
                f["blobs"], root, spark, id_col="image_id",
                text_col="bytes", **kw),
        ),
        "hamming_default": (
            HAMMING_DEFAULT,
            lambda f, root, spark, **kw: ds.build_hamming_dedup_index(
                f["blobs"], root, spark, **kw),
            lambda f, root, spark, **kw: ds.append_to_hamming_dedup_index(
                f["blobs"], root, spark, **kw),
        ),
        "hamming_3_60": (
            HAMMING_3_60,
            lambda f, root, spark, **kw: ds.build_hamming_dedup_index(
                f["sims"], root, spark, id_col="doc_id", sig_col="simhash",
                max_distance=3, bits=60, **kw),
            lambda f, root, spark, **kw: ds.append_to_hamming_dedup_index(
                f["sims"], root, spark, id_col="doc_id", sig_col="simhash",
                **kw),
        ),
        "ivf": (
            IVF,
            lambda f, root, spark, **kw: iv.build_ivf_index(
                f["vecs"], CENTROIDS, root, spark, **kw),
            lambda f, root, spark, **kw: iv.append_to_ivf_index(
                f["vecs"], CENTROIDS, root, spark, **kw),
        ),
    }


@pytest.mark.parametrize("name", [
    "lsh_default", "lsh_8_2_2_2", "digest_lower_trim", "digest_binary",
    "hamming_default", "hamming_3_60", "ivf",
])
def test_manifest_properties_pinned(spark, frames, tmp_path, name):
    """Build records exactly the pinned identity after the caller's
    extra properties, in manifest order; an append without properties
    carries them, and an append with a caller dict keeps the caller's
    keys first and the identity keys on top."""
    from pic2vec_spark.snapshots import SnapshotTable

    want, build, append = _builders()[name]
    root = str(tmp_path / name)
    table = SnapshotTable(root, spark)

    build(frames, root, spark, extra_properties={"owner": "etl"})
    props = table.manifest()["properties"]
    assert list(props.items()) == [("owner", "etl"), *want.items()]

    append(frames, root, spark)
    assert list(table.manifest()["properties"].items()) == list(props.items())

    append(frames, root, spark, properties={"index": "x", "stage": 2})
    assert list(table.manifest()["properties"].items()) == [
        ("index", want["index"]), ("stage", 2),
        *[(k, v) for k, v in want.items() if k != "index"],
    ]
