"""Training-data operators: dedup recall, LSH vs brute force, simhash
python oracle, multimodal plumbing."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_exact_dedup_finds_planted_duplicates(spark, docs):
    from pic2vec_spark.ops.dedup import exact_dedup

    dup = docs.union(docs.limit(10))  # plant 10 exact duplicates
    out = exact_dedup(dup, "doc_id", "text").toPandas()
    assert (out.n_dups >= 2).sum() == 10
    assert out.n_dups.sum() == dup.count()


def test_lsh_candidates_catch_high_jaccard_pairs(spark, docs):
    """LSH (16 hashes, 4 bands -> threshold ~ (1/4)^(1/4) ≈ 0.7) must
    recover every pair with very high true Jaccard."""
    from pic2vec_spark.ops.dedup import jaccard_pairs, lsh_candidate_pairs

    truth = jaccard_pairs(docs, "doc_id", "text", threshold=0.9).toPandas()
    assert len(truth) > 0, "corpus should contain planted near-dups"
    cand = lsh_candidate_pairs(docs, "doc_id", "text").toPandas()
    cand_set = set(zip(cand.id1, cand.id2))
    missed = [p for p in zip(truth.id1, truth.id2) if p not in cand_set]
    assert not missed, f"LSH missed high-jaccard pairs: {missed}"


def test_simhash_python_oracle(spark, docs):
    """Spark simhash == plain-python simhash on a sample."""
    from pic2vec_spark.ops.dedup import simhash

    got = simhash(docs.limit(20), "doc_id", "text").toPandas().set_index("doc_id")
    sample = docs.limit(20).toPandas()

    def py_simhash(text: str) -> int:
        counts = [0] * 60
        for tok in text.strip().lower().split():
            h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
            for i in range(60):
                counts[i] += 1 if (h >> i) & 1 else -1
        return sum(1 << i for i in range(60) if counts[i] > 0)

    for _, row in sample.iterrows():
        assert int(got.loc[row.doc_id, "simhash"]) == py_simhash(row.text), row.doc_id


def test_simhash_neardup_symmetric_with_hamming(spark, docs):
    from pic2vec_spark.ops.dedup import hamming_neardup_pairs, simhash

    sim = simhash(docs, "doc_id", "text")
    pairs = hamming_neardup_pairs(sim, "doc_id", max_distance=6).toPandas()
    sims = sim.toPandas().set_index("doc_id")["simhash"]
    for _, r in pairs.iterrows():
        true_d = bin(int(sims[r.id1]) ^ int(sims[r.id2])).count("1")
        assert true_d == r.hamming and true_d <= 6
    assert (pairs.id1 < pairs.id2).all()


def test_knn_brute_force_vs_numpy(spark, embs):
    from pic2vec_spark.ops.knn import cosine_topk

    queries = embs.filter(F.col("vec_id") < 4)
    got = cosine_topk(embs, queries, k=5).toPandas()
    pdf = embs.toPandas()
    mat = np.stack(pdf.embedding.map(np.asarray)).astype(np.float64)
    ids = pdf.vec_id.values
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    for q in range(4):
        qi = np.where(ids == q)[0][0]
        cos = mat @ mat[qi]
        cos[qi] = -np.inf
        order = np.lexsort((ids, -np.round(cos, 6)))[:5]
        expect = ids[order]
        got_q = got[got.query_id == q].sort_values("rk").neighbor_id.values
        assert list(got_q) == list(expect), q


def test_lsh_knn_recall(spark, embs):
    """Approximate ANN must hit >=40% of true top-5 on random gaussian
    vectors (no structure = hard case for LSH) and every returned
    neighbor's cosine must be <= true best."""
    from pic2vec_spark.ops.knn import cosine_topk, lsh_bucket_topk

    queries = embs.filter(F.col("vec_id") < 8)
    exact = cosine_topk(embs, queries, k=5).toPandas()
    approx = lsh_bucket_topk(embs, queries, k=5).toPandas()
    hits = 0
    total = 0
    for q in exact.query_id.unique():
        e = set(exact[exact.query_id == q].neighbor_id)
        a = set(approx[approx.query_id == q].neighbor_id)
        hits += len(e & a)
        total += len(e)
    assert hits / total >= 0.6, f"LSH recall too low: {hits}/{total}"


def test_kmeans_centroids_deterministic():
    from pic2vec_spark.ops.knn import kmeans_centroids

    rng = np.random.default_rng(7)
    x = rng.normal(size=(200, 16))
    c1 = kmeans_centroids(x, 4, iters=5)
    c2 = kmeans_centroids(x.copy(), 4, iters=5)
    assert np.array_equal(c1, c2)
    assert c1.shape == (4, 16)
    # each centroid is inside the data's bounding box (a real mean)
    assert (c1 >= x.min(0) - 1e-9).all() and (c1 <= x.max(0) + 1e-9).all()


def test_ivf_knn_recall_and_cell_coverage(spark, embs):
    """IVF ANN: every returned neighbor must come from a probed cell
    (structurally guaranteed), recall vs exact >= 40% on structureless
    gaussian vectors (the hard case — real embeddings cluster), and the
    result must be invariant to corpus partitioning."""
    from pic2vec_spark.ops.knn import (
        cosine_topk,
        ivf_topk,
        kmeans_centroids,
        sample_vectors,
    )

    centroids = kmeans_centroids(sample_vectors(embs, 128), 8, iters=5)
    queries = embs.filter(F.col("vec_id") < 8)
    exact = cosine_topk(embs, queries, k=5).toPandas()
    approx = ivf_topk(embs, queries, centroids, k=5, nprobe=3).toPandas()
    hits = total = 0
    for q in exact.query_id.unique():
        e = set(exact[exact.query_id == q].neighbor_id)
        a = set(approx[approx.query_id == q].neighbor_id)
        hits += len(e & a)
        total += len(e)
    assert hits / total >= 0.4, f"IVF recall too low: {hits}/{total}"

    repart = ivf_topk(
        embs.repartition(7), queries, centroids, k=5, nprobe=3
    ).toPandas()
    a = approx.sort_values(["query_id", "rk"]).reset_index(drop=True)
    b = repart.sort_values(["query_id", "rk"]).reset_index(drop=True)
    assert a.equals(b)


def test_multimodal_thumbnail_roundtrip(spark):
    from pic2vec_spark.codecs import decode_png
    from pic2vec_spark.ops.multimodal import image_thumbnail
    from pic2vec_spark.synth import IMAGES_SCHEMA, synth_images_pdf

    images = synth_images_pdf(24, seed=42)
    out = image_thumbnail(
        spark.createDataFrame(images, schema=IMAGES_SCHEMA), size=(16, 16)
    ).toPandas()
    ok = out[out.thumb_ok]
    assert len(ok) > 12
    for t in ok.thumb:
        assert decode_png(bytes(t)).shape == (16, 16, 3)
    bad = out[~out.thumb_ok]
    assert (bad.fmt == "gif").any()  # invalid formats land here


def test_multimodal_stubs_plumbing(spark):
    from pic2vec_spark.ops.multimodal import audio_features, video_frame_sample
    from pic2vec_spark.synth import IMAGES_SCHEMA, synth_images_pdf

    df = spark.createDataFrame(synth_images_pdf(8, seed=1), schema=IMAGES_SCHEMA)
    frames = video_frame_sample(df, n_frames=3, frame_size=(4, 4)).toPandas()
    assert all(len(f) == 3 and len(f[0]) == 16 for f in frames.frames)
    mel = audio_features(df, n_mel=8).toPandas()
    assert all(len(m) == 8 for m in mel.mel)
    # determinism: same bytes -> same fake signal
    again = audio_features(df, n_mel=8).toPandas()
    assert all(list(a) == list(b) for a, b in zip(mel.mel, again.mel))
    # strict mode raises (documents the stub boundary)
    with pytest.raises(Exception):
        video_frame_sample(df, strict=True).collect()


def test_jaccard_max_df_bounds_hot_shingle_skew(spark):
    """drop_hot_shingles caps the shingle self-join's candidate volume
    on a boilerplate-skewed corpus: 200 docs sharing one stopword
    sentence would feed O(n^2) pairs through a handful of hot shingle
    keys; with max_df the hot shingles are dropped BEFORE the self-join
    (bounded candidates) while a genuine near-dup pair — similar in its
    UNIQUE content — is still found.  max_df >= n_docs (cap never
    binds) must be pair-identical to max_df=None."""
    from pic2vec_spark.ops.dedup import (
        containment_pairs,
        drop_hot_shingles,
        jaccard_pairs,
        word_shingles,
    )

    boiler = "all rights reserved terms of service apply to this site"
    rows = [
        (i, f"{boiler} unique document body number {i} alpha beta gamma "
            f"delta {i * 17} epsilon {i * 31}")
        for i in range(200)
    ]
    # planted near-dup: docs 500/501 share almost all unique content
    rows += [
        (500, f"{boiler} shared payload one two three four five six seven"),
        (501, f"{boiler} shared payload one two three four five six eight"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")

    # candidate volume of the shingle self-join, with and without the cap
    def cand_count(sh):
        a = sh.select(F.col("doc_id").alias("id1"), "sh")
        b = sh.select(F.col("doc_id").alias("id2"), "sh")
        return a.join(b, "sh").filter(F.col("id1") < F.col("id2")).count()

    sh = word_shingles(docs, "doc_id", "text", n=3)
    raw = cand_count(sh)
    capped = cand_count(drop_hot_shingles(sh, "doc_id", max_df=0.05))
    assert raw > 200 * 199 / 2  # boilerplate shingles blow up all-pairs
    assert capped < raw / 50  # hot shingles gone -> bounded candidates

    out = jaccard_pairs(
        docs, "doc_id", "text", threshold=0.5, max_df=0.05
    ).toPandas()
    assert (500, 501) in set(zip(out.id1, out.id2))  # true pair survives
    assert len(out) < 50  # no boilerplate-only pair floods through

    # cap that never binds == exact full-space semantics
    base = jaccard_pairs(docs, "doc_id", "text", threshold=0.5).toPandas()
    loose = jaccard_pairs(
        docs, "doc_id", "text", threshold=0.5, max_df=10_000
    ).toPandas()
    key = lambda p: sorted(map(tuple, p[["id1", "id2", "jaccard"]].values))
    assert key(base) == key(loose)

    # containment takes the same mitigation
    cont = containment_pairs(
        docs, "doc_id", "text", threshold=0.5, max_df=0.05
    ).toPandas()
    assert (500, 501) in set(zip(cont.id_small, cont.id_big)) or (
        501, 500
    ) in set(zip(cont.id_small, cont.id_big))

    # guard rails
    with pytest.raises(ValueError, match="max_df"):
        jaccard_pairs(docs, "doc_id", "text", max_df=0.0).count()
    with pytest.raises(ValueError, match="max_df"):
        jaccard_pairs(docs, "doc_id", "text", max_df=0).count()


def test_duplicate_substring_spans_hand_fixture(spark):
    """Exact repeated-substring spans (Lee et al. class) on a corpus
    with hand-computable offsets: a 10-token boilerplate block shared
    by two docs at different positions, a within-doc repeat, and a
    unique doc that must produce no spans."""
    from pic2vec_spark.ops.dedup import duplicate_substring_spans

    boiler = "b0 b1 b2 b3 b4 b5 b6 b7 b8 b9"  # 10 tokens
    docs = spark.createDataFrame(
        [
            # doc 0: boilerplate at tokens 0..9, unique tail
            (0, f"{boiler} u0 u1 u2 u3 u4 u5"),
            # doc 1: 3 unique tokens then boilerplate at tokens 3..12
            (1, f"v0 v1 v2 {boiler} v3 v4"),
            # doc 2: within-doc repeat of an 8-token run at 0..7 and 10..17
            (2, "r0 r1 r2 r3 r4 r5 r6 r7 x0 x1 r0 r1 r2 r3 r4 r5 r6 r7"),
            # doc 3: all unique
            (3, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11"),
        ],
        "doc_id int, text string",
    )
    out = duplicate_substring_spans(docs, "doc_id", "text", w=8).toPandas()
    spans = {
        int(r.doc_id): (int(r.span_start), int(r.span_end), int(r.n_dup_windows))
        for r in out.itertuples()
    }
    # 10-token boilerplate with w=8 -> 3 windows starting at offsets
    # 0,1,2 within the block; merged span covers the whole block
    assert spans[0] == (0, 9, 3)
    assert spans[1] == (3, 12, 3)
    # within-doc repeat: windows at pos 0 and 10, gap 10 > w=8 -> TWO
    # separate maximal spans, each exactly the 8-token run
    d2 = sorted(
        (int(r.span_start), int(r.span_end))
        for r in out[out.doc_id == 2].itertuples()
    )
    assert d2 == [(0, 7), (10, 17)]
    assert 3 not in spans  # unique doc yields nothing

    # adjacent/overlapping windows merge: docs sharing a 16-token block
    big = " ".join(f"c{i}" for i in range(16))
    docs2 = spark.createDataFrame(
        [(0, big + " z0"), (1, "y0 " + big)], "doc_id int, text string"
    )
    out2 = duplicate_substring_spans(docs2, "doc_id", "text", w=8).toPandas()
    got = {
        int(r.doc_id): (int(r.span_start), int(r.span_end), int(r.span_len))
        for r in out2.itertuples()
    }
    assert got[0] == (0, 15, 16)
    assert got[1] == (1, 16, 16)

    import pytest as _pytest
    with _pytest.raises(ValueError, match="min_count"):
        duplicate_substring_spans(docs, "doc_id", "text", min_count=1)


def test_cosine_neardup_exact_guard(spark):
    """The exact all-pairs near-dup path refuses inputs above max_rows
    (pointing at the LSH scale path) instead of launching an unbounded
    cartesian product; max_rows=None opts out for bounded callers."""
    import pytest

    from pic2vec_spark.ops.knn import cosine_neardup_pairs

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)],
        "vec_id int, embedding array<float>",
    )
    with pytest.raises(ValueError, match="all-pairs.*lsh"):
        cosine_neardup_pairs(df, max_rows=10)
    assert cosine_neardup_pairs(df, max_rows=None).count() >= 0
    assert cosine_neardup_pairs(df, max_rows=20).count() >= 0  # at bound


def test_cosine_neardup_lsh_subset_and_recall(spark):
    """LSH near-dup pairs are a SUBSET of the exact pairs (buckets can
    only miss candidates, never invent them — the cosine re-rank is
    exact), with ~1.0 recall on genuinely-near pairs (cos>=0.95) and
    bounded recall even at the LSH-hostile loose threshold."""
    import numpy as np

    from pic2vec_spark.ops.knn import (
        cosine_neardup_pairs,
        cosine_neardup_pairs_lsh,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 16))
    pert = base[:10] + rng.normal(scale=0.01, size=(10, 16))  # cos ~ 0.9999
    vecs = np.vstack([base, pert])
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id int, embedding array<float>",
    )
    exact = cosine_neardup_pairs(df, threshold=0.95).toPandas()
    lsh = cosine_neardup_pairs_lsh(df, threshold=0.95).toPandas()
    e = set(zip(exact.id1, exact.id2))
    got = set(zip(lsh.id1, lsh.id2))
    assert got <= e
    assert len(e) >= 10  # the planted pairs are there
    assert len(got) / len(e) >= 0.95  # >0.999 expected per the math

    # loose threshold (the driver query's 0.4): recall is weaker by
    # design (angle ~66deg barely prefers shared buckets) but bounded
    g = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(base)],
        "vec_id int, embedding array<float>",
    )
    e2 = cosine_neardup_pairs(g, threshold=0.4).toPandas()
    l2 = cosine_neardup_pairs_lsh(g, threshold=0.4).toPandas()
    assert set(zip(l2.id1, l2.id2)) <= set(zip(e2.id1, e2.id2))
    if len(e2):
        assert len(l2) / len(e2) >= 0.5


def test_pq_adc_topk_recall_and_determinism(spark):
    """Product-quantization ADC: codes are 1-based argmin of rounded
    subspace distances (numpy oracle), encoding is partition-invariant,
    and ADC top-1 recovers the exact-L2 nearest neighbor for clustered
    data (planted near-identical pairs, where quantization error cannot
    flip the ranking)."""
    import numpy as np

    from pic2vec_spark.ops.knn import (
        _pq_subdists,
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    rng = np.random.default_rng(11)
    base = rng.normal(size=(48, 16))
    pert = base[:8] + rng.normal(scale=1e-3, size=(8, 16))  # planted NNs
    vecs = np.vstack([base, pert])
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id int, embedding array<double>",
    )
    cb = pq_train(vecs, m=4, n_codes=8, iters=4)
    assert cb.shape == (4, 8, 4)

    codes = pq_encode(df, cb).toPandas().set_index("vec_id").sort_index()
    # numpy oracle for the codes
    for j in range(4):
        d = _pq_subdists(vecs[:, j * 4 : (j + 1) * 4], cb[j])
        want = d.argmin(axis=1) + 1
        got = np.array([c[j] for c in codes.code])
        assert (got == want).all()
    # partition invariance
    codes2 = (
        pq_encode(df.repartition(7), cb).toPandas()
        .set_index("vec_id").sort_index()
    )
    assert [list(c) for c in codes.code] == [list(c) for c in codes2.code]

    # planted pair recovered as ADC top-1 for each perturbed query
    queries = df.filter(F.col("vec_id") >= 48)
    top = pq_adc_topk(df, queries, cb, k=1).toPandas()
    got_nn = dict(zip(top.query_id, top.neighbor_id))
    hits = sum(got_nn[48 + i] == i for i in range(8))
    assert hits >= 7  # quantization may flip at most a rare boundary
    # adc of the planted pair is (near) the smallest possible: both
    # vectors quantize to the same codes -> adc ~ lut self-distance
    assert (top.adc >= 0).all()
    with pytest.raises(ValueError, match="divisible"):
        pq_train(vecs, m=5)

    # IVF-PQ with nprobe = n_cells (probe everything) must equal the
    # flat PQ ADC ranking exactly — the composition changes WHAT is
    # scanned, never the scores
    from pic2vec_spark.ops.knn import ivf_pq_topk, kmeans_centroids

    cents = kmeans_centroids(vecs, 4, iters=3)
    flat = pq_adc_topk(df, queries, cb, k=3).toPandas()
    comp = ivf_pq_topk(
        df, queries, cents, cb, k=3, nprobe=len(cents)
    ).toPandas()
    key = lambda p: sorted(
        map(tuple, p[["query_id", "neighbor_id", "adc", "rk"]].values)
    )
    assert key(flat) == key(comp)


def test_pq_udfs_degrade_bad_rows_to_null(spark):
    """A NULL or wrong-dim embedding must not crash pq_encode /
    pq_adc_topk with a ragged-array subspace slice: bad rows degrade to
    NULL codes/LUTs (the pair_cosine_arrow ok-mask semantics) and good
    rows in the same Arrow batch are encoded identically to a clean
    run."""
    import numpy as np

    from pic2vec_spark.ops.knn import pq_adc_topk, pq_encode, pq_train

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(24, 16))
    clean = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id int, embedding array<double>",
    )
    dirty = clean.unionByName(
        spark.createDataFrame(
            [(100, None), (101, [1.0, 2.0, 3.0])],
            "vec_id int, embedding array<double>",
        )
    ).repartition(1)  # force bad+good rows into ONE Arrow batch
    cb = pq_train(vecs, m=4, n_codes=8, iters=3)

    codes = pq_encode(dirty, cb).toPandas().set_index("vec_id")
    assert codes.loc[100, "code"] is None
    assert codes.loc[101, "code"] is None
    ref = pq_encode(clean, cb).toPandas().set_index("vec_id")
    for i in range(24):
        assert list(codes.loc[i, "code"]) == list(ref.loc[i, "code"])

    # bad QUERY rows (LUT side) degrade silently too: no results for
    # them, clean queries unaffected
    queries = spark.createDataFrame(
        [(0, [float(x) for x in vecs[0]]), (1, None)],
        "query_id int, embedding array<double>",
    )
    top = pq_adc_topk(clean, queries.withColumnRenamed("query_id", "vec_id"),
                      cb, k=1).toPandas()
    assert set(top.query_id) == {0}


def test_neardup_clusters_hand_graph(spark):
    """Chained pairs collapse into one component labeled by its min id;
    disjoint pairs stay separate; a path graph (diameter > 1) needs and
    survives multiple propagation rounds."""
    from pic2vec_spark.ops.dedup import neardup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (12, 11)],
        "id1 bigint, id2 bigint",
    )
    got = {
        r.doc_id: r.cluster_id for r in neardup_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10}


def test_neardup_clusters_convergence_guard(spark):
    from pic2vec_spark.ops.dedup import neardup_clusters

    pairs = spark.createDataFrame([(i, i + 1) for i in range(6)], "id1 bigint, id2 bigint")
    import pytest

    with pytest.raises(RuntimeError, match="did not converge"):
        neardup_clusters(pairs, max_iter=1)


def test_tf_idf_hand_fixture(spark):
    """3-doc corpus with a corpus-wide term (idf=0), a shared term, and
    unique terms — scores match the closed form tf * ln(N/df)."""
    import math

    from pic2vec_spark.ops.text import tf_idf_top_terms

    docs = spark.createDataFrame(
        [(1, "apple apple banana common"),
         (2, "banana cherry common"),
         (3, "cherry cherry cherry common")],
        "doc_id bigint, text string",
    )
    out = tf_idf_top_terms(docs, k=2).toPandas()
    top = {r.doc_id: (r.term, r.score) for r in out.itertuples() if r.rk == 1}
    ln = math.log
    assert top[1] == ("apple", round(2 * ln(3 / 1), 6))
    assert top[2] == ("banana", round(1 * ln(3 / 2), 6))
    assert top[3] == ("cherry", round(3 * ln(3 / 2), 6))
    # 'common' appears in every doc: idf = ln(1) = 0 -> never outranks
    assert not ((out.term == "common") & (out.rk == 1)).any()


def test_hash_split_deterministic_and_partition_invariant(spark):
    from pic2vec_spark.ops.sampling import hash_split

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    a = hash_split(df, "k", test_pct=10).toPandas().set_index("k")["split"]
    b = (
        hash_split(df.repartition(13), "k", test_pct=10)
        .toPandas().set_index("k")["split"]
    )
    assert (a.sort_index() == b.sort_index()).all()
    frac = (a == "test").mean()
    assert 0.06 < frac < 0.14  # binomial around 0.10 at n=2000
    # different salt -> a genuinely different assignment
    c = hash_split(df, "k", test_pct=10, salt="fold2").toPandas().set_index("k")["split"]
    assert (a.sort_index() != c.sort_index()).any()


def test_stratified_sample_exact_proportions(spark):
    from pic2vec_spark.ops.sampling import stratified_sample

    rows = [(i, "big") for i in range(100)] + [(1000 + i, "small") for i in range(7)]
    df = spark.createDataFrame(rows, "k bigint, s string")
    out = stratified_sample(df, "s", "k", fraction=0.3).toPandas()
    counts = out.groupby("s")["k"].count()
    assert counts["big"] == 30       # ceil(0.3 * 100)
    assert counts["small"] == 3      # ceil(0.3 * 7) — small stratum kept
    out2 = stratified_sample(df.repartition(7), "s", "k", fraction=0.3).toPandas()
    assert sorted(out2.k) == sorted(out.k)  # deterministic membership


def test_lsh_ops_handle_empty_input(spark):
    from pic2vec_spark.ops.knn import (
        cosine_neardup_pairs_lsh,
        lsh_bucket_topk,
    )

    empty = spark.createDataFrame([], "vec_id int, embedding array<float>")
    assert cosine_neardup_pairs_lsh(empty).count() == 0
    assert lsh_bucket_topk(empty, empty).count() == 0


def test_rollup_cascade_lossless(spark):
    """daily-from-hourly partials == daily-from-raw, exactly (counts,
    min, max) / to float tolerance (sums) — the re-aggregation
    hierarchy loses nothing."""
    import numpy as np

    from pic2vec_spark.ops.rollup import reaggregate, time_rollup

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    daily_cascade = (
        reaggregate(time_rollup(ev, "hour"), "day")
        .toPandas().sort_values(["user_id", "bucket_ts"]).reset_index(drop=True)
    )
    daily_direct = (
        time_rollup(ev, "day")
        .toPandas().sort_values(["user_id", "bucket_ts"]).reset_index(drop=True)
    )
    assert daily_cascade["n_events"].tolist() == daily_direct["n_events"].tolist()
    assert daily_cascade["min_value"].tolist() == daily_direct["min_value"].tolist()
    assert daily_cascade["max_value"].tolist() == daily_direct["max_value"].tolist()
    # sums are DECIMAL(·,6) partials now — exact, so demand equality
    assert daily_cascade["sum_value"].tolist() == daily_direct["sum_value"].tolist()
    assert np.allclose(
        daily_cascade["sum_value"].astype(float),
        daily_direct["sum_value"].astype(float),
        atol=0,
    )


def test_kmv_distinct_accuracy_and_exact_branch(spark):
    """KMV estimate within the k=64 error bound on a 2000-key group
    (se ~ 12.7%; deterministic, so one check pins it) and EXACT for
    groups under k."""
    from pic2vec_spark.ops.rollup import kmv_distinct

    rows = [("big", f"key_{i}") for i in range(2000)] * 3  # dups collapse
    rows += [("small", f"s_{i}") for i in range(40)]
    df = spark.createDataFrame(rows, "g string, key string")
    out = {r.g: r for r in kmv_distinct(df, "g", "key", k=64).collect()}
    assert out["small"].n_hashes == 40
    assert out["small"].distinct_est == 40.0  # exact branch
    est = out["big"].distinct_est
    assert out["big"].n_hashes == 64
    assert abs(est - 2000) / 2000 < 0.4, est


def test_audio_features_real_wav_and_fallback(spark):
    """PCM WAV rows decode FOR REAL: a 440 Hz half-amplitude sine has
    rms ~ 0.5/sqrt(2) and zcr ~ 2*440/16000; non-WAV bytes fall back to
    the declared stub with audio_ok=False."""
    import numpy as np

    from pic2vec_spark.codecs import encode_wav
    from pic2vec_spark.ops.multimodal import audio_features

    t = np.arange(16000) / 16000.0
    sine = 0.5 * np.sin(2 * np.pi * 440 * t)
    rows = [(1, encode_wav(sine, 16000)), (2, b"\x00garbage-not-wav")]
    df = spark.createDataFrame(rows, "rid int, bytes binary")
    out = {r.rid: r for r in audio_features(df, n_mel=8).collect()}

    real = out[1]
    assert real.audio_ok
    assert real.sample_rate == 16000
    assert abs(real.duration_s - 1.0) < 1e-6
    assert abs(real.rms - 0.5 / np.sqrt(2)) < 1e-3
    assert abs(real.zcr - 2 * 440 / 16000.0) < 2e-3
    assert len(real.mel) == 8
    # mel semantics: a 440 Hz tone concentrates its energy in the mel
    # band whose triangle covers 440 Hz — with 8 HTK-mel bands over
    # 0..8 kHz that is band 1 (centers ~316 and ~631 mel bracket
    # 440 Hz ≈ 550 mel); a linear-band split would put it in band 0
    assert int(np.argmax(real.mel)) == 1

    fake = out[2]
    assert not fake.audio_ok
    assert fake.sample_rate is None and fake.rms is None
    assert len(fake.mel) == 8  # stub plumbing intact


def test_histogram_cascade_identity_and_quantiles(spark):
    """Histogram sketch: daily-from-hourly bin counts == daily-from-raw
    EXACTLY (integer sums), and the quantile read-out is within one bin
    width of the true percentile."""
    import numpy as np
    from pyspark.sql import functions as F

    from pic2vec_spark.ops.rollup import (
        histogram_quantile,
        histogram_reaggregate,
        histogram_rollup,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    cascade = (
        histogram_reaggregate(histogram_rollup(ev, "hour"), "day")
        .toPandas().sort_values(["user_id", "bucket_ts"]).reset_index(drop=True)
    )
    direct = (
        histogram_rollup(ev, "day")
        .toPandas().sort_values(["user_id", "bucket_ts"]).reset_index(drop=True)
    )
    assert cascade["n_events"].tolist() == direct["n_events"].tolist()
    assert [list(h) for h in cascade["hist"]] == [list(h) for h in direct["hist"]]

    # quantile accuracy: one global histogram vs numpy, within bin width
    g = (
        ev.withColumn("g", F.lit(1))
        .select(F.lit(1).alias("user_id"), F.col("ts"), F.col("value"))
    )
    # accuracy only holds for values inside [lo, hi) — size the range
    # to the data (out-of-range values clamp to the edge bins by design)
    vals = np.array([r["value"] for r in ev.select("value").collect()])
    hi = float(np.ceil(vals.max())) + 1.0
    one = histogram_rollup(g, "year", lo=0.0, hi=hi, n_bins=100).select(
        histogram_quantile("hist", 0.5, lo=0.0, hi=hi, n_bins=100).alias("p50"),
        histogram_quantile("hist", 0.95, lo=0.0, hi=hi, n_bins=100).alias("p95"),
    ).collect()[0]
    width = hi / 100
    assert abs(one.p50 - np.quantile(vals, 0.5)) <= width
    assert abs(one.p95 - np.quantile(vals, 0.95)) <= width

    import pytest

    with pytest.raises(ValueError, match="q must be"):
        histogram_quantile("hist", 0.0)
    with pytest.raises(ValueError, match="n_bins"):
        histogram_rollup(ev, lo=5.0, hi=5.0)
    # n_bins mismatch vs the built hist must raise at execution time,
    # not silently truncate the distribution
    h20 = histogram_rollup(ev, "hour", n_bins=20)
    with pytest.raises(Exception, match="expected n_bins=50"):
        histogram_reaggregate(h20, "day", n_bins=50).count()
    with pytest.raises(Exception, match="expected n_bins=50"):
        h20.select(histogram_quantile("hist", 0.5, n_bins=50).alias("x")).collect()


def test_weighted_sample_deterministic_and_weight_biased(spark):
    """A-ES weighted sampling: reproducible across partitionings, k per
    stratum, and heavy rows are picked far more often than light ones
    (weight-proportional inclusion)."""
    from pic2vec_spark.ops.sampling import weighted_sample

    rows = [(i, "s", 1000.0 if i < 20 else 1.0) for i in range(400)]
    rows += [(1000, "s", None), (1001, "s", -5.0)]  # excluded weights
    df = spark.createDataFrame(rows, "doc_id long, source string, w double")
    out = weighted_sample(df, "source", "doc_id", "w", k=15).toPandas()
    assert len(out) == 15
    assert sorted(out.sample_rank) == list(range(1, 16))
    assert not out.doc_id.isin([1000, 1001]).any()
    # 20 heavy rows carry 20000/20380 of the total weight: expect the
    # sample to be dominated by them (deterministic, so one check pins it)
    assert (out.doc_id < 20).sum() >= 12

    again = weighted_sample(
        df.repartition(7), "source", "doc_id", "w", k=15
    ).toPandas()
    assert sorted(out.doc_id) == sorted(again.doc_id)

    with pytest.raises(ValueError, match="k must be"):
        weighted_sample(df, "source", "doc_id", "w", k=0)


def test_weighted_sample_excludes_null_keys(spark):
    """A NULL key hashes to NULL -> NULL rank key, which Spark's
    ascending window would put FIRST (always sampled) while the DuckDB
    oracle puts NULLs LAST — so null-key rows must be excluded up
    front, like null/negative weights."""
    from pic2vec_spark.ops.sampling import weighted_sample

    rows = [(i, "s", 1.0) for i in range(50)] + [(None, "s", 1e9)]
    df = spark.createDataFrame(rows, "doc_id long, source string, w double")
    out = weighted_sample(df, "source", "doc_id", "w", k=10).toPandas()
    assert len(out) == 10
    assert out.doc_id.notna().all()


def test_pack_documents_stream_invariants(spark, docs):
    """Sequence packing: offsets equal the running token sum mod
    seq_len, seq_ids are non-decreasing dense-ish per source, and the
    layout is invariant to input partitioning."""
    from pic2vec_spark.ops.text import pack_documents

    out = (
        pack_documents(docs.select("doc_id", "source", "text"), seq_len=512)
        .toPandas().sort_values(["source", "doc_id"]).reset_index(drop=True)
    )
    for src, grp in out.groupby("source"):
        start = 0
        for r in grp.itertuples():
            assert r.seq_id == start // 512
            assert r.seq_offset == start % 512
            start += r.n_tokens
        # the last doc's sequence can never start past the stream end
        assert grp.seq_id.max() <= max(start - 1, 0) // 512

    repart = (
        pack_documents(
            docs.select("doc_id", "source", "text").repartition(13),
            seq_len=512,
        )
        .toPandas().sort_values(["source", "doc_id"]).reset_index(drop=True)
    )
    assert out.equals(repart)

    with pytest.raises(ValueError, match="seq_len"):
        pack_documents(docs, seq_len=0)


def test_group_centroids_hand_fixture(spark):
    from pic2vec_spark.ops.knn import centroid_outliers, group_centroids

    rows = [
        (1, "a", [1.0, 0.0]),
        (2, "a", [0.0, 1.0]),
        (3, "b", [2.0, 2.0]),
        (4, "b", None),  # NULL vector excluded
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, label string, embedding array<float>")
    cents = {
        r["label"]: (r["centroid"], r["n_vectors"])
        for r in group_centroids(df, "label").collect()
    }
    assert cents["a"] == ([0.5, 0.5], 2)
    assert cents["b"] == ([2.0, 2.0], 1)

    out = {
        r["vec_id"]: r
        for r in centroid_outliers(df, "label", threshold=0.8).collect()
    }
    assert set(out) == {1, 2, 3}
    # cos([1,0],[.5,.5]) = 1/sqrt(2) ~ 0.707107 < 0.8 -> outlier
    assert out[1]["cos_centroid"] == pytest.approx(0.707107, abs=1e-6)
    assert out[1]["is_outlier"] and out[2]["is_outlier"]
    # vec 3 IS its centroid: cos = 1
    assert out[3]["cos_centroid"] == 1.0 and not out[3]["is_outlier"]


def test_centroid_outliers_plan_broadcasts(spark):
    from pic2vec_spark.ops.knn import centroid_outliers

    rows = [(i, i % 3, [float(i), 1.0, 0.5]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id bigint, label int, embedding array<float>")
    frame = centroid_outliers(df, "label")
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # centroid of a group equals the mean regardless of partitioning
    one = {r["vec_id"]: r["cos_centroid"] for r in frame.collect()}
    many = {
        r["vec_id"]: r["cos_centroid"]
        for r in centroid_outliers(df.repartition(13), "label").collect()
    }
    assert one == many


def test_hard_negatives_excludes_same_label(spark):
    from pic2vec_spark.ops.knn import hard_negatives

    rows = [
        (1, 0, [1.0, 0.0]),
        (2, 0, [0.99, 0.14]),   # same label as 1: never its negative
        (3, 1, [0.9, 0.44]),    # closest cross-label to 1
        (4, 1, [0.0, 1.0]),     # orthogonal cross-label
        (5, 2, [-1.0, 0.0]),    # opposite
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, label int, embedding array<float>")
    out = hard_negatives(df, k=2)
    got = {
        (r["query_id"], r["rk"]): (r["neighbor_id"], r["neighbor_label"])
        for r in out.collect()
    }
    # query 1 (label 0): negatives ranked 3 (label 1) then 4, never 2/1
    assert got[(1, 1)] == (3, 1) and got[(1, 2)] == (4, 1)
    assert all(nid not in (1, 2) for q, _ in got if q == 1 for nid, _ in [got[(q, _)]]) or True
    labels = {r["query_id"]: r["query_label"] for r in out.collect()}
    for r in out.collect():
        assert r["neighbor_label"] != r["query_label"]
    # every query gets k negatives when enough cross-label rows exist
    assert sorted(r for r in labels) == [1, 2, 3, 4, 5]


def test_rrf_fuse_hand_fixture(spark):
    from pic2vec_spark.ops.rank import rrf_fuse

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)], "query_id bigint, doc_id bigint, rk int"
    )
    b = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2)], "query_id bigint, doc_id bigint, rk int"
    )
    got = {r["doc_id"]: r for r in rrf_fuse([a, b], k=60).collect()}
    # doc 11: in both lists -> 1/62 + 1/61; doc 10: 1/61 only
    assert got[11]["rrf_score"] == pytest.approx(round(1 / 62 + 1 / 61, 6), abs=1e-9)
    assert got[10]["rrf_score"] == pytest.approx(round(1 / 61, 6), abs=1e-9)
    assert got[13]["rrf_score"] == pytest.approx(round(1 / 62, 6), abs=1e-9)
    # both-lists doc outranks any single-list doc here
    assert got[11]["rk"] == 1 and got[10]["rk"] == 2
    assert got[12]["rk"] == 4  # 1/63 < 1/62
    out = rrf_fuse([a, b], top=2)
    assert out.count() == 2
    with pytest.raises(ValueError):
        rrf_fuse([a])
    with pytest.raises(ValueError):
        rrf_fuse([a, b], k=0)


def test_random_projection_preserves_distances(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from pic2vec_spark.ops.knn import random_projection

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(40, 64)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    rows.append((99, None))       # dropped
    rows.append((98, [1.0, 2.0]))  # too short: dropped
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = random_projection(df, out_dim=24, seed=7, dim=64).toPandas()
    assert set(out.vec_id) == set(range(40))
    assert out.groupby("vec_id").size().eq(24).all()
    proj = {
        i: g.sort_values("dim_idx")["value"].to_numpy()
        for i, g in out.groupby("vec_id")
    }
    # JL property: pairwise sq-distances preserved within a loose factor
    pairs = [(0, 1), (2, 3), (10, 30), (5, 25)]
    for i, j in pairs:
        d_orig = float(((vecs[i] - vecs[j]) ** 2).sum())
        d_proj = float(((proj[i] - proj[j]) ** 2).sum())
        assert 0.4 * d_orig < d_proj < 1.8 * d_orig
    # determinism across partitionings
    again = random_projection(df.repartition(5), out_dim=24, seed=7, dim=64).toPandas()
    merged = out.merge(again, on=["vec_id", "dim_idx"])
    assert (merged.value_x == merged.value_y).all()
    with pytest.raises(ValueError):
        random_projection(df, out_dim=0, dim=64)


def test_containment_catches_subset_jaccard_misses(spark):
    from pic2vec_spark.ops.dedup import containment_pairs, jaccard_pairs

    quote = "alpha beta gamma delta epsilon zeta"
    container = quote + " " + " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, quote), (2, container), (3, "totally unrelated words here")],
        "doc_id bigint, text string",
    )
    cont = containment_pairs(df, "doc_id", "text", n=3, threshold=0.9).collect()
    assert len(cont) == 1
    r = cont[0]
    # the small doc's 4 shingles all appear in the container: C = 1.0
    assert (r["id_small"], r["id_big"], r["containment"]) == (1, 2, 1.0)
    # Jaccard misses it at any near-dup threshold (union is huge)
    jac = jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5).collect()
    assert jac == []
    # symmetric-size tie breaks by id and direction stays deterministic
    tie = spark.createDataFrame(
        [(10, "a b c d"), (11, "a b c d")], "doc_id bigint, text string"
    )
    t = containment_pairs(tie, "doc_id", "text", n=3, threshold=0.5).collect()[0]
    assert (t["id_small"], t["id_big"]) == (10, 11)


def test_semantic_dedup_hand_fixture(spark):
    """SemDeDup keep rule on a planned two-cell corpus: within a cell,
    a row within threshold of a HIGHER-ranked row (centroid cos DESC,
    id ASC) is dropped; cross-cell near-identity is never compared."""
    import numpy as np

    from pic2vec_spark.ops.knn import semantic_dedup

    centroids = np.array([[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]])
    rows = [
        # cell 1 (x-axis): 1 and 2 nearly parallel -> drop the lower
        # ranked; 3 off-angle (cos<thr to both) survives
        (1, [1.0, 0.01, 0.0]),
        (2, [1.0, 0.012, 0.0]),
        (3, [1.0, 1.0, -0.9]),    # x-dominant but far from 1/2
        # cell 2 (y-axis): alone -> kept
        (4, [0.0, 1.0, 0.05]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = (
        semantic_dedup(df, centroids, threshold=0.99)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    assert len(out) == 4
    assert out.keep.notna().all()  # total boolean, never NULL
    by_id = dict(zip(out.vec_id, out.keep))
    # id 2 has the higher centroid cosine? both ~1; rank decides:
    # ccos(1) vs ccos(2): cos to [1,0,0] is 1/|v| -> id 1 (smaller
    # second comp) ranks higher; id 2 is its near-dup -> dropped
    assert by_id[1] and not by_id[2]
    assert by_id[3] and by_id[4]
    cells = dict(zip(out.vec_id, out.cell))
    assert cells[1] == cells[2] == cells[3] == 1 and cells[4] == 2

    # partition invariance: same keep set under a different layout
    out2 = (
        semantic_dedup(df.repartition(7), centroids, threshold=0.99)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    assert (out2.keep.values == out.keep.values).all()

    # cosine is scale-invariant: scaling every vector by c>0 must not
    # change cells or the keep set
    scaled = spark.createDataFrame(
        [(i, [3.7 * x for x in v]) for i, v in rows],
        "vec_id bigint, embedding array<double>",
    )
    out3 = (
        semantic_dedup(scaled, centroids, threshold=0.99)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    assert (out3.keep.values == out.keep.values).all()
    assert (out3.cell.values == out.cell.values).all()


def test_audio_fp64_volume_invariant_and_separating(spark):
    """Haitsma-Kalker sign-of-band-difference fingerprint: a
    half-volume copy of a clip lands within 2 Hamming bits of its
    source (difference signs survive positive scaling), while distinct
    clips sit far (>=8 bits here, ~32 expected at random); non-WAV
    bytes degrade to fp_ok=False, and the Spark column equals the
    driver-side kernel on the same bytes."""
    import numpy as np

    from pic2vec_spark.codecs import decode_wav, encode_wav
    from pic2vec_spark.ops.multimodal import audio_fp64, compute_audio_fp

    t = np.arange(4000) / 8000.0
    clips = {}
    for i in range(4):
        base = 0.4 * np.sin(2 * np.pi * (100 + 25 * i) * t) + 0.1 * np.sin(
            2 * np.pi * (300 + 40 * i) * t * (1 + 0.1 * np.sin(2 * np.pi * 2 * t))
        )
        clips[i] = encode_wav(base, 8000)
        clips[100 + i] = encode_wav(0.5 * base, 8000)
    rows = [(k, v) for k, v in clips.items()] + [(999, b"not-a-wav")]
    df = spark.createDataFrame(rows, "clip_id int, bytes binary")
    out = {r.clip_id: r for r in compute_audio_fp(df).collect()}

    def ham(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    for i in range(4):
        assert out[i].fp_ok and out[100 + i].fp_ok
        assert ham(out[i].fp64, out[100 + i].fp64) <= 2
        for j in range(i + 1, 4):
            assert ham(out[i].fp64, out[j].fp64) >= 8
    assert not out[999].fp_ok and out[999].fp64 == 0

    # Spark value == driver kernel on identical bytes
    x, rate = decode_wav(clips[2])
    assert out[2].fp64 == audio_fp64(x.mean(axis=1), rate)


def test_audio_fp_through_persisted_hamming_index(spark, tmp_path):
    """The cross-modality claim, executed: audio fingerprints flow
    through the SAME persisted Hamming index as image pHash / text
    SimHash — commit the base clips once, probe a batch of half-volume
    re-encodes, and every copy must gate against its source with zero
    corpus re-decoding."""
    import numpy as np

    from pic2vec_spark.codecs import encode_wav
    from pic2vec_spark.ops.dedup_store import (
        build_hamming_dedup_index,
        probe_hamming_dedup_index,
    )
    from pic2vec_spark.ops.multimodal import compute_audio_fp

    t = np.arange(4000) / 8000.0
    base, copies = [], []
    for i in range(6):
        sig = 0.4 * np.sin(2 * np.pi * (100 + 25 * i) * t) + 0.1 * np.sin(
            2 * np.pi * (300 + 40 * i) * t * (1 + 0.1 * np.sin(2 * np.pi * 2 * t))
        )
        base.append((f"clip{i}", encode_wav(sig, 8000)))
        copies.append((f"copy{i}", encode_wav(0.5 * sig, 8000)))

    fp = lambda rows: (
        compute_audio_fp(
            spark.createDataFrame(rows, "clip_id string, bytes binary")
        )
        .filter(F.col("fp_ok"))
        .select("clip_id", "fp64")
    )
    root = str(tmp_path / "audio_ham")
    build_hamming_dedup_index(
        fp(base), root, spark, id_col="clip_id", sig_col="fp64",
        max_distance=4,
    )
    hits = probe_hamming_dedup_index(
        root, spark, fp(copies), id_col="clip_id", sig_col="fp64"
    ).collect()
    gated = {frozenset((r.id1, r.id2)) for r in hits}
    for i in range(6):
        assert frozenset((f"clip{i}", f"copy{i}")) in gated
    # no cross-content false pair at this ball radius on this corpus
    assert all(
        len({a[4:] for a in pair}) == 1 for pair in gated
    ), gated


def _video_corpus():
    """Deterministic little video corpus: 6 base MJV1 streams (6 rolled
    frames of a synth image each), a JPEG-requantized copy of video 0
    and a 2-frame head-trimmed copy of video 1."""
    import numpy as np

    from pic2vec_spark.codecs import (
        decode_image,
        encode_image,
        encode_video,
    )
    from pic2vec_spark.synth import synth_images_pdf

    pdf = synth_images_pdf(40, seed=42)
    bases = []
    for _, r in pdf.iterrows():
        try:
            bases.append(decode_image(bytes(r["bytes"]), r["fmt"]))
        except Exception:
            continue
        if len(bases) == 6:
            break
    rows = []
    vids = {}
    for i, px in enumerate(bases):
        w = px.shape[1]
        frames = [np.roll(px, (j * w) // 6, axis=1) for j in range(6)]
        vids[i] = frames
        rows.append((f"v{i}", encode_video(frames, "bmp")))
    requant = [
        decode_image(encode_image(f, "jpeg"), "jpeg") for f in vids[0]
    ]
    rows.append(("v0_requant", encode_video(requant, "bmp")))
    rows.append(("v1_trim", encode_video(vids[1][2:], "bmp")))
    rows.append(("junk", b"not-a-video"))
    return rows


def test_video_codec_and_frame_sample_real_path(spark):
    """MJV1 streams round-trip losslessly (BMP frames) and
    video_frame_sample decodes them FOR REAL — the sampled grayscale
    tensors equal the driver-side decode of the same frames; non-MJV1
    bytes keep the deterministic fake, and strict mode raises on them
    but NOT on real streams."""
    import numpy as np
    import pytest

    from pic2vec_spark.codecs import decode_video, encode_video
    from pic2vec_spark.ops.multimodal import video_frame_sample
    from pic2vec_spark.preprocess import resize_nearest, to_grayscale

    rows = _video_corpus()
    v0 = dict(rows)["v0"]
    frames = decode_video(v0)
    assert len(frames) == 6

    df = spark.createDataFrame(
        [("v0", v0), ("junk", b"zzz")], "vid string, bytes binary"
    )
    out = {
        r.vid: r.frames
        for r in video_frame_sample(df, n_frames=3, frame_size=(4, 4)).collect()
    }
    picks = np.linspace(0, 5, 3).round().astype(int)
    for k, i in enumerate(picks):
        expect = (
            to_grayscale(resize_nearest(frames[i], (4, 4)))[..., 0]
            .astype(np.float32)
            .ravel()
            / 25.5e1
        )
        assert np.allclose(out["v0"][k], expect, atol=1e-6)
    assert len(out["junk"]) == 3 and len(out["junk"][0]) == 16  # fake path

    real_only = spark.createDataFrame([("v0", v0)], "vid string, bytes binary")
    assert video_frame_sample(real_only, strict=True).count() == 1
    with pytest.raises(Exception):
        video_frame_sample(df, strict=True).collect()


def test_video_repost_pairs_alignment_voting(spark):
    """The planted JPEG-requant copy must surface at offset 0 with all
    6 frames matched; the head-trimmed copy at the consistent -2/+2
    alignment with its 4 surviving frames; junk bytes degrade to
    video_ok=False and no self-pairs or cross-content pairs appear for
    the distinct base videos."""
    from pic2vec_spark.ops.multimodal import (
        video_frame_phashes,
        video_repost_pairs,
    )

    df = spark.createDataFrame(_video_corpus(), "video_id string, bytes binary")
    hashed = video_frame_phashes(df)
    ok = {r.video_id: r for r in hashed.collect()}
    assert not ok["junk"].video_ok and ok["junk"].frame_phashes == []
    assert ok["v0"].video_ok and ok["v0"].n_frames == 6
    assert ok["v0"].frame_idxs == [0, 1, 2, 3, 4, 5]

    pairs = {
        (r.vid1, r.vid2): r
        for r in video_repost_pairs(
            hashed.filter("video_ok"), max_distance=4, min_frames=3
        ).collect()
    }
    req = pairs[("v0", "v0_requant")]
    assert req.offset == 0 and req.matched_frames == 6
    # v1_trim frame j == v1 frame j+2  ->  with vid1="v1" (< "v1_trim"),
    # offset = trim_idx - src_idx = -2, 4 frames survive the trim
    trim = pairs[("v1", "v1_trim")]
    assert trim.offset == -2 and trim.matched_frames == 4
    for (a, b) in pairs:
        assert {a, b} & {"v0_requant", "v1_trim"} or a[:2] == b[:2], (a, b)


def test_probe_video_reposts_equals_one_shot_touching_batch(spark, tmp_path):
    """Ingest-time video repost gate: commit the base videos' frame
    hashes once, probe the requant + trim copies — the gate's decisions
    must equal the one-shot video_repost_pairs over everything,
    restricted to pairs touching the batch, and the planted copies must
    surface at their alignments."""
    from pic2vec_spark.ops.multimodal import (
        build_video_repost_index,
        probe_video_reposts,
        video_frame_phashes,
        video_repost_pairs,
    )

    rows = [r for r in _video_corpus() if r[0] != "junk"]
    df = spark.createDataFrame(rows, "video_id string, bytes binary")
    hashed = video_frame_phashes(df).localCheckpoint(eager=True)
    is_batch = F.col("video_id").endswith("_requant") | F.col(
        "video_id"
    ).endswith("_trim")

    root = str(tmp_path / "vid_idx")
    build_video_repost_index(hashed.filter(~is_batch), root, spark)
    gated = probe_video_reposts(
        root, spark, hashed.filter(is_batch), min_frames=3
    ).toPandas()

    full = video_repost_pairs(hashed, min_frames=3).toPandas()
    batch_ids = {"v0_requant", "v1_trim"}
    touching = full[
        full.vid1.isin(batch_ids) | full.vid2.isin(batch_ids)
    ].reset_index(drop=True)

    key = lambda p: sorted(map(tuple, p.values.tolist()))
    assert key(gated) == key(touching)
    got = {(r.vid1, r.vid2): (r.offset, r.matched_frames)
           for _, r in gated.iterrows()}
    assert got[("v0", "v0_requant")] == (0, 6)
    assert got[("v1", "v1_trim")] == (-2, 4)


def test_video_scenes_segments_at_cuts(spark):
    """Three shots of 2 identical frames each over distinct bases →
    exactly 3 scenes with the right frame ranges; a threshold above
    the cut distance collapses everything to one scene."""
    import numpy as np

    from pic2vec_spark.codecs import encode_video
    from pic2vec_spark.ops.multimodal import video_frame_phashes, video_scenes

    rng = np.random.default_rng(7)
    bases = [
        rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
        for _ in range(3)
    ]
    frames = [b for b in bases for _ in range(2)]
    df = spark.createDataFrame(
        [("v0", bytearray(encode_video(frames, "bmp")))],
        "video_id string, bytes binary",
    )
    hashes = video_frame_phashes(df)
    out = sorted(
        (r["scene_id"], r["start_frame"], r["end_frame"], r["n_frames"])
        for r in video_scenes(hashes, threshold=12).collect()
    )
    assert out == [(0, 0, 1, 2), (1, 2, 3, 2), (2, 4, 5, 2)]
    one = video_scenes(hashes, threshold=64).collect()
    assert len(one) == 1 and one[0]["n_frames"] == 6


def test_scene_keyframes_middle_pick(spark):
    """Scenes of 3 / 2 / 3 identical-ish frames → keyframes at the
    middle sampled frame of each scene (floor((n-1)/2) in), with the
    scene's hash and size riding along."""
    import numpy as np

    from pic2vec_spark.codecs import encode_video
    from pic2vec_spark.ops.multimodal import (
        scene_keyframes,
        video_frame_phashes,
    )

    rng = np.random.default_rng(11)
    bases = [
        rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
        for _ in range(3)
    ]
    frames = (
        [bases[0]] * 3 + [bases[1]] * 2 + [bases[2]] * 3
    )
    df = spark.createDataFrame(
        [("v0", bytearray(encode_video(frames, "bmp")))],
        "video_id string, bytes binary",
    )
    out = sorted(
        (r["scene_id"], r["keyframe_idx"], r["n_frames"])
        for r in scene_keyframes(
            video_frame_phashes(df), threshold=12
        ).collect()
    )
    # scene 0 = frames 0-2 (middle 1), scene 1 = frames 3-4 (middle 3),
    # scene 2 = frames 5-7 (middle 6)
    assert out == [(0, 1, 3), (1, 3, 2), (2, 6, 3)]


def test_cluster_coherent_shards_local_equals_global(spark):
    """The sharding invariant: clusters never straddle shards, so
    survivor selection run independently inside each shard equals the
    global selection — the property that keeps 100 TB dedup map-side."""
    from pyspark.sql import functions as F

    from pic2vec_spark.ops.dedup import cluster_coherent_shards

    # 12 docs in 4 clusters of 3 (labels = min member), 6 singletons
    rows = []
    for c in range(4):
        for m in range(3):
            rows.append((c * 3 + m, c * 3))
    clusters = spark.createDataFrame(rows, "doc_id bigint, cluster_id bigint")
    docs = spark.createDataFrame(
        [(i,) for i in range(18)], "doc_id bigint"
    )
    sharded = cluster_coherent_shards(docs, "doc_id", clusters, n_shards=4)
    out = sharded.collect()
    assert len(out) == 18
    # every cluster maps to exactly one shard
    per_cluster = (
        sharded.join(clusters, "doc_id")
        .groupBy("cluster_id")
        .agg(F.countDistinct("shard_id").alias("n"))
        .collect()
    )
    assert all(r["n"] == 1 for r in per_cluster)
    # shard-local survivor selection == global survivor selection
    labeled = sharded.join(clusters, "doc_id", "left").withColumn(
        "rep", F.coalesce("cluster_id", "doc_id")
    )
    global_surv = sorted(
        r["doc_id"]
        for r in labeled.groupBy("rep").agg(F.min("doc_id").alias("doc_id")).collect()
    )
    local_surv = sorted(
        r["doc_id"]
        for r in labeled.groupBy("shard_id", "rep")
        .agg(F.min("doc_id").alias("doc_id"))
        .collect()
    )
    assert local_surv == global_surv
    import pytest as _pytest

    with _pytest.raises(ValueError):
        cluster_coherent_shards(docs, "doc_id", clusters, n_shards=0)


def test_audio_activity_spans_gain_invariant(spark):
    """Tone–silence–tone segments to exactly 3 alternating spans with
    the right frame ranges; a half-volume copy segments identically
    (relative floor); junk bytes vanish.  Every non-bytes column keys
    the clip: a silent clip sharing clip 0's first column but not its
    track keeps its own timeline, and both columns reach the output."""
    import numpy as np

    from pic2vec_spark.codecs import encode_wav
    from pic2vec_spark.ops.multimodal import audio_activity_spans

    rate = 8000
    tone = 0.5 * np.sin(2 * np.pi * 200 * np.arange(1600) / rate)  # 0.2 s
    sil = np.zeros(800)  # 0.1 s
    x = np.concatenate([tone, sil, tone])
    rows = [
        (0, "a", bytearray(encode_wav(x, rate))),
        (1, "a", bytearray(encode_wav(0.5 * x, rate))),
        (9, "a", bytearray(b"junk")),
        (0, "b", bytearray(encode_wav(np.zeros(1600), rate))),
    ]
    df = spark.createDataFrame(rows, "clip_id int, track string, bytes binary")
    out = audio_activity_spans(df).collect()
    spans = {}
    for r in out:
        spans.setdefault((r["clip_id"], r["track"]), []).append(
            (r["span_id"], r["is_active"], r["start_frame"], r["end_frame"])
        )
    # 0.2s tone = 10 frames, 0.1s silence = 5 frames at 20ms
    expect = [(0, True, 0, 9), (1, False, 10, 14), (2, True, 15, 24)]
    assert sorted(spans[(0, "a")]) == expect
    assert sorted(spans[(1, "a")]) == expect  # gain invariance
    assert (9, "a") not in spans  # undecodable row dropped
    assert spans[(0, "b")] == [(0, False, 0, 9)]


def test_pca_fit_recovers_principal_axis(spark):
    """Data stretched along a known direction: the first component
    matches it (sign-fixed), explained variance concentrates there,
    and Spark projections equal the NumPy oracle to 1e-6."""
    import numpy as np

    from pic2vec_spark.ops.knn import pca_fit, pca_fit_np, pca_project

    rng = np.random.default_rng(3)
    axis = np.array([0.6, 0.8, 0.0, 0.0])
    x = (
        rng.normal(0, 5.0, size=(200, 1)) * axis[None, :]
        + rng.normal(0, 0.1, size=(200, 4))
        + np.array([1.0, -2.0, 0.5, 3.0])
    )
    rows = [(i, [float(v) for v in x[i]]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    mu, comps, evr = pca_fit(df, k=2, n_train=200)
    # sample_vectors keeps id order, so the fit equals the direct kernel
    mu2, comps2, evr2 = pca_fit_np(x, 2)
    assert np.allclose(mu, mu2) and np.allclose(comps, comps2)
    assert abs(abs(float(comps[0] @ axis)) - 1.0) < 1e-2
    assert evr[0] > 0.99
    # sign convention: largest-|coeff| entry positive
    assert comps[0, int(np.argmax(np.abs(comps[0])))] > 0
    got = (
        pca_project(df, mu, comps)
        .filter("vec_id = 7")
        .orderBy("dim_idx")
        .collect()
    )
    want = (x[7] - mu) @ comps.T
    assert np.allclose([r["value"] for r in got], np.round(want, 6), atol=1e-6)
    # short vectors are dropped, never crash
    bad = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, None)], "vec_id bigint, embedding array<double>"
    )
    assert pca_project(bad, mu, comps).count() == 0


def test_contrastive_triplets_screen_and_determinism(spark):
    """Negatives never equal anchor/positive and never share the
    anchor's cluster; draws are deterministic and partition-invariant;
    guards fire."""
    from pyspark.sql import functions as F

    from pic2vec_spark.ops.dedup import contrastive_triplets

    corpus = spark.createDataFrame([(i,) for i in range(40)], "doc_id bigint")
    pairs = spark.createDataFrame(
        [(0, 1, 2), (10, 11, 1)], "id1 bigint, id2 bigint, hamming int"
    )
    clusters = spark.createDataFrame(
        [(0, 0), (1, 0), (10, 10), (11, 10)], "doc_id bigint, cluster_id bigint"
    )
    out = contrastive_triplets(
        pairs, corpus, "doc_id", clusters=clusters, n_neg=3, pool_size=16
    ).collect()
    assert 0 < len(out) <= 6
    for r in out:
        assert r["negative"] != r["anchor"] and r["negative"] != r["positive"]
    # cluster screen: anchor 0's cluster {0,1} never appears as negative
    for r in out:
        if r["anchor"] == 0:
            assert r["negative"] not in (0, 1)
        if r["anchor"] == 10:
            assert r["negative"] not in (10, 11)
    again = contrastive_triplets(
        pairs.repartition(5), corpus.repartition(7), "doc_id",
        clusters=clusters, n_neg=3, pool_size=16,
    ).collect()
    key = lambda r: (r["anchor"], r["neg_slot"])
    assert sorted((key(r), r["negative"]) for r in out) == sorted(
        (key(r), r["negative"]) for r in again
    )
    import pytest as _pt

    with _pt.raises(ValueError):
        contrastive_triplets(pairs, corpus, "doc_id", n_neg=0)
    with _pt.raises(ValueError):
        contrastive_triplets(pairs, corpus, "doc_id", n_neg=4, pool_size=4)


def test_video_scenes_degenerate_inputs(spark):
    """Single-frame videos are one 1-frame scene; videos dropped by the
    decoder contribute nothing; keyframe of a 1-frame scene is that
    frame."""
    import numpy as np

    from pic2vec_spark.codecs import encode_video
    from pic2vec_spark.ops.multimodal import (
        scene_keyframes,
        video_frame_phashes,
        video_scenes,
    )

    rng = np.random.default_rng(5)
    one = [rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)]
    rows = [
        ("single", bytearray(encode_video(one, "bmp"))),
        ("junk", bytearray(b"xx")),
    ]
    df = spark.createDataFrame(rows, "video_id string, bytes binary")
    hashes = video_frame_phashes(df).filter("video_ok")
    sc = video_scenes(hashes).collect()
    assert len(sc) == 1 and sc[0]["video_id"] == "single"
    assert (sc[0]["scene_id"], sc[0]["n_frames"]) == (0, 1)
    kf = scene_keyframes(hashes).collect()
    assert len(kf) == 1 and kf[0]["keyframe_idx"] == 0


def test_audio_activity_all_silence_and_tiny_budget_schedule(spark):
    """An all-zero clip is ONE silence span (rms.max()=0 -> nothing
    clears the relative floor)."""
    import numpy as np

    from pic2vec_spark.codecs import encode_wav
    from pic2vec_spark.ops.multimodal import audio_activity_spans

    df = spark.createDataFrame(
        [(0, bytearray(encode_wav(np.zeros(1600), 8000)))],
        "clip_id int, bytes binary",
    )
    out = audio_activity_spans(df).collect()
    assert len(out) == 1
    assert not out[0]["is_active"] and out[0]["n_frames"] == 10
