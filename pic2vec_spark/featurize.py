"""The distributed featurize pipeline (the engine's flagship operator).

Reference lifecycle being re-expressed (not ported):
``ImageFeaturizer.featurize`` — batch loop → decode/preprocess →
``model.predict`` → widen (/root/reference/pic2vec/image_featurizer.py:
362-482, feature_preprocessing.py:355-478, data_featurizing.py:20-55).

Spark plan:

    scan (image_id, bytes, fmt, ...)
      -> __digest = md5(bytes, fmt)            [computed at scan, pre-shuffle]
      -> dedup: groupBy(__digest).first(bytes, fmt)
         (replaces the reference's in-batch memo dedup,
          feature_preprocessing.py:448-455 — here it is global: each
          distinct image content is decoded + run through the CNN once,
          regardless of how many rows share it)
      -> repartition(n) round-robin              [CNN work spread evenly:
         per-row op, order-free → safe to salt/rebalance arbitrarily;
         this is where hot-phash duplicate clusters would otherwise skew]
      -> mapInPandas(decode + preprocess + NumPy CNN forward)
         (Arrow batches; zero per-row Python at the Spark level)
      -> join features back on __digest          [AQE picks broadcast when
         the distinct side is small; bytes are pruned out of this shuffle
         because __digest is materialized before the exchange]

Missing semantics match the reference: invalid format / empty / corrupt
bytes → zero pixel tensor → CNN-of-zeros feature vector + missing=True
(feature_preprocessing.py:318-323,443-446; data_featurizing.py:58-76).
f(0) is computed once per worker, not per missing row.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pic2vec_spark.codecs import decode_image
from pic2vec_spark.model import model_forward, model_weights, weights_source
from pic2vec_spark.plan import FeaturizerPlan
from pic2vec_spark.preprocess import preprocess_pixels, resize_nearest

# Images per model_forward call.  SqueezeNet then runs them one at a
# time through its buffer arena (model.squeezenet_features); the other
# models run the slice as one batch, whose working set (activations +
# im2col) grows with it: at 32 concurrent workers on a 16-core host,
# chunk 8 gave twice the aggregate throughput of chunk 32.
CNN_CHUNK = 8

_DIGEST = "__digest"


# ------------------------------------------------------------------ kernels
# (shared verbatim by the single-machine oracle — pic2vec_spark.oracle)

def decode_to_tensor(
    data: bytes | None, fmt: str | None, plan: FeaturizerPlan
) -> np.ndarray | None:
    """bytes -> preprocessed (H, W, 3) float32, or None when missing."""
    if data is None:
        return None
    try:
        img = decode_image(data, fmt or "")
    except Exception:
        return None
    img = resize_nearest(img, plan.target_size)
    return preprocess_pixels(
        img.astype(np.float32)[None], plan.preprocess_mode
    )[0]


def forward_features(
    tensors: np.ndarray, plan: FeaturizerPlan, weights: dict[str, np.ndarray]
) -> np.ndarray:
    """(N, H, W, 3) float32 -> (N, num_features) float32 in CNN_CHUNK slices."""
    outs = []
    for i in range(0, len(tensors), CNN_CHUNK):
        outs.append(
            model_forward(plan.model, tensors[i : i + CNN_CHUNK], weights, plan.depth)
        )
    raw = np.concatenate(outs) if outs else np.zeros((0, plan.raw_width), np.float32)
    return plan.finalize(raw).astype(np.float32)


def featurize_batch(
    datas: list[bytes | None],
    fmts: list[str | None],
    plan: FeaturizerPlan,
    weights: dict[str, np.ndarray],
    zero_features: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Decode+preprocess+CNN one batch; returns (features, missing)."""
    h, w = plan.target_size
    tensors = []
    valid_idx = []
    missing = np.zeros(len(datas), dtype=bool)
    for i, (d, f) in enumerate(zip(datas, fmts)):
        t = decode_to_tensor(d, f, plan)
        if t is None:
            missing[i] = True
        else:
            tensors.append(t)
            valid_idx.append(i)
    features = np.tile(zero_features, (len(datas), 1))
    if tensors:
        feats = forward_features(np.stack(tensors), plan, weights)
        features[np.array(valid_idx)] = feats
    return features.astype(np.float32), missing


_worker_cache: dict = {}


def _zero_features(
    plan: FeaturizerPlan,
    source: str | None = None,
    weights: dict[str, np.ndarray] | None = None,
) -> np.ndarray:
    """f(zero tensor) — what the reference's model.predict returns for
    missing rows' zero slices; computed once per process per (weight
    source, plan) and reused.

    ``source`` is the ``weights_source`` tag ``weights`` were resolved
    from (default: this process's resolution); ``weights`` are resolved
    here when omitted, and only on a cache miss.  The entry keeps the
    vector alone: keying by weight source rather than by the weights
    object means a fresh weights dict per call (or per broadcast) hits
    the same entry instead of pinning another weight set, while an
    installed npz blob and the seeded stand-ins never share one."""
    if source is None:
        source = weights_source(plan.model, plan.depth)
    key = ("zero", source, plan)
    if key not in _worker_cache:
        if weights is None:
            weights = model_weights(plan.model, plan.weight_seed, plan.depth)
        h, w = plan.target_size
        zeros = np.zeros((1, h, w, 3), dtype=np.float32)
        _worker_cache[key] = forward_features(zeros, plan, weights)[0]
    return _worker_cache[key]


def zero_features_lit(plan: FeaturizerPlan) -> Column:
    """f(0) as one ``array<float>`` literal, built with one py4j call
    (``F.array`` over per-element literals costs a round trip per
    element)."""
    return F.lit(_zero_features(plan))


def _weights_ref(sc, plan: FeaturizerPlan, broadcast_weights: bool):
    """Driver-side weights resolution handle: a Broadcast of the resolved
    dict, or — in no-broadcast mode — an ``("expect", source)`` tag of
    WHICH source the driver resolved (``weights_source``: installed
    pretrained blob vs seeded stand-ins).  Executors re-resolve locally
    but must land on the same source: env vars like
    ``$PIC2VEC_SPARK_WEIGHTS_DIR`` are not auto-propagated to executors
    off local mode, and a silent driver/executor split would featurize
    present rows with one weight set and zero-vector/oracle paths with
    another."""
    if broadcast_weights:
        return sc.broadcast(model_weights(plan.model, plan.weight_seed, plan.depth))
    return ("expect", weights_source(plan.model, plan.depth))


def _get_weights(plan: FeaturizerPlan, weights_bc) -> dict[str, np.ndarray]:
    expected = None
    if isinstance(weights_bc, tuple):  # ("expect", source) — no-broadcast tag
        expected = weights_bc[1]
        weights_bc = None
    if weights_bc is not None:
        return weights_bc.value
    actual = weights_source(plan.model, plan.depth)
    if expected is not None and actual != expected:
        raise RuntimeError(
            f"weights source mismatch: driver resolved {expected!r} but "
            f"this executor resolves {actual!r} for model "
            f"{plan.model!r} — propagate PIC2VEC_SPARK_WEIGHTS_DIR (and "
            "the blob files) to executors via "
            "spark.executorEnv/--files, or use broadcast_weights=True"
        )
    # cache key includes the resolved source: a long-lived worker whose
    # weights dir appears/disappears must not serve the other source's dict
    key = ("weights", actual, plan.model, plan.weight_seed, plan.depth)
    if key not in _worker_cache:
        _worker_cache[key] = model_weights(plan.model, plan.weight_seed, plan.depth)
    return _worker_cache[key]


def _ref_source(plan: FeaturizerPlan, weights_ref) -> str:
    """The ``weights_source`` tag a ``_weights_ref`` handle stands for,
    read on the driver (a Broadcast holds what this process resolved;
    the no-broadcast tag names it) — the key workers cache f(0) under."""
    if isinstance(weights_ref, tuple):
        return weights_ref[1]
    return weights_source(plan.model, plan.depth)


# ------------------------------------------------------------------ pipeline

_FEATS_SCHEMA = f"{_DIGEST} string, missing boolean, features array<float>"


def _featurize_udf(plan: FeaturizerPlan, weights_bc, metrics=None):
    """The core Arrow-batched decode+preprocess+CNN UDF over
    (__digest, bytes, fmt) batches -> (__digest, missing, features).
    ``metrics`` (pic2vec_spark.metrics.FeaturizeMetrics) accumulates
    per-stage worker seconds back to the driver: ``cnn_sec`` wall and
    ``cpu_sec`` process CPU of ``featurize_batch``, so worker CPU minus
    ``cpu_sec`` is the engine<->Python boundary."""
    source = _ref_source(plan, weights_bc)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import time as _t

        weights = _get_weights(plan, weights_bc)
        zero_feat = _zero_features(plan, source, weights)
        for pdf in batches:
            t0, c0 = _t.time(), _t.process_time()
            feats, missing = featurize_batch(
                list(pdf["bytes"]), list(pdf["fmt"]), plan, weights, zero_feat
            )
            if metrics is not None:
                metrics.add(
                    images=float(len(pdf)),
                    missing=float(missing.sum()),
                    cnn_sec=_t.time() - t0,
                    cpu_sec=_t.process_time() - c0,
                    batches=1.0,
                )
            yield pd.DataFrame(
                {
                    _DIGEST: pdf[_DIGEST].values,
                    "missing": missing,
                    "features": list(feats),
                }
            )

    return run


def content_digest():
    """The content key all dedup/featurize stages share: md5 over
    (bytes, fmt) — 128 bits.  64-bit keys are not enough at the 10^12-row
    design point (birthday collisions there are ~n^2/2^65 ≈ tens of
    thousands of silently-merged images); at 128 bits the expected
    collision count is ~1e-15.  Hashing cost is negligible next to the
    CNN; the 32-char hex key adds ~24 bytes/row to the dedup shuffle,
    which moves digests only (bytes are pruned before the exchange)."""
    # length-prefixed header makes the (bytes, fmt) encoding injective:
    # without it, (X, 'png') and (X + b'png', '') would hash identically
    header = F.encode(
        F.concat_ws(
            "|",
            F.length(F.coalesce(F.col("bytes"), F.lit(b""))).cast("string"),
            F.coalesce(F.col("fmt"), F.lit("")),
        ),
        "utf-8",
    )
    return F.md5(F.concat(header, F.coalesce(F.col("bytes"), F.lit(b""))))


def featurize_images(
    df: DataFrame,
    plan: FeaturizerPlan | None = None,
    dedup: bool = True,
    feature_partitions: int | None = None,
    broadcast_weights: bool = True,
    metrics=None,
) -> DataFrame:
    """Attach ``missing: boolean`` and ``features: array<float>`` to every
    row of ``df`` (must have ``bytes`` and ``fmt`` columns).

    Result is independent of partitioning and of ``dedup`` — the
    reference's batch-invariance requirement
    (tests/test_image_featurizer.py batch/no-batch equality).
    """
    plan = plan or FeaturizerPlan.build()
    from pic2vec_spark.plan import EXECUTABLE_MODELS

    if plan.model not in EXECUTABLE_MODELS:
        raise NotImplementedError(
            f"{plan.model!r} has no from-scratch NumPy forward pass (the "
            "reference imports it from keras.applications, unavailable "
            "here) — plan metadata still validates it; executable models: "
            f"{EXECUTABLE_MODELS}"
        )
    spark = df.sparkSession
    sc = spark.sparkContext
    weights_bc = _weights_ref(sc, plan, broadcast_weights)
    n_parts = feature_partitions or sc.defaultParallelism * 2
    run = _featurize_udf(plan, weights_bc, metrics)

    if not dedup:
        # inline path: featurize every row in place, no dedup, no join —
        # used to verify dedup-path result-invariance.
        from pyspark.sql import types as T

        inline_schema = T.StructType(
            list(df.schema.fields)
            + [
                T.StructField("missing", T.BooleanType(), False),
                T.StructField("features", T.ArrayType(T.FloatType()), False),
            ]
        )

        source = _ref_source(plan, weights_bc)

        def run_inline(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            weights = _get_weights(plan, weights_bc)
            zero_feat = _zero_features(plan, source, weights)
            for pdf in batches:
                feats_arr, missing = featurize_batch(
                    list(pdf["bytes"]), list(pdf["fmt"]), plan, weights, zero_feat
                )
                out = pdf.copy()
                out["missing"] = missing
                out["features"] = list(feats_arr)
                yield out

        return df.repartition(n_parts).mapInPandas(run_inline, schema=inline_schema)

    with_digest = df.withColumn(_DIGEST, content_digest())
    distinct = (
        with_digest.select(_DIGEST, "bytes", "fmt")
        .groupBy(_DIGEST)
        .agg(F.first("bytes").alias("bytes"), F.first("fmt").alias("fmt"))
    )
    feats = distinct.repartition(n_parts).mapInPandas(run, schema=_FEATS_SCHEMA)
    return with_digest.join(feats, _DIGEST, "left").drop(_DIGEST)


_PX_COLS = ("pixels", "px_h", "px_w", "px_c", "px_mode")


def decode_images(
    df: DataFrame,
    size: tuple[int, int] = (227, 227),
    grayscale: bool = False,
    preprocess_mode: str | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Decode-only pass — the reference's two-step entry point
    (``load_data`` then ``featurize_preloaded_data``,
    /root/reference/pic2vec/image_featurizer.py:182-258,272-344):
    persist decoded tensors once, featurize (or inspect) later.

    Adds ``missing: boolean``, ``pixels: array<float>`` (flattened
    row-major H*W*C), ``px_h/px_w/px_c: int``, ``px_mode: string``.
    Reference semantics reproduced exactly
    (feature_preprocessing.py:281-335):

    - ``preprocess_mode`` ('caffe'/'tf') is applied per VALID image at
      decode time; missing/corrupt rows store the RAW zero tensor
      un-preprocessed (the reference returns ``np.zeros(im_size)``
      instead of a preprocessed image, :318-323) — so a later CNN pass
      sees literal zeros for missing rows, same as the one-step path.
    - ``grayscale=True`` → PIL 'L' ITU-R 601-2 truncated luma,
      channels = 3 - 2*grayscale (:321,426); mutually exclusive with
      ``preprocess_mode`` (the imagenet modes are 3-channel).
    """
    from pyspark.sql import types as T

    from pic2vec_spark.codecs import decode_image
    from pic2vec_spark.preprocess import resize_nearest, to_grayscale

    if grayscale and preprocess_mode:
        raise ValueError("grayscale and preprocess_mode are mutually exclusive")
    channels = 3 - 2 * grayscale
    h, w = size
    schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("missing", T.BooleanType(), False),
            T.StructField("pixels", T.ArrayType(T.FloatType()), False),
            T.StructField("px_h", T.IntegerType(), False),
            T.StructField("px_w", T.IntegerType(), False),
            T.StructField("px_c", T.IntegerType(), False),
            T.StructField("px_mode", T.StringType(), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        zero = np.zeros(h * w * channels, dtype=np.float32)
        for pdf in batches:
            missing = np.zeros(len(pdf), dtype=bool)
            pixels = []
            for i, (d, f) in enumerate(zip(pdf["bytes"], pdf["fmt"])):
                try:
                    if d is None:
                        raise ValueError("null bytes")
                    img = decode_image(d, f or "")
                except Exception:
                    missing[i] = True
                    pixels.append(zero)
                    continue
                img = resize_nearest(img, (h, w))
                if grayscale:
                    img = to_grayscale(img)
                x = img.astype(np.float32)
                if preprocess_mode:
                    x = preprocess_pixels(x[None], preprocess_mode)[0]
                pixels.append(x.ravel())
            out = pdf.copy()
            out["missing"] = missing
            out["pixels"] = pixels
            out["px_h"], out["px_w"], out["px_c"] = h, w, channels
            out["px_mode"] = preprocess_mode or ""
            yield out

    n_parts = partitions or df.sparkSession.sparkContext.defaultParallelism * 2
    return df.repartition(n_parts).mapInPandas(run, schema=schema)


def featurize_preloaded(
    decoded: DataFrame,
    plan: FeaturizerPlan | None = None,
    broadcast_weights: bool = True,
) -> DataFrame:
    """CNN over a ``decode_images`` result (the reference's
    ``featurize_preloaded_data``, image_featurizer.py:272-344): pixels
    are already preprocessed (or zeros for missing rows), so this pass
    forwards directly — no re-preprocessing, matching the reference.
    Equals the one-step ``featurize_images`` path on the same input (the
    reference's entry-point-2 vs entry-point-3 equality invariant,
    tests/test_image_featurizer.py).  Shape/mode invariants are
    re-validated like the reference's featurize_preloaded_data guards
    (:303-312): 3 channels, plan target size, plan preprocess mode."""
    plan = plan or FeaturizerPlan.build()
    from pyspark.sql import types as T

    spark = decoded.sparkSession
    weights_bc = _weights_ref(spark.sparkContext, plan, broadcast_weights)
    schema = T.StructType(
        [f for f in decoded.schema.fields if f.name not in _PX_COLS]
        + [T.StructField("features", T.ArrayType(T.FloatType()), False)]
    )
    ph, pw = plan.target_size
    mode = plan.preprocess_mode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = _get_weights(plan, weights_bc)
        for pdf in batches:
            if len(pdf):
                # validate EVERY row (a union of differently-decoded
                # frames can mix rows within one Arrow batch — a
                # first-row-only check would silently featurize wrong
                # pixels for the rest)
                cs = pdf["px_c"].unique()
                hs = pdf["px_h"].unique()
                ws = pdf["px_w"].unique()
                ms = pdf["px_mode"].unique()
                if len(cs) != 1 or int(cs[0]) != 3:
                    raise ValueError(
                        f"featurize_preloaded needs 3-channel pixels (got "
                        f"channels={sorted(int(c) for c in cs)}); the CNN input "
                        "layer is (H, W, 3) — decode with grayscale=False"
                    )
                if len(hs) != 1 or len(ws) != 1 or (int(hs[0]), int(ws[0])) != (ph, pw):
                    raise ValueError(
                        f"pixel sizes {sorted(zip(map(int, hs), map(int, ws)))} "
                        f"!= plan target_size {(ph, pw)}"
                    )
                if len(ms) != 1 or str(ms[0]) != mode:
                    raise ValueError(
                        f"pixels were preprocessed with mode(s) {sorted(map(str, ms))}; "
                        f"the plan needs {mode!r} — decode with preprocess_mode={mode!r}"
                    )
            x = np.stack(
                [np.asarray(p, dtype=np.float32).reshape(ph, pw, 3) for p in pdf["pixels"]]
            ) if len(pdf) else np.zeros((0, ph, pw, 3), np.float32)
            feats = forward_features(x, plan, weights)
            out = pdf.drop(columns=list(_PX_COLS))
            out["features"] = list(feats)
            yield out

    return decoded.mapInPandas(run, schema=schema)


def incremental_featurize(
    images: DataFrame,
    table,
    plan: FeaturizerPlan | None = None,
    feature_partitions: int | None = None,
    broadcast_weights: bool = True,
) -> str:
    """Incremental ingest: featurize ONLY content digests not yet present
    in the feature snapshot ``table`` (a SnapshotTable of
    (__digest, missing, features)), committing an APPEND snapshot.

    This is the 10^12-scale arrival path: a new batch of images costs
    CNN time proportional to its NEW distinct content (anti-join against
    the existing snapshot), and the commit writes only new files — the
    table's history stays queryable via earlier snapshot ids.

    The plan's ``fingerprint()`` is recorded in the manifest; appending
    with a DIFFERENT fingerprint (other model/depth/seed, or an engine
    upgrade that changed forward semantics) raises instead of silently
    mixing two feature spaces in one column.
    Returns the new snapshot id."""
    plan = plan or FeaturizerPlan.build()
    man = table.manifest()
    if man is not None:
        existing = (man.get("properties") or {}).get("plan_fingerprint")
        if existing is None:
            # A non-empty manifest with NO recorded fingerprint predates
            # fingerprint tracking (or was written by another tool): its
            # feature space is unknowable, so appending would silently
            # mix spaces.  Refuse, same as a mismatch.
            raise ValueError(
                f"feature table at {table.root} has no plan_fingerprint "
                "in its manifest (pre-fingerprint table?); refusing to "
                f"append {plan.fingerprint()!r} — rebuild the table (or "
                "use a new root)"
            )
        if existing != plan.fingerprint():
            raise ValueError(
                f"feature table at {table.root} holds fingerprint "
                f"{existing!r}; refusing to append {plan.fingerprint()!r} "
                "— rebuild the table (or use a new root) after a plan or "
                "engine-semantics change"
            )
    spark = images.sparkSession
    sc = spark.sparkContext
    weights_bc = _weights_ref(sc, plan, broadcast_weights)
    n_parts = feature_partitions or sc.defaultParallelism * 2

    distinct = (
        images.withColumn(_DIGEST, content_digest())
        .select(_DIGEST, "bytes", "fmt")
        .groupBy(_DIGEST)
        .agg(F.first("bytes").alias("bytes"), F.first("fmt").alias("fmt"))
    )
    if table.current_snapshot_id() is not None:
        seen = table.scan().select(_DIGEST)
        distinct = distinct.join(seen, _DIGEST, "left_anti")
    feats = distinct.repartition(n_parts).mapInPandas(
        _featurize_udf(plan, weights_bc), schema=_FEATS_SCHEMA
    )
    return table.append(
        feats,
        partition_by=_DIGEST,
        properties={"plan_fingerprint": plan.fingerprint()},
    )


def lookup_features(images: DataFrame, table) -> DataFrame:
    """Join a (possibly huge) image table against the feature snapshot by
    content digest — the read side of incremental_featurize."""
    return images.withColumn(_DIGEST, content_digest()).join(
        table.scan(), _DIGEST, "left"
    ).drop(_DIGEST)


def featurize_multi_column(
    df: DataFrame,
    images: DataFrame,
    image_cols: list[str],
    plan: FeaturizerPlan | None = None,
    key: str = "image_id",
) -> DataFrame:
    """Multi-image-column featurize: the reference's per-column loop +
    wide concat (/root/reference/pic2vec/image_featurizer.py:540-636,
    634,738) re-expressed as one featurize pass over the distinct image
    table plus one keyed left join per column — never positional.

    ``df`` holds one or more columns of image ids (nullable — the
    reference's blank-path rows); each gains ``{col}_missing`` +
    ``{col}_features``.  Null/unmatched refs get missing=True and the
    f(0) vector (the reference's zero-tensor semantics for blanks,
    feature_preprocessing.py:212-215,443-446)."""
    plan = plan or FeaturizerPlan.build()
    # localCheckpoint(eager): each per-column join below references this
    # subtree — an unmaterialized plan would re-run the CNN once PER
    # image column.  Unlike persist() (whose CacheManager entry lives
    # until an explicit unpersist), checkpoint blocks are RDD-level and
    # the ContextCleaner reclaims them when the result is GC'd — no
    # session-lifetime storage leak across repeated calls.
    feats = (
        featurize_images(images, plan)
        .select(key, "missing", "features")
        .localCheckpoint(eager=True)
    )
    zero_lit = zero_features_lit(plan)
    out = df
    for c in image_cols:
        f = feats.select(
            F.col(key).alias(c),
            F.col("missing").alias(f"{c}_missing"),
            F.col("features").alias(f"{c}_features"),
        )
        out = (
            out.join(f, c, "left")
            .withColumn(f"{c}_missing", F.coalesce(F.col(f"{c}_missing"), F.lit(True)))
            .withColumn(f"{c}_features", F.coalesce(F.col(f"{c}_features"), zero_lit))
        )
    return out


def widen_features(
    df: DataFrame, column: str = "image", num_features: int | None = None
) -> DataFrame:
    """CSV-compat export: ``{col}_missing`` + ``{col}_feat_i`` columns in
    the reference's naming/order (data_featurizing.py:58-76).

    Keeps features as an array internally until this terminal projection.
    """
    if num_features is None:
        # inferring the width runs an extra job over the upstream plan —
        # prefer passing plan.num_features when you have the plan
        row = df.select("features").filter(F.col("features").isNotNull()).first()
        if row is None:
            raise ValueError(
                "cannot infer num_features: the features column is empty "
                "or all-null — pass num_features (= plan.num_features)"
            )
        num_features = len(row[0])
    passthrough = [c for c in df.columns if c not in ("missing", "features")]
    return df.select(
        *passthrough,
        F.col("missing").alias(f"{column}_missing"),
        *[
            F.col("features")[i].alias(f"{column}_feat_{i}")
            for i in range(num_features)
        ],
    )
