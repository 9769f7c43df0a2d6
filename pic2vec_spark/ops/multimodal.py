"""Multimodal binary-column operators.

Images are fully real (our pure-NumPy codecs), and so is PCM WAV audio
(``codecs.decode_wav`` — RIFF parsing is stdlib+NumPy, no codec library
needed): ``audio_features`` computes genuine duration/rms/zcr and log
mel-filterbank energies for WAV rows.  Compressed audio (mp3/aac/ogg)
and video decode
have no library in this container, so those kernels are STUBS — a
clearly marked deterministic fake (or NotImplementedError for strict
mode) — while the Spark-side plumbing (schema, Arrow batching,
mapInPandas signatures, partitioning) is real and tested, per the
build brief.

All operators follow the same shape as the featurize pipeline: binary
in, typed columns out, vectorized over Arrow batches, no per-row Python
at the Spark level.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pic2vec_spark.codecs import decode_image, encode_png
from pic2vec_spark.preprocess import resize_nearest


# pandas dtype per Spark type of a _map_images column; others go in as a list
_PD_DTYPES = {"bigint": "int64", "double": "float64", "boolean": "boolean"}


def _map_images(
    df: DataFrame,
    fields: list[T.StructField],
    kernel: Callable[[np.ndarray], tuple],
    failed: tuple,
    bytes_col: str,
    fmt_col: str,
) -> DataFrame:
    """Narrow map appending ``fields`` to every row of ``df``: decode the
    row's image and emit ``kernel(img)``, one value per field, or the
    ``failed`` tuple when decode OR kernel raises (the featurize path's
    missing semantics).  The kernel is inside the catch because a
    decodable image can still be outside a kernel's domain
    (``tile_phash64s`` raises IndexError on a 1x1 image)."""
    schema = T.StructType(list(df.schema.fields) + list(fields))
    dtypes = [_PD_DTYPES.get(f.dataType.simpleString()) for f in fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for data, fmt in zip(pdf[bytes_col], pdf[fmt_col]):
                try:
                    rows.append(kernel(decode_image(data, fmt)))
                except Exception:
                    rows.append(failed)
            out = pdf.copy()
            cols = list(zip(*rows)) or [()] * len(fields)
            for f, dtype, col in zip(fields, dtypes, cols):
                out[f.name] = pd.array(col, dtype=dtype) if dtype else list(col)
            yield out

    return df.mapInPandas(run, schema=schema)


def image_thumbnail(
    df: DataFrame, size: tuple[int, int] = (32, 32), bytes_col: str = "bytes",
    fmt_col: str = "fmt",
) -> DataFrame:
    """Decode -> nearest resize -> re-encode PNG; failures yield null
    thumb + ok=False (the missing semantics of the featurize path)."""
    return _map_images(
        df,
        [
            T.StructField("thumb", T.BinaryType(), True),
            T.StructField("thumb_ok", T.BooleanType(), False),
        ],
        lambda img: (encode_png(resize_nearest(img, size)), True),
        (None, False),
        bytes_col,
        fmt_col,
    )


def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II matrix (n x n)."""
    k = np.arange(n)[:, None].astype(np.float64)
    i = np.arange(n)[None, :].astype(np.float64)
    d = np.cos(np.pi * (2 * i + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
    d[0] /= np.sqrt(2.0)
    return d


def phash64(img: np.ndarray, hash_size: int = 8, highfreq_factor: int = 4) -> int:
    """Classic DCT perceptual hash of an (H, W, 3) uint8 image:
    grayscale -> resize to (hash_size*factor)^2 -> 2-D DCT -> keep the
    top-left hash_size^2 low-frequency block -> bit i = coef_i > median.
    Returned as a SIGNED 64-bit int (Spark LongType two's complement).
    Deterministic pure NumPy; robust to brightness/noise perturbations,
    so near-duplicate images land within a few Hamming bits."""
    from pic2vec_spark.preprocess import to_grayscale

    n = hash_size * highfreq_factor
    g = to_grayscale(resize_nearest(img, (n, n)))[..., 0].astype(np.float64)
    d = _dct_matrix(n)
    low = (d @ g @ d.T)[:hash_size, :hash_size].ravel()
    med = np.median(low)
    v = 0
    for i, b in enumerate(low > med):
        if b:
            v |= 1 << i
    return v - (1 << 64) if v >= 1 << 63 else v


def compute_phash(
    df: DataFrame,
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    hash_size: int = 8,
    highfreq_factor: int = 4,
    out_col: str = "phash64",
) -> DataFrame:
    """Attach a computed DCT perceptual hash (``{out_col}: long``,
    ``{out_col}_ok: boolean``) to every row — the content-derived
    counterpart of the input table's ``phash`` column.  Narrow map, no
    shuffle; near-dup image pairs come from
    ``ops.dedup.hamming_neardup_pairs(..., sig_col=out_col, bits=64)``."""
    return _map_images(
        df,
        [
            T.StructField(out_col, T.LongType(), False),
            T.StructField(f"{out_col}_ok", T.BooleanType(), False),
        ],
        lambda img: (phash64(img, hash_size, highfreq_factor), True),
        (0, False),
        bytes_col,
        fmt_col,
    )


def _pack_bits64(bits: np.ndarray) -> int:
    """Pack a flat boolean array (<=64 long) into a SIGNED 64-bit int
    (Spark LongType two's complement), bit i = bits[i]."""
    v = 0
    for i, b in enumerate(bits.ravel()):
        if b:
            v |= 1 << i
    return v - (1 << 64) if v >= 1 << 63 else v


def dhash64(img: np.ndarray, hash_size: int = 8) -> int:
    """Row-gradient difference hash of an (H, W, 3) uint8 image:
    grayscale -> resize to hash_size x (hash_size+1) -> bit (r, c) =
    pixel(r, c+1) > pixel(r, c).  Gradient direction survives global
    brightness/contrast shifts that flip aHash bits, and it is O(n)
    where pHash pays a DCT — the cheap member of the fingerprint
    family."""
    from pic2vec_spark.preprocess import resize_nearest, to_grayscale

    g = to_grayscale(resize_nearest(img, (hash_size, hash_size + 1)))[
        ..., 0
    ].astype(np.int32)
    return _pack_bits64(g[:, 1:] > g[:, :-1])


def ahash64(img: np.ndarray, hash_size: int = 8) -> int:
    """Average hash: grayscale -> resize to hash_size^2 -> bit i =
    pixel_i > mean.  The bluntest fingerprint — kept because consensus
    across structurally different hashes (DCT / gradient / mean) is
    what makes multi-fingerprint near-dup voting robust."""
    from pic2vec_spark.preprocess import resize_nearest, to_grayscale

    g = to_grayscale(resize_nearest(img, (hash_size, hash_size)))[
        ..., 0
    ].astype(np.float64)
    return _pack_bits64(g.ravel() > g.mean())


def compute_fingerprints(
    df: DataFrame,
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    hash_size: int = 8,
    highfreq_factor: int = 4,
) -> DataFrame:
    """All three perceptual fingerprints (pHash DCT, dHash gradient,
    aHash mean) in ONE decode pass — at 10^12 images the JPEG decode
    dominates, so a consensus near-dup pipeline must never decode once
    per hash.  Emits ``phash64/dhash64/ahash64: long`` + ``fp_ok:
    boolean``; values are identical to running compute_phash / the
    single-hash kernels separately (pinned by tests and the driver's
    literal oracle).  Narrow map, no shuffle, no per-row Python."""
    return _map_images(
        df,
        [
            T.StructField("phash64", T.LongType(), False),
            T.StructField("dhash64", T.LongType(), False),
            T.StructField("ahash64", T.LongType(), False),
            T.StructField("fp_ok", T.BooleanType(), False),
        ],
        lambda img: (
            phash64(img, hash_size, highfreq_factor),
            dhash64(img, hash_size),
            ahash64(img, hash_size),
            True,
        ),
        (0, 0, 0, False),
        bytes_col,
        fmt_col,
    )


def tile_phash64s(
    img: np.ndarray,
    grid: int = 2,
    hash_size: int = 8,
    highfreq_factor: int = 4,
) -> list:
    """Row-major grid×grid tile pHashes of a decoded image: tile (r, c)
    is the exact slice ``img[r·h//g:(r+1)·h//g, c·w//g:(c+1)·w//g]``
    hashed with the same DCT kernel as the whole image.  Because the
    slice bounds are pure integer arithmetic, a losslessly re-encoded
    crop of exactly that region decodes to identical pixels and
    therefore hashes to the IDENTICAL 64-bit value — the exact-match
    property crop-robust repost detection joins on."""
    h, w = img.shape[:2]
    out = []
    for r in range(grid):
        for c in range(grid):
            tile = img[
                r * h // grid : (r + 1) * h // grid,
                c * w // grid : (c + 1) * w // grid,
            ]
            out.append(phash64(tile, hash_size, highfreq_factor))
    return out


def compute_tile_phash(
    df: DataFrame,
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    grid: int = 2,
    hash_size: int = 8,
    highfreq_factor: int = 4,
) -> DataFrame:
    """Attach row-major grid×grid tile pHashes (``tile_phashes:
    array<long>`` of length grid², ``tile_ok: boolean``) in ONE decode
    pass — whole-image pHash misses crops entirely (the DCT sees a
    different global layout), tile hashes survive any crop that
    preserves a full tile.  Narrow map, no shuffle, no per-row
    Python."""
    return _map_images(
        df,
        [
            T.StructField("tile_phashes", T.ArrayType(T.LongType(), False), False),
            T.StructField("tile_ok", T.BooleanType(), False),
        ],
        lambda img: (tile_phash64s(img, grid, hash_size, highfreq_factor), True),
        ([0] * (grid * grid), False),
        bytes_col,
        fmt_col,
    )


def crop_source_matches(
    crops: DataFrame,
    corpus: DataFrame,
    crop_id_col: str = "crop_id",
    src_id_col: str = "image_id",
    grid: int = 2,
) -> DataFrame:
    """Crop-robust repost detection: find, for each candidate crop, the
    corpus images one of whose grid tiles it reproduces.  A lossless
    crop of an exact tile region decodes to the same pixels as the tile
    slice, so its WHOLE-image pHash equals that tile's hash bit-for-bit
    — candidates come from an exact equi-join of the crop's pHash
    against the corpus's exploded tile hashes: a bucketed shuffle join
    on a 64-bit key (broadcast when the crop side is small under AQE),
    NEVER an all-pairs image comparison.  Both sides are one decode
    pass.  Output: (crop_id, src_image_id, tile_id) — tile_id is the
    row-major tile index the crop matches.  At 10^12 images the tile
    table is 4× the corpus in rows but 16 bytes wide; hot hashes (flat
    single-color tiles) are ordinary join skew, handled by AQE
    skew-join like any hot key."""
    tiles = (
        compute_tile_phash(corpus, grid=grid)
        .filter(F.col("tile_ok"))
        .select(
            F.col(src_id_col).alias("src_image_id"),
            F.posexplode("tile_phashes").alias("tile_id", "__th"),
        )
    )
    ch = (
        compute_phash(crops)
        .filter(F.col("phash64_ok"))
        .select(crop_id_col, "phash64")
    )
    return (
        ch.join(tiles, ch["phash64"] == tiles["__th"])
        .select(crop_id_col, "src_image_id", "tile_id")
    )


def _gray_f64(img: np.ndarray) -> np.ndarray:
    from pic2vec_spark.preprocess import to_grayscale

    return to_grayscale(img)[..., 0].astype(np.float64)


def image_quality_stats(img: np.ndarray) -> dict:
    """Pure-NumPy per-image quality metrics on the grayscale plane:
    brightness (mean), contrast (std), dynamic range (max-min),
    entropy (Shannon bits over the 256-bin histogram) and sharpness
    (variance of the 4-neighbour Laplacian — the classic blur screen:
    blurred images have small second derivatives everywhere)."""
    g = _gray_f64(img)
    hist = np.bincount(g.astype(np.uint8).ravel(), minlength=256).astype(np.float64)
    p = hist / hist.sum()
    nz = p[p > 0]
    entropy = float(-(nz * np.log2(nz)).sum())
    if g.shape[0] >= 3 and g.shape[1] >= 3:
        lap = (
            4.0 * g[1:-1, 1:-1]
            - g[:-2, 1:-1]
            - g[2:, 1:-1]
            - g[1:-1, :-2]
            - g[1:-1, 2:]
        )
        sharpness = float(lap.var())
    else:
        sharpness = 0.0
    return {
        "brightness": float(g.mean()),
        "contrast": float(g.std()),
        "dyn_range": float(g.max() - g.min()),
        "entropy": entropy,
        "sharpness": sharpness,
    }


_STAT_COLS = ("brightness", "contrast", "dyn_range", "entropy", "sharpness")
_STAT_FIELDS = [T.StructField(c, T.DoubleType(), True) for c in _STAT_COLS] + [
    T.StructField("stats_ok", T.BooleanType(), False)
]
_STATS_FAILED = (None,) * len(_STAT_COLS) + (False,)


def _rounded_stats(img: np.ndarray) -> tuple:
    s = image_quality_stats(img)
    return tuple(round(s[c], 6) for c in _STAT_COLS)


def image_color_metrics(img: np.ndarray) -> dict:
    """Pure-NumPy per-image COLOR metrics — the axis the grayscale
    quality screens can't see: channel means, mean HSV-style
    saturation ((max-min)/max per pixel, 0 where max=0 — so a
    grayscale scan or a black frame reads 0), and the
    Hasler–Süsstrunk colorfulness metric
    ``sqrt(var(rg)+var(yb)) + 0.3*sqrt(mean(rg)^2+mean(yb)^2)`` over
    the opponent axes rg=R−G, yb=(R+G)/2−B — the standard screen for
    de-saturated / monochrome-rescan content in image corpora."""
    px = img.astype(np.float64)
    r, g, b = px[..., 0], px[..., 1], px[..., 2]
    mx = px.max(axis=2)
    mn = px.min(axis=2)
    sat = np.where(mx > 0, (mx - mn) / np.where(mx > 0, mx, 1.0), 0.0)
    rg = r - g
    yb = 0.5 * (r + g) - b
    colorfulness = float(
        np.sqrt(rg.var() + yb.var())
        + 0.3 * np.sqrt(rg.mean() ** 2 + yb.mean() ** 2)
    )
    return {
        "mean_r": float(r.mean()),
        "mean_g": float(g.mean()),
        "mean_b": float(b.mean()),
        "mean_sat": float(sat.mean()),
        "colorfulness": colorfulness,
    }


_COLOR_COLS = ("mean_r", "mean_g", "mean_b", "mean_sat", "colorfulness")
GRAYSCALE_SAT_FLOOR = 0.02


def image_color_stats(
    df: DataFrame, bytes_col: str = "bytes", fmt_col: str = "fmt"
) -> DataFrame:
    """Attach per-image color metrics + an ``is_grayscale`` verdict
    (mean saturation under GRAYSCALE_SAT_FLOOR) in one vectorized
    decode pass — narrow map, no shuffle, same missing semantics as
    image_stats (decode failures → NULL metrics, color_ok=False)."""

    def kernel(img: np.ndarray) -> tuple:
        s = image_color_metrics(img)
        vals = tuple(round(s[c], 6) for c in _COLOR_COLS)
        return (*vals, bool(round(s["mean_sat"], 6) < GRAYSCALE_SAT_FLOOR), True)

    return _map_images(
        df,
        [T.StructField(c, T.DoubleType(), True) for c in _COLOR_COLS]
        + [
            T.StructField("is_grayscale", T.BooleanType(), True),
            T.StructField("color_ok", T.BooleanType(), False),
        ],
        kernel,
        (None,) * (len(_COLOR_COLS) + 1) + (False,),
        bytes_col,
        fmt_col,
    )


def image_stats(
    df: DataFrame, bytes_col: str = "bytes", fmt_col: str = "fmt"
) -> DataFrame:
    """Attach per-image quality metrics (decode + grayscale reductions in
    one vectorized pass; narrow map, no shuffle — the dataset-curation
    screen that drops black frames, blanks, and blurred scans before
    paying CNN cost).  Decode failures yield NULL metrics + ok=False
    (featurize-path missing semantics)."""
    return _map_images(
        df,
        _STAT_FIELDS,
        lambda img: (*_rounded_stats(img), True),
        _STATS_FAILED,
        bytes_col,
        fmt_col,
    )


def image_profile(
    df: DataFrame,
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    hash_size: int = 8,
    highfreq_factor: int = 4,
) -> DataFrame:
    """Quality metrics AND the DCT perceptual hash in ONE decode pass —
    the fused curation profile.  ``image_stats`` and ``compute_phash``
    each decode every image; any pipeline that needs both (the
    quality-screen → near-dup-survivor shape of ``multimodal_corpus``
    and ``image_neardup_survivors``) pays the decode twice when it
    composes them.  At 10^12 images decode dominates the curation cost,
    so this profiles each image once: decode → grayscale reductions
    (brightness/contrast/dyn_range/entropy/Laplacian sharpness) + the
    pHash DCT on the same decoded pixels.  Output columns and values
    are identical to ``image_stats`` ⨝ ``compute_phash`` (pinned by
    tests and the driver's composed literal oracle); narrow map, no
    shuffle, no per-row Python."""
    return _map_images(
        df,
        _STAT_FIELDS
        + [
            T.StructField("phash64", T.LongType(), False),
            T.StructField("phash64_ok", T.BooleanType(), False),
        ],
        lambda img: (
            *_rounded_stats(img), True, phash64(img, hash_size, highfreq_factor), True
        ),
        _STATS_FAILED + (0, False),
        bytes_col,
        fmt_col,
    )


IMAGE_RULE_COLS = (
    "rule_decodes",
    "rule_resolution",
    "rule_aspect",
    "rule_brightness",
    "rule_entropy",
    "rule_sharpness",
    "rule_dyn_range",
)


def image_quality_rules(
    df: DataFrame,
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    w_col: str = "w",
    h_col: str = "h",
    min_pixels: int = 1024,
    max_aspect: float = 3.0,
    brightness_lo: float = 10.0,
    brightness_hi: float = 245.0,
    min_entropy: float = 1.0,
    min_sharpness: float = 1.0,
    min_dyn_range: float = 16.0,
) -> DataFrame:
    """Gopher-style pass/fail rule suite for IMAGES — the per-rule
    boolean mirror of ``ops.text.gopher_rules`` over the decoded-pixel
    metrics: each threshold is its own column so a curation run can
    report WHICH screen failed (the Gopher paper's per-rule
    accounting), plus an all-rules ``passes``.  Screens: decodes at all;
    resolution floor (``w*h >= min_pixels`` from the table's metadata
    columns); aspect ratio bound (banners/scanlines); brightness band
    (all-black / all-white frames); entropy floor (flat synthetic
    fills); Laplacian sharpness floor (blur); dynamic-range floor
    (near-constant images).  Metric rules are NULL-safe: a row that
    fails decode fails every pixel rule.  One decode pass
    (``image_stats``) + JVM-side comparisons — narrow, zero shuffle."""
    stats = image_stats(df, bytes_col=bytes_col, fmt_col=fmt_col)
    w, h = F.col(w_col).cast("long"), F.col(h_col).cast("long")
    rules = {
        "rule_decodes": F.col("stats_ok"),
        "rule_resolution": (w * h) >= int(min_pixels),
        "rule_aspect": (
            F.greatest(w, h) <= F.least(w, h) * F.lit(float(max_aspect))
        ),
        "rule_brightness": F.col("brightness").between(
            float(brightness_lo), float(brightness_hi)
        ),
        "rule_entropy": F.col("entropy") >= float(min_entropy),
        "rule_sharpness": F.col("sharpness") >= float(min_sharpness),
        "rule_dyn_range": F.col("dyn_range") >= float(min_dyn_range),
    }
    out = stats
    for name, cond in rules.items():
        out = out.withColumn(name, F.coalesce(cond, F.lit(False)))
    acc = F.col(IMAGE_RULE_COLS[0])
    for name in IMAGE_RULE_COLS[1:]:
        acc = acc & F.col(name)
    return out.withColumn("passes", acc)


def image_neardup_survivors(
    df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    w_col: str = "w",
    h_col: str = "h",
    max_distance: int = 4,
) -> DataFrame:
    """Quality-ranked canonical selection over pHash near-dup clusters:
    for every Hamming-CC duplicate group keep the BEST member — ranked
    by Laplacian sharpness, then entropy, then pixel count, then id
    (deterministic total order) — instead of the arbitrary min-id the
    plain survivor queries use.  This is how an image corpus dedupes
    without keeping the blurriest thumbnail of a duplicate family.

    Output: one row per decodable image — ``cluster_id`` (the group's
    min id; singletons are their own cluster), ``n_members``,
    ``quality_rank`` (1 = canonical) and ``kept``.  Undecodable rows
    are excluded (they can't be fingerprinted; the exact-byte digest
    path still dedups them).

    Plan shape: ONE decode pass (``image_profile``: stats + pHash
    fused), pigeonhole-bucketed Hamming pairs (never all-pairs),
    min-label CC over pair vertices only, then a single
    cluster-partitioned window — singletons never enter the CC loop or
    the window shuffle input until the final rank, and the binary
    column never shuffles (the profile projection drops it)."""
    from pic2vec_spark.ops.dedup import hamming_neardup_pairs, neardup_clusters

    prof = (
        image_profile(df, bytes_col=bytes_col, fmt_col=fmt_col)
        .filter(F.col("phash64_ok"))
        .select(
            id_col, "phash64", "sharpness", "entropy",
            (F.col(w_col).cast("long") * F.col(h_col).cast("long")).alias(
                "_pixels"
            ),
        )
        # feeds the pair join AND the rank join-back — materialize the
        # decode once (localCheckpoint, not cache: no CacheManager leak
        # across repeated driver/bench runs)
        .localCheckpoint(eager=False)
    )
    pairs = hamming_neardup_pairs(
        prof.select(id_col, "phash64"), id_col,
        max_distance=max_distance, sig_col="phash64", bits=64,
    )
    clusters = neardup_clusters(pairs, "id1", "id2").withColumnRenamed(
        "doc_id", id_col
    )
    from pyspark.sql import Window

    # no broadcast hint: the labeled-vertex set scales with the dup
    # rate (30% dups at 10^12 rows is NOT broadcastable) — AQE picks
    # broadcast when the pair graph is actually small
    labeled = prof.join(clusters, id_col, "left").withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col))
    )
    win = Window.partitionBy("cluster_id").orderBy(
        F.desc("sharpness"), F.desc("entropy"),
        F.desc_nulls_last("_pixels"), F.asc(id_col),
    )
    return (
        labeled.withColumn("quality_rank", F.row_number().over(win))
        .withColumn(
            "n_members",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
        )
        .select(
            id_col, "cluster_id",
            F.col("n_members").cast("int").alias("n_members"),
            F.col("quality_rank").cast("int").alias("quality_rank"),
            (F.col("quality_rank") == 1).alias("kept"),
        )
    )


AUGMENT_OPS = ("hflip", "vflip", "rot180", "crop80", "bright120", "dark80")


def _augment_kernel(img: np.ndarray, op: str) -> np.ndarray:
    from pic2vec_spark.preprocess import resize_nearest

    if op == "hflip":
        return img[:, ::-1]
    if op == "vflip":
        return img[::-1]
    if op == "rot180":
        return img[::-1, ::-1]
    if op == "crop80":  # center crop 80% then resize back (size-stable)
        h, w = img.shape[:2]
        ch, cw = max(1, int(h * 0.8)), max(1, int(w * 0.8))
        y0, x0 = (h - ch) // 2, (w - cw) // 2
        return resize_nearest(img[y0 : y0 + ch, x0 : x0 + cw], (h, w))
    if op == "bright120":
        return np.clip(img.astype(np.float64) * 1.2, 0, 255).astype(np.uint8)
    if op == "dark80":
        return np.clip(img.astype(np.float64) * 0.8, 0, 255).astype(np.uint8)
    raise ValueError(f"unknown augmentation {op!r}; choose from {AUGMENT_OPS}")


def augment_pick(rid, seed: int, chosen) -> str:
    """The deterministic per-row op choice (md5 of ``id|seed`` mod
    #ops) — module-level so the driver-side literal oracle uses the
    SAME function the executors run instead of an inline copy that
    could drift."""
    import hashlib

    h = hashlib.md5(f"{rid}|{seed}".encode()).digest()
    return chosen[int.from_bytes(h[:8], "big") % len(chosen)]


def augment_images(
    df: DataFrame,
    ops: list[str] | None = None,
    seed: int = 0,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
) -> DataFrame:
    """Deterministic image augmentation for training-data pipelines:
    each row gets ONE op from ``ops`` chosen by a content-free hash of
    (id, seed) — reproducible across runs, retries, and repartitioning
    (no RNG state; the same row always draws the same op, mirroring the
    md5-clock trick in ops/sampling.py).  Output columns: ``aug``
    (re-encoded in the row's own format), ``aug_op``, ``aug_ok``.
    Narrow map, no shuffle; decode/encode failures yield NULL + False.
    """
    chosen = list(ops or AUGMENT_OPS)
    for op in chosen:
        if op not in AUGMENT_OPS:
            raise ValueError(f"unknown augmentation {op!r}; choose from {AUGMENT_OPS}")
    schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("aug", T.BinaryType(), True),
            T.StructField("aug_op", T.StringType(), False),
            T.StructField("aug_ok", T.BooleanType(), False),
        ]
    )

    def pick(rid) -> str:
        return augment_pick(rid, seed, chosen)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pic2vec_spark.codecs import encode_image

        for pdf in batches:
            blobs, ops_out, oks = [], [], []
            for rid, data, fmt in zip(pdf[id_col], pdf[bytes_col], pdf[fmt_col]):
                op = pick(rid)
                ops_out.append(op)
                try:
                    img = decode_image(data, fmt)
                    blobs.append(encode_image(_augment_kernel(img, op), fmt))
                    oks.append(True)
                except Exception:
                    blobs.append(None)
                    oks.append(False)
            out = pdf.copy()
            out["aug"] = blobs
            out["aug_op"] = ops_out
            out["aug_ok"] = oks
            yield out

    return df.mapInPandas(run, schema=schema)


# ---------------------------------------------------------------- stubs

STUB_NOTE = (
    "compressed-audio/video decode STUB: no codec library in this "
    "container (PCM WAV decodes for real — codecs.decode_wav); "
    "deterministic fake derived from the byte content so the Spark "
    "plumbing (schema/batching/partitioning) is real and testable"
)


def _fake_signal(data: bytes, n: int) -> np.ndarray:
    """Deterministic stand-in decode: seeded by the byte content."""
    seed = np.frombuffer(
        (data or b"\x00")[:8].ljust(8, b"\x00"), dtype=np.uint64
    )[0]
    rng = np.random.default_rng(int(seed))
    return rng.normal(size=n).astype(np.float32)


def video_frame_sample(
    df: DataFrame,
    every_n: int = 10,
    n_frames: int = 4,
    frame_size: tuple[int, int] = (16, 16),
    bytes_col: str = "bytes",
    strict: bool = False,
) -> DataFrame:
    """Sample n_frames frames as small grayscale tensors per row.

    MJV1 streams (codecs.encode_video/decode_video — the from-scratch
    motion-JPEG-style container) decode FOR REAL: frames are uniformly
    sampled over the stream, resized to ``frame_size`` and converted to
    grayscale floats in [0, 1].  Any other byte content falls back to
    the deterministic fake (see STUB_NOTE) — the compressed inter-frame
    codecs (H.264 etc.) have no decoder in this container.
    ``strict=True`` raises NotImplementedError on non-MJV1 bytes
    instead of faking."""
    from pic2vec_spark.codecs import VIDEO_MAGIC, decode_video
    from pic2vec_spark.preprocess import to_grayscale

    schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("frames", T.ArrayType(T.ArrayType(T.FloatType())), True)]
    )
    h, w = frame_size

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = []
            for data in pdf[bytes_col]:
                raw = bytes(data) if data is not None else b""
                if raw[:4] == VIDEO_MAGIC:
                    decoded = decode_video(raw)
                    picks = np.linspace(
                        0, len(decoded) - 1, n_frames
                    ).round().astype(int)
                    frames.append([
                        (
                            to_grayscale(
                                resize_nearest(decoded[i], (h, w))
                            )[..., 0].astype(np.float32).ravel() / 255.0
                        ).tolist()
                        for i in picks
                    ])
                elif strict:
                    raise NotImplementedError(STUB_NOTE)
                else:
                    sig = _fake_signal(raw, n_frames * h * w)
                    frames.append(
                        [f.tolist() for f in sig.reshape(n_frames, h * w)]
                    )
            out = pdf.copy()
            out["frames"] = frames
            yield out

    return df.mapInPandas(run, schema=schema)


_VIDEO_SEP = "\x1f"  # composite (video, frame) key separator


def video_frame_phashes(
    df: DataFrame,
    bytes_col: str = "bytes",
    max_frames: int = 16,
    hash_size: int = 8,
    highfreq_factor: int = 4,
) -> DataFrame:
    """Attach per-frame perceptual hashes to every MJV1 video row —
    ``n_frames: int``, ``frame_idxs: array<int>`` (the sampled original
    frame indexes), ``frame_phashes: array<long>`` and ``video_ok:
    boolean``.  ONE decode pass per video, narrow map, no shuffle;
    streams longer than ``max_frames`` are uniformly subsampled so the
    per-row output stays bounded regardless of clip length.  Non-MJV1
    bytes yield ``video_ok=False`` (empty arrays) — the shared
    missing-semantics of the binary ops."""
    from pic2vec_spark.codecs import decode_video

    schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("n_frames", T.IntegerType(), False),
            T.StructField("frame_idxs", T.ArrayType(T.IntegerType()), False),
            T.StructField(
                "frame_phashes", T.ArrayType(T.LongType(), False), False
            ),
            T.StructField("video_ok", T.BooleanType(), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ns, idxs, hs, oks = [], [], [], []
            for data in pdf[bytes_col]:
                try:
                    frames = decode_video(
                        bytes(data) if data is not None else b""
                    )
                    if not frames:
                        raise ValueError("empty stream")
                    picks = sorted(set(
                        np.linspace(0, len(frames) - 1, max_frames)
                        .round().astype(int).tolist()
                    )) if len(frames) > max_frames else list(range(len(frames)))
                    ns.append(len(frames))
                    idxs.append([int(i) for i in picks])
                    hs.append([
                        phash64(frames[i], hash_size, highfreq_factor)
                        for i in picks
                    ])
                    oks.append(True)
                except ValueError:
                    ns.append(0)
                    idxs.append([])
                    hs.append([])
                    oks.append(False)
            out = pdf.copy()
            out["n_frames"] = pd.array(ns, dtype="int32")
            out["frame_idxs"] = idxs
            out["frame_phashes"] = hs
            out["video_ok"] = oks
            yield out

    return df.mapInPandas(run, schema=schema)


def video_repost_pairs(
    hashes: DataFrame,
    id_col: str = "video_id",
    max_distance: int = 4,
    min_frames: int = 3,
    idx_col: str = "frame_idxs",
    hash_col: str = "frame_phashes",
) -> DataFrame:
    """Temporally-aligned video repost detection over per-frame
    perceptual hashes: two videos are a repost pair when at least
    ``min_frames`` of their frames match within ``max_distance``
    Hamming bits AT A CONSISTENT FRAME OFFSET (the alignment-voting
    construction: a requantized copy matches at offset 0, a
    head-trimmed copy at offset −trim; frame-level hash collisions
    scattered across offsets never accumulate on one).  Output one row
    per detected pair: (vid1, vid2, offset, matched_frames) with vid1 <
    vid2, offset = vid2's frame index − vid1's at the winning
    alignment, ties broken toward the smallest offset.

    Scale shape: the exploded frame table (rows = Σ sampled frames, 16
    bytes of key each) goes through the SAME pigeonhole chunk-bucket
    pair machinery as image pHash / text SimHash / audio fingerprints —
    candidates are bucket-bounded, never all-pairs over videos or
    frames; the offset vote is one bounded groupBy over candidate
    pairs and the winner one WindowGroupLimit top-1."""
    from pic2vec_spark.ops.dedup import hamming_neardup_pairs

    frames = video_frames_cid(hashes, id_col, idx_col, hash_col)
    pairs = hamming_neardup_pairs(
        frames, "__cid", max_distance=max_distance, sig_col="__fh", bits=64
    )
    return alignment_vote(pairs, min_frames)


def video_frames_cid(
    hashes: DataFrame,
    id_col: str = "video_id",
    idx_col: str = "frame_idxs",
    hash_col: str = "frame_phashes",
) -> DataFrame:
    """Explode per-video frame-hash arrays to the flat (composite
    ``video\\x1f frame_idx`` key, hash) frame the Hamming-ball pair /
    index machinery consumes — a narrow posexplode, no shuffle."""
    return hashes.select(
        F.col(id_col).cast("string").alias("__vid"),
        F.col(idx_col).alias("__idxs"),
        F.posexplode(hash_col).alias("__pos", "__fh"),
    ).select(
        F.concat_ws(
            _VIDEO_SEP,
            "__vid",
            F.element_at(F.col("__idxs"), F.col("__pos") + 1).cast("string"),
        ).alias("__cid"),
        "__fh",
    )


def alignment_vote(pairs: DataFrame, min_frames: int = 3) -> DataFrame:
    """Turn frame-level Hamming pairs over composite (video, frame)
    keys — from ``hamming_neardup_pairs`` or a persisted-index probe —
    into video repost decisions: group by (video pair, frame offset),
    count distinct matched source frames, keep the winning offset per
    pair (ties toward the smallest offset) with at least ``min_frames``
    matches.  One bounded groupBy over candidates + WindowGroupLimit
    top-1."""
    parsed = pairs.select(
        F.substring_index("id1", _VIDEO_SEP, 1).alias("va"),
        F.substring_index("id1", _VIDEO_SEP, -1).cast("int").alias("ia"),
        F.substring_index("id2", _VIDEO_SEP, 1).alias("vb"),
        F.substring_index("id2", _VIDEO_SEP, -1).cast("int").alias("ib"),
    ).filter(F.col("va") != F.col("vb"))
    ordered = parsed.select(
        F.least("va", "vb").alias("vid1"),
        F.greatest("va", "vb").alias("vid2"),
        F.when(F.col("va") < F.col("vb"), F.col("ib") - F.col("ia"))
        .otherwise(F.col("ia") - F.col("ib"))
        .alias("offset"),
        F.when(F.col("va") < F.col("vb"), F.col("ia"))
        .otherwise(F.col("ib"))
        .alias("i1"),
    )
    votes = ordered.groupBy("vid1", "vid2", "offset").agg(
        F.countDistinct("i1").alias("matched_frames")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vid1", "vid2").orderBy(
        F.desc("matched_frames"), F.asc("offset")
    )
    return (
        votes.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("matched_frames") >= min_frames))
        .drop("__rn")
    )


def build_video_repost_index(
    hashes: DataFrame,
    table_root: str,
    spark,
    id_col: str = "video_id",
    max_distance: int = 4,
    idx_col: str = "frame_idxs",
    hash_col: str = "frame_phashes",
) -> str:
    """Commit a corpus's per-frame hashes into the persisted Hamming
    index (composite video+frame keys) so incoming batches can be
    repost-gated with ``probe_video_reposts`` at zero corpus
    re-decoding — the video face of the phash_index / crop_probe_index
    story.  Growth via ``ops.dedup_store.append_to_hamming_dedup_index``
    over ``video_frames_cid`` of the new videos."""
    from pic2vec_spark.ops.dedup_store import build_hamming_dedup_index

    return build_hamming_dedup_index(
        video_frames_cid(hashes, id_col, idx_col, hash_col),
        table_root,
        spark,
        id_col="__cid",
        sig_col="__fh",
        max_distance=max_distance,
        extra_properties={"video_repost_index": "1"},
    )


def probe_video_reposts(
    table_root: str,
    spark,
    new_hashes: DataFrame,
    id_col: str = "video_id",
    min_frames: int = 3,
    idx_col: str = "frame_idxs",
    hash_col: str = "frame_phashes",
) -> DataFrame:
    """Ingest-time video repost gate: alignment-vote the persisted-
    index probe of an incoming batch's frames — (vid1, vid2, offset,
    matched_frames) pairs where at least one side is in the batch
    (batch-vs-corpus AND batch-internal, the probe contract).  Probe
    cost ∝ batch frames via file-pruned pigeonhole scans; run BEFORE
    appending so detected reposts can be dropped."""
    from pic2vec_spark.ops.dedup_store import probe_hamming_dedup_index

    pairs = probe_hamming_dedup_index(
        table_root,
        spark,
        video_frames_cid(new_hashes, id_col, idx_col, hash_col),
        id_col="__cid",
        sig_col="__fh",
    )
    return alignment_vote(pairs, min_frames)


_MEL_N_FFT = 512
_MEL_FB_CACHE: dict = {}


def _mel_filterbank(n_mel: int, rate: int, n_fft: int = _MEL_N_FFT) -> np.ndarray:
    """HTK-mel triangular filterbank: ``n_mel`` triangles with edges at
    n_mel+2 equally-spaced points on the mel axis between 0 and the
    Nyquist frequency, sampled at the rfft bin centers.  Cached per
    (n_mel, rate) — one small matrix per executor process."""
    key = (n_mel, rate, n_fft)
    fb = _MEL_FB_CACHE.get(key)
    if fb is not None:
        return fb

    def hz_to_mel(f):
        return 2595.0 * np.log10(1.0 + f / 700.0)

    def mel_to_hz(m):
        return 700.0 * (10.0 ** (m / 2595.0) - 1.0)

    edges = mel_to_hz(np.linspace(0.0, hz_to_mel(rate / 2.0), n_mel + 2))
    freqs = np.linspace(0.0, rate / 2.0, n_fft // 2 + 1)
    fb = np.zeros((n_mel, n_fft // 2 + 1), dtype=np.float64)
    for i in range(n_mel):
        lo, center, hi = edges[i], edges[i + 1], edges[i + 2]
        up = (freqs - lo) / max(center - lo, 1e-9)
        down = (hi - freqs) / max(hi - center, 1e-9)
        fb[i] = np.clip(np.minimum(up, down), 0.0, None)
    _MEL_FB_CACHE[key] = fb
    return fb


_MEL_MAX_FRAMES = 256


def _mel_energies(sig: np.ndarray, rate: int, n_mel: int) -> list:
    """log1p mel-filterbank energies of a mono clip: Hann-windowed
    512-point frames (50% hop), power spectra averaged over the clip,
    projected through the HTK-mel triangular filterbank.

    Memory bound: at most ``_MEL_MAX_FRAMES`` frames are sampled,
    evenly spaced over the clip — short clips use every frame, long
    ones a deterministic uniform subsample, so the working set stays
    ~256x512 doubles per row regardless of clip length (an unsampled
    30-min 44.1 kHz clip would otherwise materialize multi-GB frame /
    rfft buffers inside the Arrow worker)."""
    return np.log1p(_mel_power(sig, rate, n_mel)).astype(np.float32).tolist()


def _mel_power(sig: np.ndarray, rate: int, n_mel: int) -> np.ndarray:
    """Raw (un-logged) mel band powers — the shared kernel behind
    ``_mel_energies`` (audio_features) and ``audio_fp64``."""
    n_fft = _MEL_N_FFT
    hop = n_fft // 2
    x = np.asarray(sig, dtype=np.float64)
    if len(x) < n_fft:
        x = np.pad(x, (0, n_fft - len(x)))
    n_frames = 1 + (len(x) - n_fft) // hop
    if n_frames > _MEL_MAX_FRAMES:
        starts = np.linspace(
            0, (n_frames - 1) * hop, _MEL_MAX_FRAMES
        ).astype(np.int64)
    else:
        starts = hop * np.arange(n_frames, dtype=np.int64)
    idx = np.arange(n_fft)[None, :] + starts[:, None]
    frames = x[idx] * np.hanning(n_fft)
    power = (np.abs(np.fft.rfft(frames, axis=1)) ** 2).mean(axis=0)
    fb = _mel_filterbank(n_mel, rate)
    return fb @ power


def audio_features(
    df: DataFrame,
    n_mel: int = 16,
    bytes_col: str = "bytes",
    strict: bool = False,
) -> DataFrame:
    """Per-row audio features.  PCM RIFF/WAVE bytes are decoded FOR REAL
    (``codecs.decode_wav`` — the WAV container is plain stdlib/NumPy
    parsing, no codec library needed) and yield genuine signal features:
    ``audio_ok=True``, sample_rate, duration_s, rms, zero-crossing rate,
    and ``n_mel`` log mel-filterbank energies over the mono mixdown
    (HTK mel scale, Hann-windowed 512-point frames averaged over the
    clip — a real mel spectrogram summary, not linear bands).

    Bytes that are NOT plain PCM WAV (mp3/aac/ogg — still no decoder in
    this container) fall back to the declared deterministic STUB
    (``audio_ok=False``; see STUB_NOTE), or raise under ``strict``;
    the stub path runs the same mel kernel at an assumed 16 kHz so the
    column shape is uniform."""
    from pic2vec_spark.codecs import decode_wav

    schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("audio_ok", T.BooleanType(), False),
            T.StructField("sample_rate", T.IntegerType(), True),
            T.StructField("duration_s", T.DoubleType(), True),
            T.StructField("rms", T.DoubleType(), True),
            T.StructField("zcr", T.DoubleType(), True),
            T.StructField("mel", T.ArrayType(T.FloatType()), True),
        ]
    )

    def bands_of(sig: np.ndarray, rate: int) -> list:
        return _mel_energies(sig, rate, n_mel)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            oks, rates, durs, rmss, zcrs, mels = [], [], [], [], [], []
            for data in pdf[bytes_col]:
                try:
                    x, rate = decode_wav(bytes(data) if data is not None else b"")
                    mono = x.mean(axis=1)
                    oks.append(True)
                    rates.append(rate)
                    durs.append(round(len(mono) / rate, 6))
                    rmss.append(
                        round(float(np.sqrt((mono.astype(np.float64) ** 2).mean())), 6)
                        if len(mono)
                        else 0.0
                    )
                    zcrs.append(
                        round(float((np.diff(np.signbit(mono)) != 0).mean()), 6)
                        if len(mono) > 1
                        else 0.0
                    )
                    mels.append(bands_of(mono, rate))
                except ValueError:
                    if strict:
                        raise NotImplementedError(STUB_NOTE) from None
                    sig = _fake_signal(data, 1024)
                    oks.append(False)
                    rates.append(None)
                    durs.append(None)
                    rmss.append(None)
                    zcrs.append(None)
                    mels.append(bands_of(sig, 16000))
            out = pdf.copy()
            out["audio_ok"] = oks
            out["sample_rate"] = pd.array(rates, dtype="Int32")
            out["duration_s"] = pd.array(durs, dtype="float64")
            out["rms"] = pd.array(rmss, dtype="float64")
            out["zcr"] = pd.array(zcrs, dtype="float64")
            out["mel"] = mels
            yield out

    return df.mapInPandas(run, schema=schema)


def audio_fp64(
    sig: np.ndarray, rate: int, n_time: int = 9, n_bands: int = 9
) -> int:
    """Philips-robust-hash-style 64-bit audio fingerprint (Haitsma &
    Kalker 2002, the per-frame sub-fingerprint collapsed to one
    clip-level word): split the mono clip into ``n_time`` equal time
    blocks, take ``n_bands`` log-mel energies per block, and keep the
    SIGN of the band-then-time double difference

        bit(t, b) = [(E[t,b+1] − E[t,b]) − (E[t−1,b+1] − E[t−1,b]) > 0]

    → (n_time−1)·(n_bands−1) = 64 bits.

    GAIN INVARIANCE BY CONSTRUCTION: the band energies enter as
    ``log(P_band + 1e-4·ΣP + tiny)`` — the floor is RELATIVE to the
    block's total power, so a volume change scales every term of the
    log's argument equally and the whole fingerprint is exactly
    invariant up to 16-bit requantization noise.  (An absolute floor —
    log1p — is NOT: on sparse tonal content most mel bands sit at the
    floor where log1p(E) ≈ E scales with gain², and a measured sweep
    over two-tone signals flipped up to 63/64 bits under a 0.25×
    volume change.  With the relative floor the same 3000-signal sweep
    tops out at 2 bits; tests/test_property.py pins ≤3.)  A
    volume-scaled or requantized copy therefore lands 0–2 Hamming bits
    away while distinct content sits ~12–52 bits apart (median ~32) —
    the same Hamming-ball dedup contract as image pHash, so the SAME
    pigeonhole machinery (``ops.dedup.hamming_neardup_pairs``, the
    persisted Hamming index) serves audio unchanged."""
    x = np.asarray(sig, dtype=np.float64)
    blocks = np.array_split(x, n_time)
    eng = []
    for b in blocks:
        p = _mel_power(b, rate, n_bands)
        eng.append(np.log(p + 1e-4 * p.sum() + 1e-300))
    dd = np.diff(np.diff(np.array(eng), axis=1), axis=0)
    return _pack_bits64((dd > 0).astype(np.uint8).reshape(-1))


def compute_audio_fp(
    df: DataFrame,
    bytes_col: str = "bytes",
    n_time: int = 9,
    n_bands: int = 9,
) -> DataFrame:
    """Attach the 64-bit robust audio fingerprint (``fp64: long``,
    ``fp_ok: boolean``) to every PCM-WAV row — narrow map, one decode,
    no shuffle.  Non-WAV bytes yield ``fp_ok=False`` (fp64=0), the same
    missing-semantics as the image hash ops."""
    from pic2vec_spark.codecs import decode_wav

    schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("fp64", T.LongType(), False),
            T.StructField("fp_ok", T.BooleanType(), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fps, oks = [], []
            for data in pdf[bytes_col]:
                try:
                    x, rate = decode_wav(
                        bytes(data) if data is not None else b""
                    )
                    fps.append(audio_fp64(x.mean(axis=1), rate, n_time, n_bands))
                    oks.append(True)
                except ValueError:
                    fps.append(0)
                    oks.append(False)
            out = pdf.copy()
            out["fp64"] = pd.array(fps, dtype="int64")
            out["fp_ok"] = oks
            yield out

    return df.mapInPandas(run, schema=schema)


def video_scenes(
    hashes: DataFrame,
    id_col: str = "video_id",
    idx_col: str = "frame_idxs",
    hash_col: str = "frame_phashes",
    threshold: int = 12,
) -> DataFrame:
    """Shot-boundary scene segmentation over per-frame perceptual
    hashes (the output of :func:`video_frame_phashes`): a new scene
    starts wherever the Hamming distance between consecutive frame
    pHashes exceeds ``threshold`` bits — small within-shot motion
    (pans, rolls, requantization) stays under it, a cut to different
    content jumps far above.  Output one row per scene:
    ``(video_id, scene_id, start_frame, end_frame, n_frames)`` with
    ``scene_id`` 0-based in frame order and frame numbers in ORIGINAL
    frame indexes (the ``frame_idxs`` the sampler kept).

    Plan shape: one narrow posexplode, one per-video window (lag +
    running boundary sum — partitions are single videos, frame counts
    bounded by the sampler's ``max_frames``), one (video, scene)
    groupBy.  No joins, no candidate generation; at 10^12 frames the
    work is two bounded shuffles on the video key.
    """
    scenes = _scene_frames(hashes, id_col, idx_col, hash_col, threshold)
    return scenes.groupBy("video_id", "scene_id").agg(
        F.min("frame_idx").alias("start_frame"),
        F.max("frame_idx").alias("end_frame"),
        F.count(F.lit(1)).alias("n_frames"),
    )


def _scene_frames(
    hashes: DataFrame,
    id_col: str,
    idx_col: str,
    hash_col: str,
    threshold: int,
) -> DataFrame:
    """Frame-level scene labeling shared by :func:`video_scenes` and
    :func:`scene_keyframes`: posexplode + per-video lag window +
    running boundary sum → (video_id, __pos, frame_idx, __fh,
    scene_id)."""
    from pyspark.sql import Window

    z = hashes.select(
        F.col(id_col).alias("video_id"),
        F.col(idx_col).alias("__idxs"),
        F.posexplode(hash_col).alias("__pos", "__fh"),
    ).select(
        "video_id",
        F.col("__pos"),
        F.element_at(F.col("__idxs"), F.col("__pos") + 1).alias("frame_idx"),
        "__fh",
    )
    w = Window.partitionBy("video_id").orderBy("__pos")
    prev = F.lag("__fh").over(w)
    boundary = (
        prev.isNull()
        | (F.bit_count(F.col("__fh").bitwiseXOR(prev)) > threshold)
    ).cast("int")
    return z.withColumn(
        "scene_id",
        F.sum(boundary).over(w.rowsBetween(Window.unboundedPreceding, 0))
        - F.lit(1),
    )


def scene_keyframes(
    hashes: DataFrame,
    id_col: str = "video_id",
    idx_col: str = "frame_idxs",
    hash_col: str = "frame_phashes",
    threshold: int = 12,
) -> DataFrame:
    """One representative KEYFRAME per detected scene — the standard
    video-preprocessing reduction (decode once per clip, keep one
    frame per shot, featurize only those): the temporally middle
    sampled frame of each scene, ``floor((n-1)/2)`` into the scene in
    frame order, so a 1-frame scene keeps its only frame and drift
    within a shot never changes the pick.  Output
    ``(video_id, scene_id, keyframe_idx, fhash64, n_frames)`` — the
    hash rides along so downstream dedup / repost machinery can run
    on keyframes without re-decoding.

    Plan shape: the shared frame-level scene labeling plus ONE
    (video, scene) window (row_number + count) — same two bounded
    video-keyed shuffles as :func:`video_scenes`, no joins."""
    from pyspark.sql import Window

    scenes = _scene_frames(hashes, id_col, idx_col, hash_col, threshold)
    ws = Window.partitionBy("video_id", "scene_id").orderBy("__pos")
    wc = Window.partitionBy("video_id", "scene_id")
    return (
        scenes.withColumn("__rn", F.row_number().over(ws))
        .withColumn("n_frames", F.count(F.lit(1)).over(wc))
        .filter(
            F.col("__rn") - 1 == F.floor((F.col("n_frames") - 1) / 2)
        )
        .select(
            "video_id",
            "scene_id",
            F.col("frame_idx").alias("keyframe_idx"),
            F.col("__fh").alias("fhash64"),
            "n_frames",
        )
    )


def audio_frame_activity(
    x: np.ndarray,
    rate: int,
    frame_ms: int = 20,
    active_frac: float = 0.1,
) -> np.ndarray:
    """Per-frame activity verdicts for a mono float signal: frame RMS
    against a RELATIVE floor — ``active_frac`` of the clip's loudest
    frame — so the verdict is gain-invariant (the same contract that
    makes the audio fingerprint volume-proof; a half-volume copy
    segments identically).  Tail samples that don't fill a frame are
    dropped.  Pure NumPy; shared by the executor UDF and the
    driver-side literal oracle."""
    frame_len = max(1, (rate * frame_ms) // 1000)
    n = (len(x) // frame_len) * frame_len
    if n == 0:
        return np.zeros(0, dtype=bool)
    frames = x[:n].reshape(-1, frame_len)
    rms = np.sqrt((frames * frames).mean(axis=1))
    return rms > active_frac * rms.max()


def audio_activity_spans(
    df: DataFrame,
    bytes_col: str = "bytes",
    frame_ms: int = 20,
    active_frac: float = 0.1,
) -> DataFrame:
    """Voice-activity-style segmentation — the audio mirror of video
    scene detection: decode each WAV once, frame it, mark frames
    active/silent against the gain-invariant relative floor, then
    merge consecutive same-state frames into spans.  The trim-silence
    preprocessing every speech/audio training pipeline runs before
    featurizing.  Output one row per span: ``(clip span_id, is_active,
    start_frame, end_frame, n_frames, start_s, end_s)`` (seconds
    rounded to 6).

    Plan shape: ONE MapInPandas decode pass emitting the bounded
    per-frame verdict array, a narrow posexplode, one per-clip lag
    window + running state-change sum, one (clip, span) groupBy — the
    exact shape of video_scenes, shuffles keyed by clip only.  The
    clip key is every non-bytes column, all kept in the output.
    Undecodable rows vanish (audio_ok=False, empty array), matching
    the binary-op missing semantics."""
    from pic2vec_spark.codecs import decode_wav
    from pyspark.sql import Window

    id_fields = list(df.schema.fields)
    schema = T.StructType(
        [f for f in id_fields if f.name != bytes_col]
        + [
            T.StructField("frame_active", T.ArrayType(T.BooleanType()), False),
            T.StructField("audio_ok", T.BooleanType(), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            acts, oks = [], []
            for data in pdf[bytes_col]:
                try:
                    x, rate = decode_wav(
                        bytes(data) if data is not None else b""
                    )
                    act = audio_frame_activity(
                        x.mean(axis=1), rate, frame_ms, active_frac
                    )
                    acts.append([bool(b) for b in act])
                    oks.append(True)
                except Exception:
                    acts.append([])
                    oks.append(False)
            out = pdf.drop(columns=[bytes_col])
            out["frame_active"] = acts
            out["audio_ok"] = oks
            yield out

    key = [f.name for f in id_fields if f.name != bytes_col]
    frames = (
        df.mapInPandas(run, schema=schema)
        .filter(F.col("audio_ok"))
        .select(
            *key,
            F.posexplode("frame_active").alias("frame_idx", "is_active"),
        )
    )
    w = Window.partitionBy(*key).orderBy("frame_idx")
    changed = (
        F.lag("is_active").over(w).isNull()
        | (F.lag("is_active").over(w) != F.col("is_active"))
    ).cast("int")
    sec = frame_ms / 1000.0
    spans = frames.withColumn(
        "span_id",
        F.sum(changed).over(w.rowsBetween(Window.unboundedPreceding, 0))
        - F.lit(1),
    )
    return spans.groupBy(*key, "span_id").agg(
        F.first("is_active").alias("is_active"),
        F.min("frame_idx").alias("start_frame"),
        F.max("frame_idx").alias("end_frame"),
        F.count(F.lit(1)).alias("n_frames"),
        F.round(F.min("frame_idx") * F.lit(sec), 6).alias("start_s"),
        F.round((F.max("frame_idx") + 1) * F.lit(sec), 6).alias("end_s"),
    )
