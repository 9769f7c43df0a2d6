"""Persisted IVF index: the coarse-quantizer cells written INTO the
storage layout, so probes prune FILES, not just rows.

``ops.knn.ivf_topk`` assigns cells at query time — correct, but every
query pass re-reads and re-assigns the whole corpus.  Its docstring
states the 10^12-row shape: "the corpus side would be written
partitioned by cell so probes prune files".  This module makes that
real with the engine's own snapshot layer:

- ``build_ivf_index``: assign each corpus vector to its argmax-cosine
  cell (same deterministic tiebreak as ``ivf_topk``) and commit the
  result as a SnapshotTable with ``partition_by='cell'`` and per-file
  ``cell`` min/max stats in the manifest.  One pass over the corpus,
  ever; each data file holds one cell (or a few hash-colliding ones).
- ``probe_ivf_index``: compute each query's nprobe cells, prune the
  manifest to the files whose recorded cell range intersects the probed
  set (driver-side, no data touched), and exact-cosine re-rank ONLY the
  scanned members.  At 10^12 rows with 4096 cells and nprobe=8, a probe
  reads ~0.2% of the files — the rest never leave object storage.

Results are EXACTLY ``ivf_topk``'s (same assignment, probe ranking and
re-rank arithmetic) — pinned by test + the shared DuckDB oracle.

Reference contrast: pic2vec has no index structures at all (it scans a
directory per run, image_featurizer.py:250); this module is part of the
engine's 100 TB retrieval layer, not a parity item.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# assign_cells lives in ops.knn and is SHARED with ivf_topk — one
# definition, so probe==ivf_topk equivalence is structural
from pic2vec_spark.ops.knn import (  # noqa: F401  (re-exported)
    _cosine_unrolled,
    _with_centroid_cos,
    assign_cells,
)
from pic2vec_spark.ops.dedup_store import (
    _append,
    _build,
    _check_family,
    _key_scan,
    _KeyIndex,
    _manifest_props,
)


def _centroid_digest(centroids: np.ndarray) -> str:
    import hashlib

    arr = np.ascontiguousarray(centroids, dtype=np.float64)
    return hashlib.md5(
        arr.tobytes() + str(arr.shape).encode()
    ).hexdigest()


def _ivf_index(centroids: np.ndarray) -> _KeyIndex:
    """The IVF cells as a key index: ``assign_cells`` rows partitioned
    by cell.  The quantizer IS part of the index: a probe under
    different centroids would scan the wrong cells and return silently
    wrong neighbors, so its digest is the family identity."""
    n_cells = int(centroids.shape[0])
    return _KeyIndex(
        "ivf",
        {"n_cells": n_cells, "centroid_digest": _centroid_digest(centroids)},
        "cell",
        # 2x cells: hash collisions then rarely co-locate two cells in
        # one file, keeping the per-file cell range tight (pruning stays
        # near-exact); collisions remain CORRECT, just less selective
        2 * n_cells,
        lambda df, id_col, vec_col: assign_cells(df, centroids, id_col, vec_col),
        digest_key="centroid_digest",
        records_id=False,
    )


def build_ivf_index(
    corpus: DataFrame,
    centroids: np.ndarray,
    table_root: str,
    spark: SparkSession,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_properties: dict | None = None,
) -> str:
    """Commit the cell-assigned corpus as a cell-partitioned snapshot;
    returns the snapshot id.  ``partition_by='cell'`` gives one data
    file per cell-hash bucket and the manifest records each file's
    [min_cell, max_cell], which is what ``probe_ivf_index`` prunes on."""
    return _build(
        _ivf_index(centroids), corpus, table_root, spark, id_col, vec_col,
        extra_properties,
    )


def append_to_ivf_index(
    new_corpus: DataFrame,
    centroids: np.ndarray,
    table_root: str,
    spark: SparkSession,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    properties: dict | None = None,
) -> str:
    """Incremental index maintenance: assign ONLY the new vectors to
    their cells (same quantizer — digest-verified, a mismatched append
    would scatter rows into cells probes won't look in) and APPEND them
    as new cell-partitioned data files.  The existing corpus files are
    carried forward untouched, so ingest cost is proportional to the
    NEW data — the standard IVF freshness recipe (FAISS add(); rebuild
    only when the quantizer drifts from the data distribution).

    Probes see old + new immediately: ``probe_ivf_index`` prunes by the
    per-file cell stats, and the appended files carry their own stats
    rows.  Returns the new snapshot id (the parent snapshot remains
    readable — time travel across index versions)."""
    spec = _ivf_index(centroids)
    table, props = _manifest_props(
        table_root, spark,
        f"no IVF index at {table_root} — build_ivf_index first",
    )
    _check_family(
        spec, props,
        "append centroids do not match the quantizer this index was "
        "built with (centroid_digest mismatch) — appended rows would "
        "land in cells probes never scan; rebuild the index to "
        "re-quantize",
    )
    return _append(spec, table, new_corpus, id_col, vec_col, properties)


def probe_ivf_index(
    table_root: str,
    spark: SparkSession,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k against a prebuilt index — same output as ``ivf_topk``
    on the same (corpus, queries, centroids), but the corpus is read
    through the manifest with file-level cell pruning instead of being
    re-assigned per query pass.

    The probed-cell set is bounded by n_cells (driver-sized by
    construction — it is the coarse quantizer), so collecting it to
    drive manifest pruning costs one tiny aggregate over the QUERY side,
    never a corpus scan."""
    table, props = _manifest_props(
        table_root, spark, f"no IVF index at {table_root}"
    )
    _check_family(
        _ivf_index(centroids), props,
        "probe centroids do not match the quantizer this index was "
        "built with (centroid_digest mismatch) — rebuild the index "
        "or probe with the original centroids; a mismatched probe "
        "would scan the wrong cells and return silently wrong "
        "neighbors",
    )
    qc = _with_centroid_cos(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        ),
        "qvec",
        centroids,
    ).select(
        "query_id",
        "qvec",
        F.posexplode(F.col("__cos")).alias("cell0", "ccos"),
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("ccos").desc(), F.col("cell0").asc()
    )
    probes = (
        qc.withColumn("prk", F.row_number().over(w_probe))
        .filter(F.col("prk") <= nprobe)
        .select("query_id", "qvec", (F.col("cell0") + 1).cast("int").alias("cell"))
        .localCheckpoint(eager=True)  # probed twice: cell-set + join
    )
    # file-level pruning: a file whose recorded cell range misses every
    # probed cell is never opened
    corpus = _key_scan(table, "cell", probes)
    if corpus is None:
        # empty query set: return the correctly-typed empty result, the
        # same grace ivf_topk has (no files are opened)
        from pyspark.sql import types as T

        id_type = queries.schema[id_col].dataType
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("query_id", id_type),
                    T.StructField("neighbor_id", id_type),
                    T.StructField("cos", T.DoubleType()),
                    T.StructField("rk", T.IntegerType()),
                ]
            ),
        )
    cand = (
        corpus.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos",
            F.round(
                _cosine_unrolled("qvec", "cvec", int(centroids.shape[1])), 6
            ),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos", "rk")
    )
