"""Persisted MinHash-LSH dedup index: incremental near-duplicate
detection without re-shingling the corpus.

``ops.dedup.lsh_candidate_pairs`` is the right one-shot shape, but it
recomputes every document's shingles, MinHash signature, and band
buckets on every run.  At 10^12 documents the corpus side of that is
the entire cost: a daily ingest of 0.1% new documents would pay the
full 100 TB shingle pass each day.  This module persists the band
buckets — (doc_id, band, band_sig), ~bands rows of a few dozen bytes
per document, orders of magnitude smaller than the text — with the
engine's own snapshot layer, so:

- ``build_lsh_dedup_index``: one shingle+MinHash pass over the corpus,
  ever.  Buckets are committed partitioned by a band_sig hex prefix
  with per-file prefix min/max stats in the manifest (the same
  Iceberg-style file pruning as ``ops.ivf_store``).
- ``append_to_lsh_dedup_index``: bucket ONLY the new documents and
  append them as new data files; existing files are carried forward
  untouched.  Ingest cost ∝ new data.  The hash family (permutation
  constants, band split, shingle width) is digest-verified — an append
  under a different family would land signatures no probe can match,
  silently missing every cross-batch duplicate.
- ``probe_lsh_dedup_index``: near-dup candidate pairs between a NEW
  batch and the indexed corpus (plus within the batch) BEFORE
  committing it — the ingest-time dedup gate.  The new batch's buckets
  are broadcast against the index scan (no corpus shuffle), and the
  scan itself is file-pruned to the batch's band_sig prefixes.
- ``neardup_pairs_from_index``: the full candidate pair set from the
  stored buckets alone — equals ``lsh_candidate_pairs`` over the same
  documents (same bucket definition, shared code), with zero text
  reads.

The same layout carries an EXACT-duplicate index (``*_digest_dedup_*``):
one md5 digest row per document (a few dozen bytes vs the full text),
prefix-partitioned so an ingest-time probe file-prunes the corpus scan.
Build once, append only the new batch's digests, and
``probe_digest_dedup_index`` answers "which of these incoming documents
are byte-identical (post-normalization) to something already committed"
without rescanning a single committed byte.

A third kind, the Hamming-ball index (``*_hamming_dedup_*``), does the
same for <=64-bit fingerprints.  All kinds, and ``ops.ivf_store``'s
cells, are instances of one private ``_KeyIndex`` spec (key rows,
pruning key, identity properties + family digest, optional Hamming
verify), so build, append, the family check, the probe and the pairs
are each written once.

Reference contrast: pic2vec keeps no state between runs (it re-reads
its CSV/directory per call, image_featurizer.py:250); this module is
part of the engine's 100 TB ingest layer, not a parity item.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pic2vec_spark.ops.dedup import _norm_text, _perm_constants, lsh_band_buckets
from pic2vec_spark.snapshots import SnapshotTable

# ------------------------------------------------------ the key index


@dataclass(frozen=True)
class _KeyIndex:
    """The spec every persisted key index is an instance of (LSH band
    buckets, md5 digests, pigeonhole Hamming chunks, IVF cells):
    ``rows(df, id_col, value_col)`` emits ``(id_col, *on, [sig],
    key_col)``, ``key_col`` being the bounded integer partition /
    per-file stats key probes prune on; ``family`` is the identity
    recorded after ``index``/``id_col``, of which ``digest_key`` must
    match on reuse; ``max_distance`` verifies candidate pairs by the
    Hamming distance of their ``sig``."""

    kind: str
    family: dict
    key_col: str
    n_files: int
    rows: Callable[[DataFrame, str, str], DataFrame]
    on: tuple = ()
    digest_key: str | None = None
    mismatch: str = ""
    max_distance: int | None = None
    records_id: bool = True

    def identity(self, id_col: str) -> dict:
        ids = {"id_col": id_col} if self.records_id else {}
        return {"index": self.kind, **ids, **self.family}


def _hex_prefix(col: str, prefix_chars: int):
    return F.conv(F.substring(col, 1, prefix_chars), 16, 10).cast("int")


def _lsh_index(
    n_hashes: int, bands: int, shingle_n: int, prefix_chars: int
) -> _KeyIndex:
    """Band buckets ``(id, band, band_sig, sig_pfx)``; the family
    digest covers the MinHash permutation constants, so even a seed
    change is caught."""
    parts = [n_hashes, bands, shingle_n, prefix_chars, *(
        v for ab in _perm_constants(n_hashes) for v in ab
    )]

    def rows(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
        return lsh_band_buckets(
            df, id_col, text_col, n_hashes, bands, shingle_n
        ).withColumn("sig_pfx", _hex_prefix("band_sig", prefix_chars))

    return _KeyIndex(
        "lsh_dedup",
        {
            "n_hashes": int(n_hashes),
            "bands": int(bands),
            "shingle_n": int(shingle_n),
            "prefix_chars": int(prefix_chars),
            "family_digest": hashlib.md5(
                ",".join(map(str, parts)).encode()
            ).hexdigest(),
        },
        "sig_pfx",
        # 2x keys: same rule as ops.ivf_store — hash collisions then
        # rarely co-locate two keys in one file, keeping per-file key
        # ranges tight so probe pruning stays near-exact
        2 * (16 ** prefix_chars),
        rows,
        on=("band", "band_sig"),
        digest_key="family_digest",
        mismatch=(
            "this build's MinHash permutation constants do not "
            "reproduce the family this index was built with "
            "(family_digest mismatch) — signatures would be incomparable "
            "and every cross-batch duplicate silently missed; rebuild the "
            "index"
        ),
    )


def _digest_index(prefix_chars: int, norm: str) -> _KeyIndex:
    """One md5 row per document ``(id, fp_md5, fp_pfx)``.  ``norm``
    picks the digest definition: ``lower_trim`` matches
    ``ops.dedup.exact_dedup`` (text corpora, so index answers equal
    the one-shot operator's); ``binary`` hashes the raw column bytes
    (image/audio blobs, where case-folding is meaningless)."""

    def rows(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
        if norm == "lower_trim":
            digest = F.md5(_norm_text(text_col))
        elif norm == "binary":
            digest = F.md5(F.col(text_col))
        else:
            raise ValueError(f"unknown digest norm {norm!r}")
        return df.select(F.col(id_col), digest.alias("fp_md5")).withColumn(
            "fp_pfx", _hex_prefix("fp_md5", prefix_chars)
        )

    return _KeyIndex(
        "digest_dedup",
        {"norm": f"{norm}_md5", "prefix_chars": int(prefix_chars)},
        "fp_pfx",
        2 * (16 ** prefix_chars),
        rows,
        on=("fp_md5",),
    )


def _hamming_index(max_distance: int, bits: int, bucket_mod: int) -> _KeyIndex:
    """Pigeonhole chunk buckets ``(id, sig, chunk, chunk_val, pfx)``:
    max_distance+1 chunks (the last absorbs the remainder bits), so any
    pair within max_distance bits shares at least one exact chunk; the
    bounded pruning key is pfx = chunk * bucket_mod + chunk_val %
    bucket_mod."""
    chunks = max_distance + 1
    width = bits // chunks

    def chunk_val(sig_col: str, c: int):
        w = width if c < chunks - 1 else bits - width * (chunks - 1)
        return F.shiftright(F.col(sig_col), c * width).bitwiseAND(
            F.lit((1 << w) - 1)
        )

    def rows(df: DataFrame, id_col: str, sig_col: str) -> DataFrame:
        # all chunks in one projection + explode — a per-chunk UNION
        # would re-run the upstream signature computation once per chunk
        entries = F.array(*[
            F.struct(
                F.lit(c).alias("chunk"), chunk_val(sig_col, c).alias("chunk_val")
            )
            for c in range(chunks)
        ])
        return df.select(
            F.col(id_col),
            F.col(sig_col).alias("sig"),
            F.explode(entries).alias("__cb"),
        ).select(
            id_col,
            "sig",
            F.col("__cb.chunk").alias("chunk"),
            F.col("__cb.chunk_val").alias("chunk_val"),
            (
                F.col("__cb.chunk") * bucket_mod
                + F.pmod(F.col("__cb.chunk_val"), F.lit(bucket_mod))
            ).cast("int").alias("pfx"),
        )

    return _KeyIndex(
        "hamming_dedup",
        {
            "max_distance": int(max_distance),
            "bits": int(bits),
            "bucket_mod": int(bucket_mod),
            "family_digest": hashlib.md5(
                f"hamming,{max_distance},{bits},{bucket_mod}".encode()
            ).hexdigest(),
        },
        "pfx",
        2 * chunks * bucket_mod,
        rows,
        on=("chunk", "chunk_val"),
        digest_key="family_digest",
        mismatch=(
            "this build's chunk family does not reproduce the "
            "one this index was built with (family_digest mismatch) — "
            "chunk buckets would be incomparable; rebuild the index"
        ),
        max_distance=int(max_distance),
    )


def _manifest_props(table_root: str, spark: SparkSession,
                    missing: str) -> tuple:
    table = SnapshotTable(table_root, spark)
    man = table.manifest()
    if man is None:
        raise FileNotFoundError(missing)
    return table, man.get("properties") or {}


def _check_family(spec: _KeyIndex, props: dict, message: str) -> None:
    # an index recorded without the digest predates it: accepted
    if spec.digest_key is not None and props.get(spec.digest_key) not in (
        None, spec.family[spec.digest_key]
    ):
        raise ValueError(message)


def _open(table_root: str, spark: SparkSession, kind: str,
          action: str | None = None) -> tuple:
    """(table, props, spec) of an existing ``kind`` index, the spec
    rebuilt from the manifest — the source of truth, so appends and
    probes key new rows the same way forever.  With ``action`` the
    family (digest indexes: the digest norm) is verified first."""
    table, props = _manifest_props(
        table_root, spark, f"no {kind} index at {table_root} — build it first"
    )
    if props.get("index") != kind:
        raise ValueError(
            f"snapshot table at {table_root} is not a {kind} index "
            f"(index={props.get('index')!r})"
        )
    if kind == "lsh_dedup":
        spec = _lsh_index(*(int(props[k]) for k in (
            "n_hashes", "bands", "shingle_n", "prefix_chars")))
    elif kind == "hamming_dedup":
        spec = _hamming_index(*(int(props[k]) for k in (
            "max_distance", "bits", "bucket_mod")))
    else:
        norm = props.get("norm", "lower_trim_md5")
        if action is not None and norm not in ("lower_trim_md5", "binary_md5"):
            raise ValueError(
                f"{action}: index digest norm {norm!r} is not one this "
                "build can reproduce — digests would be incomparable; "
                "rebuild the index"
            )
        spec = _digest_index(int(props["prefix_chars"]), norm[: -len("_md5")])
    if action is not None:
        _check_family(spec, props, f"{action}: {spec.mismatch}")
    return table, props, spec


def _write(spec: _KeyIndex, table: SnapshotTable, df: DataFrame,
           id_col: str, value_col: str, properties: dict | None,
           append: bool) -> str:
    return (table.append if append else table.write)(
        spec.rows(df, id_col, value_col),
        partition_by=spec.key_col,
        num_partitions=spec.n_files,
        stats_cols=[spec.key_col],
        properties=properties,
    )


def _build(spec: _KeyIndex, df: DataFrame, table_root: str,
           spark: SparkSession, id_col: str, value_col: str,
           extra_properties: dict | None) -> str:
    return _write(
        spec, SnapshotTable(table_root, spark), df, id_col, value_col,
        {**(extra_properties or {}), **spec.identity(id_col)}, False,
    )


def _append(spec: _KeyIndex, table: SnapshotTable, df: DataFrame,
            id_col: str, value_col: str, properties: dict | None) -> str:
    # a caller-supplied dict REPLACES the manifest properties wholesale
    # (append only carries the parent's when properties is None) — merge
    # the index-identity keys back on top, or the next append/probe
    # would go unguarded
    if properties is not None:
        properties = {**properties, **spec.identity(id_col)}
    return _write(spec, table, df, id_col, value_col, properties, True)


def _append_checked(kind: str, new: DataFrame, table_root: str,
                    spark: SparkSession, id_col: str, value_col: str,
                    properties: dict | None) -> str:
    table, props, spec = _open(table_root, spark, kind, "append")
    if props.get("id_col") != id_col:
        raise ValueError(
            f"append id_col {id_col!r} != index id_col {props.get('id_col')!r}"
        )
    return _append(spec, table, new, id_col, value_col, properties)


def _key_scan(table: SnapshotTable, key_col: str, keyed: DataFrame):
    """The index scan file-pruned to ``keyed``'s distinct ``key_col``
    values, or None when it has none.  The key set is bounded by the
    key space (≤256 prefixes, chunks x bucket_mod, n_cells) — a
    driver-sized collect that drives manifest pruning; the residual
    in-range misses are dropped by the row filter (which lands in
    PushedFilters too)."""
    keys = sorted(r[0] for r in keyed.select(key_col).distinct().collect())
    if not keys:
        return None
    return table.scan(
        min_stats={key_col: (keys[0], keys[-1])}
    ).filter(F.col(key_col).isin(*keys))


def _side(spec: _KeyIndex, rows: DataFrame, id_col: str, tag: str):
    """One side of a key join: (id{tag}, *on[, s{tag}])."""
    sig = [] if spec.max_distance is None else [F.col("sig").alias(f"s{tag}")]
    return rows.select(F.col(id_col).alias(f"id{tag}"), *spec.on, *sig)


def _self_pairs(spec: _KeyIndex, rows: DataFrame, id_col: str) -> DataFrame:
    """Key-sharing pairs (id1 < id2) within one key-row frame."""
    return (
        _side(spec, rows, id_col, "1")
        .join(_side(spec, rows, id_col, "2"), list(spec.on))
        .filter(F.col("id1") < F.col("id2"))
        .drop(*spec.on)
    )


def _verified(spec: _KeyIndex, candidates: DataFrame) -> DataFrame:
    """Distinct candidate pairs, Hamming-verified when the spec asks."""
    pairs = candidates.distinct()
    if spec.max_distance is None:
        return pairs
    return (
        pairs.withColumn(
            "hamming", F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
        )
        .filter(F.col("hamming") <= spec.max_distance)
        .select("id1", "id2", "hamming")
    )


def _pairs(spec: _KeyIndex, rows: DataFrame, id_col: str) -> DataFrame:
    return _verified(spec, _self_pairs(spec, rows, id_col))


def _probe(table_root: str, spark: SparkSession, kind: str,
           batch: DataFrame, id_col: str, value_col: str) -> tuple:
    """(spec, delta, cross): the batch's key rows, checkpointed (used
    for the key set, the corpus join and the within-batch join), and
    the corpus-vs-batch key matches (ida, idb, *on[, sa, sb]) — the
    pruned index scan joined with the broadcast batch, so the corpus
    never shuffles — or None when the batch has no keys."""
    table, props, spec = _open(table_root, spark, kind, "probe")
    delta = spec.rows(batch, id_col, value_col).localCheckpoint(eager=True)
    corpus = _key_scan(table, spec.key_col, delta)
    if corpus is None:
        return spec, delta, None
    cross = _side(spec, corpus, props["id_col"], "a").join(
        F.broadcast(_side(spec, delta, id_col, "b")), list(spec.on)
    )
    return spec, delta, cross


def _probe_pairs(table_root: str, spark: SparkSession, kind: str,
                 batch: DataFrame, id_col: str, value_col: str) -> DataFrame:
    """Candidate pairs touching the batch: corpus-vs-batch ∪ within-batch."""
    spec, delta, cross = _probe(
        table_root, spark, kind, batch, id_col, value_col
    )
    within = _self_pairs(spec, delta, id_col)
    if cross is None:
        return _verified(spec, within)
    sigs = [] if spec.max_distance is None else [
        F.col("sa").alias("s1"), F.col("sb").alias("s2")
    ]
    cross = cross.filter(F.col("ida") != F.col("idb")).select(
        F.least("ida", "idb").alias("id1"),
        F.greatest("ida", "idb").alias("id2"),
        *sigs,
    )
    return _verified(spec, cross.unionByName(within))


# ------------------------------------------------------ MinHash-LSH index

def build_lsh_dedup_index(
    docs: DataFrame,
    table_root: str,
    spark: SparkSession,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    prefix_chars: int = 1,
    extra_properties: dict | None = None,
) -> str:
    """Commit the corpus's band buckets as a prefix-partitioned snapshot;
    returns the snapshot id.  ``prefix_chars`` hex chars of band_sig
    (16**prefix_chars buckets) drive file layout and probe pruning —
    1 suits tests, 2 (256-way) a production table."""
    return _build(
        _lsh_index(n_hashes, bands, shingle_n, prefix_chars), docs,
        table_root, spark, id_col, text_col, extra_properties,
    )


def append_to_lsh_dedup_index(
    new_docs: DataFrame,
    table_root: str,
    spark: SparkSession,
    id_col: str = "doc_id",
    text_col: str = "text",
    properties: dict | None = None,
) -> str:
    """Incremental index maintenance: bucket ONLY the new documents
    (family read from the manifest, digest-verified) and append them as
    new prefix-partitioned files.  Existing files are carried forward
    untouched — ingest cost ∝ new data.  Returns the new snapshot id
    (the parent stays readable: time travel across index versions)."""
    return _append_checked(
        "lsh_dedup", new_docs, table_root, spark, id_col, text_col, properties
    )


def neardup_pairs_from_index(
    table_root: str, spark: SparkSession
) -> DataFrame:
    """All near-dup candidate pairs (id1 < id2) from the stored buckets
    — equals ``lsh_candidate_pairs`` over every indexed document (the
    bucket definition is shared code), but reads only the bucket files:
    no text, no shingling, no MinHash recompute."""
    table, props, spec = _open(table_root, spark, "lsh_dedup")
    return _pairs(spec, table.scan(), props["id_col"])


def probe_lsh_dedup_index(
    table_root: str,
    spark: SparkSession,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Ingest-time dedup gate: candidate pairs (id1 < id2) where at
    least one side is in ``new_docs`` — batch-vs-corpus (the index scan,
    file-pruned to the batch's band_sig prefixes, broadcast-joined
    against the batch's buckets: no corpus shuffle) unioned with
    batch-internal pairs.  Run BEFORE ``append_to_lsh_dedup_index`` so
    duplicates can be dropped from the batch; equals the full
    ``lsh_candidate_pairs`` over (corpus ∪ batch) restricted to pairs
    touching the batch."""
    return _probe_pairs(
        table_root, spark, "lsh_dedup", new_docs, id_col, text_col
    )


# --------------------------------------------------- exact digest index

def build_digest_dedup_index(
    docs: DataFrame,
    table_root: str,
    spark: SparkSession,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_chars: int = 1,
    norm: str = "lower_trim",
    extra_properties: dict | None = None,
) -> str:
    """Commit one md5 digest row per document, prefix-partitioned with
    per-file fp_pfx min/max stats — the exact-dup complement of
    ``build_lsh_dedup_index``.  ``norm='binary'`` makes this an exact
    image/blob index (digest over raw bytes).  Returns the snapshot
    id."""
    return _build(
        _digest_index(prefix_chars, norm), docs, table_root, spark,
        id_col, text_col, extra_properties,
    )


def append_to_digest_dedup_index(
    new_docs: DataFrame,
    table_root: str,
    spark: SparkSession,
    id_col: str = "doc_id",
    text_col: str = "text",
    properties: dict | None = None,
) -> str:
    """Digest ONLY the new documents and append them as new
    prefix-partitioned files; committed files are carried forward
    untouched — ingest cost ∝ new data.  Returns the new snapshot id."""
    return _append_checked(
        "digest_dedup", new_docs, table_root, spark, id_col, text_col,
        properties,
    )


def duplicate_groups_from_index(
    table_root: str, spark: SparkSession
) -> DataFrame:
    """(fp_md5, keep_id, n_dups) over every indexed document — equals
    ``ops.dedup.exact_dedup`` on the same documents (shared digest
    definition), but reads only the digest files: no text scan."""
    table, props, _ = _open(table_root, spark, "digest_dedup")
    return (
        table.scan()
        .groupBy("fp_md5")
        .agg(
            F.min(props["id_col"]).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def probe_digest_dedup_index(
    table_root: str,
    spark: SparkSession,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Ingest-time exact-dup gate: (id, keep_id) for each new document
    whose normalized text is byte-identical to a committed one (keep_id
    = the smallest such committed id).  The batch's digests are
    broadcast against the index scan, file-pruned to the batch's digest
    prefixes — zero committed text or digest is re-read beyond the
    pruned files, and the corpus side never shuffles.  Run BEFORE
    ``append_to_digest_dedup_index`` so exact duplicates can be dropped
    from (or linked in) the incoming batch."""
    _, delta, cross = _probe(
        table_root, spark, "digest_dedup", new_docs, id_col, text_col
    )
    if cross is None:
        return delta.select(
            F.col(id_col), F.col(id_col).alias("keep_id")
        ).limit(0)
    return cross.groupBy(F.col("idb").alias(id_col)).agg(
        F.min("ida").alias("keep_id")
    )


# --------------------------------------------- Hamming (phash) index

def build_hamming_dedup_index(
    sigs: DataFrame,
    table_root: str,
    spark: SparkSession,
    id_col: str = "image_id",
    sig_col: str = "phash64",
    max_distance: int = 4,
    bits: int = 64,
    bucket_mod: int = 16,
    extra_properties: dict | None = None,
) -> str:
    """Persisted Hamming-ball index over any <=64-bit fingerprint
    (image pHash, text SimHash): commit each row's pigeonhole chunk
    buckets — any pair within ``max_distance`` bits shares at least one
    exact chunk — partitioned by the bounded pruning key with per-file
    stats.  The same incremental story as the LSH/digest stores: one
    fingerprint pass over the corpus, ever; appends touch only new
    data; probes broadcast the batch against a file-pruned scan."""
    return _build(
        _hamming_index(max_distance, bits, bucket_mod), sigs, table_root,
        spark, id_col, sig_col, extra_properties,
    )


def append_to_hamming_dedup_index(
    new_sigs: DataFrame,
    table_root: str,
    spark: SparkSession,
    id_col: str = "image_id",
    sig_col: str = "phash64",
    properties: dict | None = None,
) -> str:
    """Chunk ONLY the new fingerprints (family read from the manifest,
    digest-verified) and append them as new files — ingest cost ∝ new
    data.  Returns the new snapshot id."""
    return _append_checked(
        "hamming_dedup", new_sigs, table_root, spark, id_col, sig_col,
        properties,
    )


def neardup_pairs_from_hamming_index(
    table_root: str, spark: SparkSession
) -> DataFrame:
    """(id1, id2, hamming) for every indexed pair within max_distance —
    equals ``hamming_neardup_pairs`` over the same fingerprints (the
    chunk definition is shared), with zero fingerprint recompute."""
    table, props, spec = _open(table_root, spark, "hamming_dedup", "pairs")
    return _pairs(spec, table.scan(), props["id_col"])


def probe_hamming_dedup_index(
    table_root: str,
    spark: SparkSession,
    new_sigs: DataFrame,
    id_col: str = "image_id",
    sig_col: str = "phash64",
) -> DataFrame:
    """Ingest-time near-dup gate for fingerprinted media: (id1, id2,
    hamming) pairs within max_distance where at least one side is in
    ``new_sigs`` — batch-vs-corpus via the broadcast batch buckets
    against the file-pruned index scan (no corpus shuffle), unioned
    with batch-internal pairs.  Run BEFORE appending so near-duplicate
    images can be dropped from the incoming batch."""
    return _probe_pairs(
        table_root, spark, "hamming_dedup", new_sigs, id_col, sig_col
    )


# -------------------------------------------------------- ingest gate

def _gate(batch: DataFrame, id_col: str, exact: DataFrame,
          pairs: DataFrame, append: bool, appenders: list) -> DataFrame:
    """The classify-and-append body both ingest gates share: one
    (id, disposition, keep_id) row per batch id from the exact probe's
    (id, keep_id) and the near-dup probe's pairs; with ``append`` each
    of ``appenders`` receives the checkpointed survivors."""
    batch_ids = batch.select(F.col(id_col))
    exact = exact.withColumnRenamed("keep_id", "_exact_keep")
    b1 = batch_ids.select(F.col(id_col).alias("id1"))
    b2 = batch_ids.select(F.col(id_col).alias("id2"))
    # corpus partner = the pair side that is NOT a batch id
    near = (
        pairs.join(F.broadcast(b1), "id1", "semi")
        .join(F.broadcast(b2), "id2", "anti")
        .select(F.col("id1").alias(id_col), F.col("id2").alias("_partner"))
        .unionByName(
            pairs.join(F.broadcast(b2), "id2", "semi")
            .join(F.broadcast(b1), "id1", "anti")
            .select(
                F.col("id2").alias(id_col), F.col("id1").alias("_partner")
            )
        )
        .groupBy(id_col)
        .agg(F.min("_partner").alias("_near_keep"))
    )
    decisions = (
        batch_ids.join(F.broadcast(exact), id_col, "left")
        .join(F.broadcast(near), id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("_exact_keep").isNotNull(), F.lit("exact_dup"))
            .when(F.col("_near_keep").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("disposition"),
            F.coalesce("_exact_keep", "_near_keep").alias("keep_id"),
        )
        # materialize BEFORE the appends mutate the indexes the probes
        # read — decisions must reflect the pre-ingest corpus
        .localCheckpoint(eager=True)
    )
    if append:
        survivors = batch.join(
            decisions.filter(F.col("disposition") == "new").select(id_col),
            id_col,
            "semi",
        ).localCheckpoint(eager=True)
        # a fully-duplicate batch (the very case the gate exists for)
        # must not commit empty snapshot versions per micro-batch
        if not survivors.isEmpty():
            for add in appenders:
                add(survivors)
    return decisions


def ingest_gate(
    batch: DataFrame,
    digest_root: str,
    lsh_root: str,
    spark: SparkSession,
    id_col: str = "doc_id",
    text_col: str = "text",
    append: bool = True,
) -> DataFrame:
    """The full ingest-time dedup gate in one call: classify every
    incoming document against BOTH persisted indexes and (optionally)
    append only the survivors.  Returns one row per batch document:

    - ``disposition='exact_dup'``, keep_id = the smallest committed id
      with byte-identical normalized text (digest index);
    - ``disposition='near_dup'``, keep_id = the smallest committed
      LSH near-dup candidate partner (exact wins when both hit);
    - ``disposition='new'``, keep_id = NULL — appended to both indexes
      when ``append=True``.

    Batch ids must be disjoint from committed ids (the gate's contract
    — ingests assign fresh ids).  Within-batch near-dup pairs are NOT
    dropped here (both sides are unseen; resolve them upstream with
    ``lsh_candidate_pairs`` if single-batch dedup is wanted) — the gate
    answers "is this new against the committed corpus".  Plan shape:
    both probes broadcast the (micro-)batch against file-pruned index
    scans; the committed corpus never shuffles and no committed text is
    re-read."""
    # pay the batch's upstream plan (file read + transforms) exactly
    # once — it feeds the id projection, both probes, and the
    # survivors join
    batch = batch.localCheckpoint(eager=True)
    return _gate(
        batch, id_col,
        probe_digest_dedup_index(digest_root, spark, batch, id_col, text_col),
        probe_lsh_dedup_index(lsh_root, spark, batch, id_col, text_col),
        append,
        [
            lambda s: append_to_digest_dedup_index(
                s, digest_root, spark, id_col, text_col
            ),
            lambda s: append_to_lsh_dedup_index(
                s, lsh_root, spark, id_col, text_col
            ),
        ],
    )


def media_ingest_gate(
    batch: DataFrame,
    digest_root: str,
    hamming_root: str,
    spark: SparkSession,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    sig_col: str = "phash64",
    append: bool = True,
) -> DataFrame:
    """``ingest_gate`` for binary media: classify every incoming image
    (or any fingerprintable blob) against a persisted exact-byte
    digest index (``norm='binary'``) and a persisted pHash Hamming
    index, then (optionally) append only the survivors.  One row per
    batch image:

    - ``disposition='exact_dup'``, keep_id = the smallest committed id
      with byte-identical content (digest index);
    - ``disposition='near_dup'``, keep_id = the smallest committed
      pHash partner within the index's max_distance (exact wins when
      both hit);
    - ``disposition='new'``, keep_id = NULL — appended to the digest
      index, and to the Hamming index when its pHash decoded.

    Undecodable blobs (``phash64_ok`` false) still get the exact-byte
    check — a corrupt file re-ingested twice is still a duplicate —
    but can only be exact_dup or new.  Batch ids must be disjoint from
    committed ids (ingests assign fresh ids); within-batch near-dup
    pairs are NOT dropped here (both sides are unseen — resolve them
    upstream with ``hamming_neardup_pairs`` if single-batch dedup is
    wanted).  Plan shape: the pHash decode pass runs ONCE over the
    batch (checkpointed), both probes broadcast the batch against
    file-pruned index scans, and the committed corpus never shuffles —
    no committed byte is re-read or re-hashed."""
    from pic2vec_spark.ops.multimodal import compute_phash

    # one decode+DCT pass over the batch — it feeds the id projection,
    # both probes, and the survivors join
    fp = compute_phash(
        batch, bytes_col=bytes_col, fmt_col=fmt_col, out_col=sig_col
    ).localCheckpoint(eager=True)

    def append_sigs(survivors: DataFrame) -> None:
        sigs = survivors.filter(F.col(f"{sig_col}_ok"))
        if not sigs.isEmpty():
            append_to_hamming_dedup_index(
                sigs, hamming_root, spark, id_col, sig_col
            )

    return _gate(
        fp, id_col,
        probe_digest_dedup_index(digest_root, spark, fp, id_col, bytes_col),
        probe_hamming_dedup_index(
            hamming_root, spark, fp.filter(F.col(f"{sig_col}_ok")),
            id_col, sig_col,
        ),
        append,
        [
            lambda s: append_to_digest_dedup_index(
                s, digest_root, spark, id_col, bytes_col
            ),
            append_sigs,
        ],
    )
