"""Deduplication operators for training-data pipelines.

Five strategies, orderd by cost/recall:

- exact: hash-groupBy on normalized text (one shuffle on a digest key)
- n-gram Jaccard: shingle explode -> self-join on shingle -> pair count
  (exact set similarity; candidate space bounded by shared shingles)
- MinHash: signature = min of k permutation-hashes over shingles;
  LSH banding buckets near-dups without the full pair join — the scale
  path (shuffle on (band, band-signature), never all-pairs)
- SimHash: 64-bit sign-of-weighted-token-hash fingerprint; near-dups =
  fingerprints at small Hamming distance
- embedding cosine: near-dup by vector similarity (see ops/knn.py)

Everything is deterministic: hashes derive from md5 (available in both
Spark and DuckDB, so MinHash/Jaccard/exact get full SQL oracles).
All-pairs operators take an optional ``restrict`` filter for bounded
correctness runs; the LSH path is the one you run at 10^12 scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# deterministic affine permutation constants for MinHash.
# p = 2^31 - 1 keeps (sh % p) * a < 2^62: the arithmetic stays inside
# BIGINT in BOTH Spark and the DuckDB oracle (no int128/decimal needed).
MERSENNE_P = (1 << 31) - 1


def _perm_constants(n_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs — small LCG, no RNG dependency, so the
    DuckDB oracle can embed the same constants."""
    consts = []
    x = seed
    for _ in range(n_hashes):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (x % (MERSENNE_P - 1)) | 1
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = x % MERSENNE_P
        consts.append((a, b))
    return consts


def _norm_text(text_col: str) -> Column:
    return F.lower(F.trim(F.col(text_col)))


def shingle_hash(col: Column) -> Column:
    """60-bit integer hash of a shingle via md5 prefix — portable to the
    DuckDB oracle (CAST('0x'||substr(md5(s),1,15) AS BIGINT))."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def word_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle_hash) — distinct word n-grams per document."""
    toks = F.split(F.trim(_norm_text(text_col)), r"\s+")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(F.col(id_col), F.explode(F.array_distinct(grams)).alias("shingle"))
        .withColumn("sh", shingle_hash(F.col("shingle")))
        .select(id_col, "sh")
        .distinct()
    )


def drop_hot_shingles(
    sh: DataFrame,
    id_col: str,
    max_df: int | float,
) -> DataFrame:
    """Drop shingles whose DOCUMENT FREQUENCY exceeds ``max_df`` — the
    skew mitigation for the shingle self-join in jaccard_pairs /
    containment_pairs.  Stopword shingles ("of the and", boilerplate
    headers) appear in a huge fraction of a real corpus: each such
    shingle contributes O(df^2) candidate pairs and lands them all in
    ONE shuffle partition, while carrying essentially no dedup signal.

    ``max_df`` is an absolute document count (int) or a corpus fraction
    (float in (0, 1], resolved against the distinct-doc count of ``sh``
    — one cheap agg).  Scale shape: the hot set is by construction tiny
    (only shingles with df > cap), so it broadcasts and the filter is a
    broadcast LEFT ANTI join — the big (id, sh) relation is never
    shuffled to apply the cap."""
    if isinstance(max_df, float):
        if not (0.0 < max_df <= 1.0):
            raise ValueError(
                f"fractional max_df must be in (0, 1], got {max_df}"
            )
        n_docs = sh.select(id_col).distinct().count()
        cap = max(1, int(max_df * n_docs))
    else:
        if max_df < 1:
            raise ValueError(f"absolute max_df must be >= 1, got {max_df}")
        cap = int(max_df)
    hot = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > cap)
        .select("sh")
    )
    return sh.join(F.broadcast(hot), "sh", "left_anti")


# ----------------------------------------------------------------- exact

def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group identical normalized texts: representative (min id) + count.
    One hash-shuffle on the md5 digest (bytes never shuffled twice)."""
    return (
        df.select(F.col(id_col), F.md5(_norm_text(text_col)).alias("fp_md5"))
        .groupBy("fp_md5")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


# --------------------------------------------------------------- jaccard

def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | float | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >=1 shingle.

    plan: shingles -> self-join on shingle (id1 < id2) -> |∩| counts ->
    join per-doc sizes -> J = inter / (|A| + |B| - inter) >= threshold.
    The self-join shuffles on the shingle hash; hot shingles are the
    skew risk — ``max_df`` (absolute count or corpus fraction) drops
    top-frequency shingles before the self-join via a broadcast
    anti-join (see drop_hot_shingles): stopword shingles carry no dedup
    signal but each contributes O(df^2) pairs to one shuffle partition.
    With ``max_df`` set, Jaccard is computed over the REDUCED shingle
    space (sizes and intersections both exclude dropped shingles) — the
    standard df-capped similarity.  ``max_df=None`` (default) keeps the
    exact full-space semantics."""
    # lazy localCheckpoint: the (id, shingle) relation feeds FOUR
    # branches (self-join a/b + both size joins) whose aliasing defeats
    # Catalyst's ReuseExchange (verified: the explode+distinct subtree
    # planned 4x) — checkpointing computes the distinct once for all
    # consumers.  Tradeoff, stated: blocks live MEMORY_AND_DISK on
    # executors (non-reliable storage, lineage truncated), so losing an
    # executor mid-job fails the JOB (Spark retries it) instead of
    # recomputing the partition — for a batch dedup pass that rare
    # retry costs far less than three extra full shuffles of the widest
    # relation; blocks are GC'd with the DataFrame (ContextCleaner)
    sh = word_shingles(df, id_col, text_col, n)
    if max_df is not None:
        sh = drop_hot_shingles(sh, id_col, max_df)
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col(id_col).alias("id1"), "sh")
    b = sh.select(F.col(id_col).alias("id2"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed(id_col, "id1").withColumnRenamed("sz", "sz1"), "id1")
        .join(sizes.withColumnRenamed(id_col, "id2").withColumnRenamed("sz", "sz2"), "id2")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz1") + F.col("sz2") - F.col("inter")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "inter", "jaccard")
    )
    return out


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | float | None = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT: ``C(A->B) = |A ∩ B| / |A|`` — the
    asymmetric cousin of Jaccard that catches SUBSET duplication
    (a document quoted or wholly included inside a larger one), which
    Jaccard misses whenever the container is much bigger than the
    contained (J = |∩|/|∪| shrinks with the union; C does not).
    Broder's containment measure; the dedup criterion for quote-heavy
    corpora and boilerplate-wrapped reposts.

    Output: DIRECTED pairs (id_small, id_big, inter, containment) with
    containment(small -> big) >= threshold; id_small is the contained
    (smaller shingle set; ties by id).  Same plan shape, skew note, and
    ``max_df`` hot-shingle mitigation as jaccard_pairs — shingle
    self-join, one shuffle on the shingle hash, sizes broadcast back."""
    sh = word_shingles(df, id_col, text_col, n)
    if max_df is not None:
        sh = drop_hot_shingles(sh, id_col, max_df)
    # same 4-branch reuse rationale as jaccard_pairs (lazy checkpoint)
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col(id_col).alias("id1"), "sh")
    b = sh.select(F.col(id_col).alias("id2"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    paired = (
        inter.join(
            sizes.withColumnRenamed(id_col, "id1").withColumnRenamed("sz", "sz1"),
            "id1",
        )
        .join(
            sizes.withColumnRenamed(id_col, "id2").withColumnRenamed("sz", "sz2"),
            "id2",
        )
    )
    small_first = F.col("sz1") < F.col("sz2")
    tie = (F.col("sz1") == F.col("sz2")) & (F.col("id1") < F.col("id2"))
    out = paired.select(
        F.when(small_first | tie, F.col("id1")).otherwise(F.col("id2")).alias(
            "id_small"
        ),
        F.when(small_first | tie, F.col("id2")).otherwise(F.col("id1")).alias(
            "id_big"
        ),
        "inter",
        F.round(
            F.col("inter")
            / F.when(small_first | tie, F.col("sz1")).otherwise(F.col("sz2")),
            4,
        ).alias("containment"),
    )
    return out.filter(F.col("containment") >= threshold)


# ----------------------------------------------------- substring dedup

def duplicate_substring_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    w: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Exact repeated-SUBSTRING detection (the Lee et al. 2021
    "Deduplicating Training Data Makes Language Models Better" class):
    find every maximal token span whose ``w``-token windows repeat
    (``min_count`` total occurrences) anywhere in the corpus — within
    the same document or across documents.  Whole-doc exact dedup and
    n-gram/MinHash/SimHash near-dup all miss this case: a unique page
    wrapping a boilerplate paragraph duplicated across millions of
    pages, the span an LLM training pipeline strips rather than
    dropping the document.

    Plan (all built-in, one shuffle on the window digest + one on the
    doc id):

    1. tokenize -> positioned ``w``-token windows -> 60-bit md5 window
       digest (``shingle_hash``; same portable hash as the Jaccard
       shingles, so the DuckDB oracle replicates it exactly)
    2. count occurrences per digest with a WINDOW over the digest
       partition (NOT an aggregate + self-semi-join: that shape scans
       and re-tokenizes the corpus twice and shuffles it twice; the
       window tokenizes once and pays one digest-hash exchange) and
       keep positions whose digest count >= min_count
    3. per doc, merge overlapping/adjacent duplicated windows into
       MAXIMAL spans with one window pass: island starts where the gap
       to the previous duplicated position exceeds ``w`` (windows
       [p1, p1+w-1], [p2, p2+w-1] overlap or touch iff p2 - p1 <= w)

    Output: (id, span_start, span_end, span_len, n_dup_windows) — token
    offsets, 0-based inclusive.  Scale shape: windows are a narrow
    per-row explode (|doc| rows each), the digest agg is a map-side-
    combinable count, and span merging shuffles only the DUPLICATED
    positions on the doc id — never all-pairs, never full text."""
    if w < 1:
        raise ValueError(f"window w must be >= 1, got {w}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    toks = F.split(F.trim(_norm_text(text_col)), r"\s+")
    wins = F.when(
        F.size(toks) >= w,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - w),
            lambda i: F.struct(
                i.cast("int").alias("pos"),
                shingle_hash(
                    F.array_join(F.slice(toks, i + 1, w), " ")
                ).alias("wh"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,wh:bigint>>"))
    occ = df.select(
        F.col(id_col), F.explode(wins).alias("g")
    ).select(id_col, F.col("g.pos").alias("pos"), F.col("g.wh").alias("wh"))
    dup_occ = (
        occ.withColumn(
            "n_occ", F.count(F.lit(1)).over(Window.partitionBy("wh"))
        )
        .filter(F.col("n_occ") >= min_count)
        .drop("n_occ")
    )
    win = Window.partitionBy(id_col).orderBy("pos")
    spans = (
        dup_occ.withColumn("gap", F.col("pos") - F.lag("pos").over(win))
        .withColumn(
            "new_island",
            F.when(
                F.col("gap").isNull() | (F.col("gap") > w), 1
            ).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(
                win.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy(id_col, "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(w - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_dup_windows"),
        )
        .withColumn(
            "span_len", F.col("span_end") - F.col("span_start") + 1
        )
        .drop("island")
    )
    return spans


def duplicate_token_fraction(
    df: DataFrame,
    id_col: str,
    text_col: str,
    w: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Per-document duplicated-token fraction — the filter metric a Lee
    et al.-style pipeline thresholds on ('drop/trim docs that are >X%
    corpus-duplicated substrings'): tokens covered by maximal duplicated
    spans (``duplicate_substring_spans``) over the doc's total tokens.
    Islands are disjoint by construction, so span lengths sum exactly.
    Output: (id, n_tokens, dup_tokens, dup_frac); docs with no
    duplicated span report 0/0.0."""
    spans = duplicate_substring_spans(df, id_col, text_col, w, min_count)
    per_doc = spans.groupBy(id_col).agg(
        F.sum("span_len").alias("dup_tokens")
    )
    toks = df.select(
        F.col(id_col),
        F.size(F.split(F.trim(_norm_text(text_col)), r"\s+"))
        .cast("bigint")
        .alias("n_tokens"),
    )
    return (
        toks.join(per_doc, id_col, "left")
        .withColumn("dup_tokens", F.coalesce("dup_tokens", F.lit(0)))
        .withColumn(
            "dup_frac", F.round(F.col("dup_tokens") / F.col("n_tokens"), 6)
        )
    )


# --------------------------------------------------------------- minhash

def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, h0..h{k-1}) MinHash signature columns.

    h_i(doc) = min over shingles of (a_i * H(shingle) + b_i) mod p —
    computed as one grouped aggregation over the exploded shingle table
    (single shuffle on id), k mins evaluated column-wise JVM-side."""
    sh = word_shingles(df, id_col, text_col, shingle_n)
    aggs = []
    for i, (ai, bi) in enumerate(_perm_constants(n_hashes)):
        h = (F.col("sh") % MERSENNE_P * ai + bi) % MERSENNE_P
        aggs.append(F.min(h).alias(f"h{i}"))
    return sh.groupBy(id_col).agg(*aggs)


def lsh_band_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band, band_sig) LSH bucket entries: the MinHash signature
    split into ``bands`` bands of ``n_hashes/bands`` rows, each band
    md5-digested.  Docs sharing any (band, band_sig) are near-dup
    candidates.  Shared by ``lsh_candidate_pairs`` (in-memory self-join)
    and ``ops.dedup_store`` (persisted index: the bucket table IS the
    index, so build/append/probe are all derived from this one
    definition and cannot drift from the batch path)."""
    if n_hashes % bands:
        raise ValueError(
            f"n_hashes ({n_hashes}) must divide evenly into bands ({bands}) "
            "— a remainder would silently waste the trailing hash functions"
        )
    rows_per_band = n_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, n_hashes, shingle_n)
    # one pass computing every band's signature, then explode — a
    # per-band UNION would re-run the whole minhash subtree (shingle
    # explode + groupBy) once per band
    entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "_",
                        *[
                            F.col(f"h{b * rows_per_band + r}").cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("band_sig"),
            )
            for b in range(bands)
        ]
    )
    return sig.select(F.col(id_col), F.explode(entries).alias("__bb")).select(
        id_col,
        F.col("__bb.band").alias("band"),
        F.col("__bb.band_sig").alias("band_sig"),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash-LSH near-dup candidates: signature split into ``bands``
    bands of ``n_hashes/bands`` rows; docs sharing any full band collide.

    Scale path: never materializes all pairs — shuffle keys are
    (band_idx, band_signature) buckets, then pairs only within buckets.
    """
    from pic2vec_spark.ops.dedup_store import _lsh_index, _pairs

    spec = _lsh_index(n_hashes, bands, shingle_n, 1)
    return _pairs(spec, spec.rows(df, id_col, text_col), id_col)


# --------------------------------------------------------------- simhash

def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 60
) -> DataFrame:
    """SimHash fingerprint (up to 60 bits — the token hash itself is
    60-bit, see ``shingle_hash``): sum ±1 per token-hash bit, sign ->
    fingerprint bit.

    Expressed as explode(tokens) -> per-(id, bit) signed sum -> bit
    assembly (two shuffles on id; no UDF).  Near-dup = small Hamming
    distance between fingerprints."""
    if bits > 60:
        raise ValueError(
            f"bits={bits} > 60: the underlying token hash is 60-bit, so "
            "higher bit positions would never vary (silently weaker "
            "fingerprints) — use bits <= 60"
        )
    toks = F.split(F.trim(_norm_text(text_col)), r"\s+")
    tok = df.select(F.col(id_col), F.explode(toks).alias("tok"))
    h = shingle_hash(F.col("tok"))  # 60-bit
    bit_cols = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(min(bits, 60))
    ]
    sums = tok.groupBy(id_col).agg(*bit_cols)
    fp = F.lit(0).cast("bigint")
    for i in range(min(bits, 60)):
        fp = fp + F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("bigint")).otherwise(0)
    return sums.select(F.col(id_col), fp.alias("simhash"))


def hamming_neardup_pairs(
    sim: DataFrame,
    id_col: str,
    max_distance: int = 3,
    sig_col: str = "simhash",
    bits: int = 60,
) -> DataFrame:
    """Pairs of ``sig_col`` fingerprints within ``max_distance`` bits
    (works for any <=64-bit signature: simhash, image phash, ...).

    Banding trick for scale: split the ``bits``-bit fingerprint into
    max_distance+1 chunks — any pair within distance d shares at least
    one exact chunk (pigeonhole), so candidates come from chunk-equality
    buckets, then exact popcount filters."""
    from pic2vec_spark.ops.dedup_store import _hamming_index, _pairs

    # the persisted Hamming index's chunk split and verify step, minus
    # the file layout (bucket_mod only shapes the unused pruning key)
    spec = _hamming_index(max_distance, bits, 1)
    return _pairs(spec, spec.rows(sim, id_col, sig_col), id_col)


def neardup_clusters(
    pairs: DataFrame,
    left: str = "id1",
    right: str = "id2",
    max_iter: int = 25,
) -> DataFrame:
    """Near-dup pairs → connected components: ``(doc_id, cluster_id)``
    where cluster_id = the component's minimum doc id.  This is the step
    that makes pair-level dedup ACTIONABLE at scale — pairs chain
    (A~B, B~C ⇒ {A,B,C} is one duplicate group), so survivors must be
    picked per component, not per pair.

    Iterative min-label propagation over the symmetrized edge list:
    each round every vertex takes min(own label, neighbours' labels);
    converges in <= graph-diameter rounds (near-dup components are
    hub-shaped chains of duplicates — diameter is small in practice).
    Per round: one join + one groupBy shuffle, both keyed on vertex id,
    plus a cheap convergence probe.  The edge list and per-round labels
    are localCheckpoint-ed: iteration re-reads materialized blocks
    instead of re-running the upstream (possibly CNN/LSH) pair plan,
    and the lineage chain stays O(1) deep.  For adversarially long path
    graphs at 10^12 scale, swap the propagation loop for alternating
    large-star/small-star (O(log d) rounds, same per-round shape).

    Only vertices that appear in ``pairs`` are labeled; unpaired docs
    are their own implicit singleton clusters (see dedup survivor
    queries, which anti-join instead of materializing singletons).
    """
    edges = (
        pairs.select(F.col(left).alias("src"), F.col(right).alias("dst"))
        .unionByName(
            pairs.select(F.col(right).alias("src"), F.col(left).alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("v"))
        .distinct()
        .withColumn("label", F.col("v"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        msgs = edges.join(
            labels.withColumnRenamed("v", "dst"), "dst"
        ).select(F.col("src").alias("v"), "label")
        new_labels = (
            labels.unionByName(msgs)
            .groupBy("v")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.join(
                labels.withColumnRenamed("label", "__old"), "v"
            )
            .filter(F.col("label") != F.col("__old"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"neardup_clusters did not converge in {max_iter} rounds — "
            "pathological long-path component; raise max_iter or use a "
            "star-contraction variant"
        )
    return labels.select(F.col("v").alias("doc_id"), F.col("label").alias("cluster_id"))


def cluster_coherent_shards(
    df: DataFrame,
    key_col: str,
    clusters: DataFrame,
    cluster_col: str = "cluster_id",
    n_shards: int = 8,
    salt: str = "shard",
) -> DataFrame:
    """Near-dup-aware sharding: every document lands in the shard of
    its CLUSTER representative (singletons: of its own key), so a
    whole near-dup cluster always lives in ONE shard.  That is the
    invariant that lets the expensive global steps run shard-locally
    at 100 TB — per-shard survivor selection, per-shard pair
    re-ranking, per-shard contrastive batch construction all equal
    their global counterparts because no cluster ever straddles a
    shard boundary (pinned by the pytest shard-local == global
    survivor equality).

    Shard id is the deterministic md5 bucket of the cluster label
    (``sampling._hash_bucket`` contract — portable to the SQL oracle),
    RNG-free and stable under append: new members of an existing
    cluster join its shard.  Plan: one key-equi join against the
    assignment frame (AQE picks broadcast when the cluster table is
    small) + a narrow hash projection — no extra shuffle beyond the
    join."""
    from pic2vec_spark.ops.sampling import _hash_bucket

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    a = clusters.select(
        F.col(key_col).alias("__k"), F.col(cluster_col).alias("__c")
    )
    rep = F.coalesce(F.col("__c"), F.col(key_col))
    return (
        df.join(a, df[key_col] == a["__k"], "left")
        .withColumn("shard_id", _hash_bucket(rep, salt, n_shards))
        .drop("__k", "__c")
    )


def contrastive_triplets(
    pairs: DataFrame,
    corpus: DataFrame,
    key_col: str,
    clusters: DataFrame | None = None,
    cluster_col: str = "cluster_id",
    n_neg: int = 4,
    pool_size: int = 256,
    salt: str = "neg",
) -> DataFrame:
    """Deterministic (anchor, positive, negative) triplet mining for
    contrastive / metric-learning training data: every near-dup pair
    contributes an anchor+positive, and each anchor draws ``n_neg``
    negatives from a bounded md5-ranked corpus pool — slot ``j`` picks
    pool index ``md5(anchor‖j) % pool_size``, RNG-free and stable
    under retries.  A drawn negative is DROPPED (not refilled) when it
    is the anchor or positive itself or — when ``clusters`` (the
    near-dup CC assignment) is given — shares the anchor's cluster,
    the false-negative poison every contrastive pipeline has to
    screen.

    Plan shape: the pool is a bounded TakeOrdered (the
    sample_vectors contract — at 10^12 rows swap in a uniform sample)
    broadcast into one narrow slot expansion (pairs × n_neg rows), a
    broadcast pool join, and two plain equi-joins against the cluster
    table for the same-cluster screen (the table is corpus-sized, so
    the planner — not a hint — picks broadcast vs shuffle)."""
    if n_neg < 1:
        raise ValueError(f"n_neg must be >= 1, got {n_neg}")
    if pool_size < n_neg + 2:
        raise ValueError(
            f"pool_size must be >= n_neg + 2, got {pool_size}"
        )
    h = F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    pool = (
        corpus.select(F.col(key_col).alias("__cand"))
        .orderBy(h.asc(), F.col(key_col).asc())
        .limit(pool_size)
        .withColumn(
            "__slot",
            F.row_number().over(
                Window.orderBy(
                    F.md5(
                        F.concat(F.lit(salt), F.col("__cand").cast("string"))
                    ).asc(),
                    F.col("__cand").asc(),
                )
            )
            - 1,
        )
    )
    t = pairs.select(
        F.col("id1").alias("anchor"), F.col("id2").alias("positive")
    ).select(
        "*",
        F.explode(F.sequence(F.lit(0), F.lit(n_neg - 1))).alias("__j"),
    )
    pick = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(salt),
                        F.col("anchor").cast("string"),
                        F.lit("\x1f"),
                        F.col("__j").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % pool_size
    )
    drawn = t.withColumn("__slot", pick).join(
        F.broadcast(pool), "__slot"
    )
    out = drawn.filter(
        (F.col("__cand").cast("string") != F.col("anchor").cast("string"))
        & (F.col("__cand").cast("string") != F.col("positive").cast("string"))
    )
    if clusters is not None:
        a = clusters.select(
            F.col(key_col).cast("string").alias("__ak"),
            F.col(cluster_col).alias("__ac"),
        )
        c = clusters.select(
            F.col(key_col).cast("string").alias("__ck"),
            F.col(cluster_col).alias("__cc"),
        )
        out = (
            out.join(a, F.col("anchor").cast("string") == F.col("__ak"), "left")
            .join(c, F.col("__cand").cast("string") == F.col("__ck"), "left")
            .filter(
                F.col("__ac").isNull()
                | F.col("__cc").isNull()
                | (F.col("__ac") != F.col("__cc"))
            )
            .drop("__ak", "__ac", "__ck", "__cc")
        )
    return out.select(
        "anchor",
        "positive",
        F.col("__cand").alias("negative"),
        F.col("__j").alias("neg_slot"),
    )
