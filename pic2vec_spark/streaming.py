"""Structured Streaming surface: continuous image ingest + streaming
windowed aggregates.

The reference is strictly batch (SURVEY.md: no streams), so this layer is
the engine's forward-looking ingest path rather than a parity item:

- ``stream_featurize``: a file-source stream of image-table parquet
  drops, each micro-batch routed through ``incremental_featurize`` via
  foreachBatch — only NEW content digests hit the CNN, every micro-batch
  commits an append snapshot (lineage included), and Spark's streaming
  checkpoint makes the source exactly-once while the snapshot layer makes
  the sink idempotent (digest anti-join absorbs replays).
- ``streaming_session_counts``: watermarked ``session_window`` gap
  sessionization — the streaming analogue of ops/windows.sessionize.

Both run with ``Trigger.AvailableNow`` in tests (process the backlog,
then stop) — the same code runs continuously on a cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pic2vec_spark.featurize import incremental_featurize
from pic2vec_spark.plan import FeaturizerPlan
from pic2vec_spark.snapshots import SnapshotTable
from pic2vec_spark.synth import IMAGES_SCHEMA


def _start_stream(
    spark: SparkSession,
    schema,
    input_dir: str,
    checkpoint_dir: str,
    files_per_trigger: int,
    sink,
    available_now: bool,
):
    """Start a parquet file-source stream whose micro-batches go to the
    ``sink(batch_df, batch_id)`` foreachBatch body; ``available_now``
    processes the backlog, then stops.  Returns the started query."""
    writer = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(input_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _stamp_state(
    batch_df: DataFrame,
    batch_id: int,
    table: SnapshotTable,
    stamp_key: str,
    owner: str,
    target: str = "gate",
    fresh: str = "fresh roots",
):
    """The batch-stamp check every stamped sink shares (index sinks,
    media and repost gates): foreachBatch replays a batch after
    failure, so the sink's table manifest carries ``stamp_key``.
    Returns None when there is nothing to do — an empty batch, or a
    batch id equal to the stamp (the replay foreachBatch can actually
    produce: the most recent batch, failed mid-commit last run) — and
    otherwise ``(manifest or None, properties)``.  A batch id behind the
    stamp raises: that is a stream restarted with a FRESH checkpoint
    dir against an existing table (ids restart at 0), and silently
    treating every batch as a replay would stop ingest forever."""
    if batch_df.isEmpty():
        return None
    man = table.manifest()
    props = (man.get("properties") or {}) if man is not None else {}
    last = props.get(stamp_key)
    if last is not None and int(batch_id) == int(last):
        return None
    if last is not None and int(batch_id) < int(last):
        raise ValueError(
            f"batch id {int(batch_id)} is behind the {owner}'s "
            f"{stamp_key} {int(last)} — this stream's checkpoint "
            f"does not belong to this {target}; reuse the original "
            f"checkpoint dir, or point the stream at {fresh}"
        )
    return man, props


def _commit_stamped(table: SnapshotTable, man, props: dict, name: str,
                    batch_id: int, rows: DataFrame) -> None:
    """Commit a gate's output rows with the ``gate_last_batch`` stamp:
    the first batch writes the named table, later ones append with the
    parent's properties carried."""
    stamp = {"gate_last_batch": int(batch_id)}
    if man is None:
        table.write(rows, properties={"table": name, **stamp})
    else:
        table.append(rows, properties={**props, **stamp})


def stream_featurize(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    table_root: str,
    plan: FeaturizerPlan | None = None,
    available_now: bool = True,
):
    """Stream image-table parquet files from ``input_dir`` into a feature
    SnapshotTable at ``table_root``.  Returns the (started) query."""
    plan = plan or FeaturizerPlan.build()

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        table = SnapshotTable(table_root, batch_df.sparkSession)
        incremental_featurize(batch_df, table, plan)

    return _start_stream(
        spark, IMAGES_SCHEMA, input_dir, checkpoint_dir, 8, sink,
        available_now,
    )


def streaming_asof(
    timeline: DataFrame,
    value_col: str = "value",
    on: str = "entity_id",
    ts: str = "ts",
) -> DataFrame:
    """Streaming point-in-time (as-of) join as a custom stateful operator
    (``applyInPandasWithState`` — the prescribed tool when built-in
    streaming operators can't express the semantics).

    Input stream rows: (entity_id, ts, row_id, kind ∈ feature|query,
    value).  Per-entity state holds the latest feature (ts, value);
    each micro-batch is processed VECTORIZED (pd.merge_asof against the
    batch's features plus the carried state — no per-row Python), query
    rows are emitted with the as-of value, and the state advances.

    Correctness contract: zero temporal leakage always holds (a query
    only ever sees features with ts <= its own).  Exactness across
    micro-batches requires event-time-ordered arrival between batches
    (within a batch, order is irrelevant); out-of-order deliveries
    spanning batches would need watermark buffering — the batch engine
    (ops/asof.py) is the replay/repair path, as usual for lambda-style
    pipelines."""
    import pandas as pd

    def fn(key, pdfs, state):
        if state.exists:
            st_ts, st_val = state.get
        else:
            st_ts, st_val = None, None
        chunks = [pd.concat(list(pdfs), ignore_index=True)]
        batch = chunks[0].sort_values([ts, "row_id"]).reset_index(drop=True)
        feats = batch[batch["kind"] == "feature"][[ts, value_col]]
        if st_ts is not None:
            carried = pd.DataFrame(
                {ts: [pd.Timestamp(st_ts, unit="us")], value_col: [st_val]}
            )
            feats = pd.concat([carried, feats], ignore_index=True)
        feats = feats.sort_values(ts).reset_index(drop=True)
        queries = batch[batch["kind"] == "query"][[ts, "row_id"]]
        if len(queries):
            joined = pd.merge_asof(
                queries.sort_values(ts),
                feats.rename(columns={ts: "__fts"}),
                left_on=ts,
                right_on="__fts",
                direction="backward",
            )
            out = pd.DataFrame(
                {
                    on: key[0],
                    ts: joined[ts],
                    "row_id": joined["row_id"],
                    "value_asof": joined[value_col],
                    "ts_asof": joined["__fts"],
                }
            )
            yield out
        if len(feats):
            last = feats.iloc[-1]
            state.update((int(pd.Timestamp(last[ts]).value // 1000), float(last[value_col])))

    out_schema = (
        f"{on} bigint, {ts} timestamp, row_id bigint, "
        "value_asof double, ts_asof timestamp"
    )
    state_schema = "ts bigint, value double"
    return (
        timeline.withColumn(ts, F.col(ts).cast("timestamp"))
        .groupBy(on)
        .applyInPandasWithState(
            fn, out_schema, state_schema, outputMode="append",
            timeoutConf="NoTimeout",
        )
    )


def streaming_session_counts(
    events: DataFrame,
    gap_s: int = 1800,
    watermark: str = "2 hours",
    on: str = "entity_id",
    ts: str = "ts",
) -> DataFrame:
    """Watermarked gap-sessionization over a streaming events frame:
    one row per (entity, session window) with event count — late rows
    beyond the watermark are dropped, state is bounded."""
    return (
        events.withColumn(ts, F.col(ts).cast("timestamp"))
        .withWatermark(ts, watermark)
        .groupBy(F.col(on), F.session_window(F.col(ts), f"{gap_s} seconds"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(on),
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            F.unix_micros(F.col("session_window.end")).alias("session_end_us"),
            "n_events",
        )
    )


def streaming_dedup(
    images: DataFrame,
    watermark: str = "1 hour",
    ts: str = "ingest_ts",
) -> DataFrame:
    """Streaming exact dedup on content digest with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps one row per (bytes, fmt)
    digest and expires digest state once the watermark passes — the
    in-flight dedup for continuous ingest (producer retries, overlapping
    uploads).  State is bounded by arrival rate x watermark horizon, so
    it scales with throughput, never with corpus size; GLOBAL
    all-history dedup is the durable snapshot anti-join in
    ``stream_featurize`` (incremental_featurize), as usual layered:
    cheap in-stream dedup first, digest anti-join at the sink.

    Input must carry an event-time column ``ts``; the digest column is
    exposed in the output for downstream lineage."""
    from pic2vec_spark.featurize import content_digest

    return (
        images.withColumn(ts, F.col(ts).cast("timestamp"))
        .withWatermark(ts, watermark)
        .withColumn("__digest", content_digest())
        .dropDuplicatesWithinWatermark(["__digest"])
    )


def streaming_rollup(
    events: DataFrame,
    bucket_s: int = 3600,
    watermark: str = "2 hours",
    on: str = "user_id",
    ts: str = "ts",
    value_col: str = "value",
    lo: float = 0.0,
    hi: float = 100.0,
    n_bins: int = 50,
) -> DataFrame:
    """Streaming producer of the continuous-aggregate cascade: a
    watermarked tumbling-window aggregate emitting the SAME re-aggregable
    partials as the batch ``ops.rollup.histogram_rollup`` — (entity,
    bucket_ts, n_events, hist) with identical bin arithmetic — so the
    batch ``histogram_reaggregate`` / ``histogram_quantile`` read path
    consumes hourly partials regardless of whether they were built by a
    backfill job or by this stream.  That is the 100 TB continuous-
    aggregate shape: the raw stream is touched once, per-group state is
    n_bins longs, and late rows beyond the watermark are dropped
    (bounded state)."""
    # bin expression + aggregate list are SHARED with the batch rollup
    # (ops/rollup.hist_bin_col / hist_agg_exprs): one definition, so the
    # stream == batch partial-parity contract cannot drift; the test in
    # tests/test_streaming.py additionally pins bit-equality
    from pic2vec_spark.ops.rollup import hist_agg_exprs, hist_bin_col

    return (
        events.withColumn(ts, F.col(ts).cast("timestamp"))
        .withWatermark(ts, watermark)
        .withColumn("__bin", hist_bin_col(value_col, lo, hi, n_bins))
        .groupBy(F.col(on), F.window(F.col(ts), f"{bucket_s} seconds"))
        .agg(*hist_agg_exprs(n_bins))
        .select(
            F.col(on),
            F.col("window.start").alias("bucket_ts"),
            "n_events",
            "hist",
        )
    )


def stream_merge(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    table_root: str,
    key: str,
    schema,
    order_col: str | None = None,
    available_now: bool = True,
):
    """Streaming CDC apply: a file-source stream of keyed correction
    rows, each micro-batch upserted into the SnapshotTable at
    ``table_root`` via ``merge`` (copy-on-write at partition
    granularity).  ``order_col`` resolves conflicts BOTH within a
    micro-batch (row_number desc picks the winner per key) and ACROSS
    batches: each batch's survivors are checked against the current
    table and rows whose ``order_col`` is lower than the stored row's
    are dropped — a delayed/stale correction arriving in a later batch
    (file-listing inversions, backfill drops, maxFilesPerTrigger
    splits) cannot overwrite a newer one.  Without ``order_col`` the
    apply is last-batch-wins by construction.  The streaming checkpoint
    makes the source exactly-once; a crash between batches leaves the
    table on the last committed snapshot and replayed batches re-merge
    idempotently (>= keeps same-version replays value-stable).
    Returns the started query."""
    from pyspark.sql import Window

    table = SnapshotTable(table_root, spark)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # NULL keys have no merge identity (and would feed None bounds
        # into the stats pruning) — rejected up front, like merge()'s
        # own dup-key guard rejects ambiguous updates
        updates = batch_df.filter(F.col(key).isNotNull())
        if order_col is not None:
            w = Window.partitionBy(key).orderBy(F.col(order_col).desc())
            # materialize ONCE: the deduped batch otherwise re-executes
            # for the min/max collect, the isEmpty probe and the merge
            # checkpoint (3x the batch work per trigger)
            updates = (
                updates.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
                .localCheckpoint(eager=True)
            )
            lo, hi = updates.agg(F.min(key), F.max(key)).collect()[0]
            if lo is None:
                return  # batch had no non-null keys
            # cross-batch staleness gate: the table scan is pruned to
            # the batch's key range via the manifest stats (min_stats),
            # so at scale this reads the touched partitions, not 100 TB
            cur = table.scan(min_stats={key: (lo, hi)}).select(
                F.col(key).alias("__cur_k"),
                F.col(order_col).alias("__cur_ord"),
            )
            updates = (
                updates.join(
                    cur, updates[key] == cur["__cur_k"], "left"
                )
                .filter(
                    F.col("__cur_ord").isNull()
                    | (F.col(order_col) >= F.col("__cur_ord"))
                )
                .drop("__cur_k", "__cur_ord")
                .localCheckpoint(eager=True)
            )
            if updates.isEmpty():
                return
        else:
            updates = updates.dropDuplicates([key])
            if updates.isEmpty():
                return
        table.merge(updates, key)

    return _start_stream(
        spark, schema, input_dir, checkpoint_dir, 8, sink, available_now
    )


def stream_agg_view(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    table_root: str,
    keys: list[str],
    value_col: str,
    schema,
    files_per_trigger: int = 8,
    available_now: bool = True,
):
    """Streaming incremental view maintenance: a file-source stream of
    fact rows keeps a keyed aggregate view (ops/ivm decomposable state:
    count / exact decimal sum / min / max) continuously up to date in
    the SnapshotTable at ``table_root`` — the continuous form of the
    batch ``ivm_user_totals`` driver query, and the IVM analogue of
    ``streaming_rollup``'s time-bucketed cascade.

    Per micro-batch: the delta's aggregate state is computed ALONE
    (``agg_state``), the view rows for the touched keys only are read
    back (manifest stats pruning + key semi-join — never a view scan),
    merged key-wise (``merge_agg_states``, associative/commutative) and
    upserted copy-on-write (``SnapshotTable.merge``).  Base facts are
    never rescanned; per-trigger cost is O(delta + touched partitions).

    Exactly-once: state ADDITION is not naturally idempotent (a replayed
    delta would double-count, unlike ``stream_merge``'s last-writer-wins
    upsert), so the view's manifest records the last applied batch id
    (``ivm_last_batch``) and the sink skips any batch id <= it — the
    standard foreachBatch transactional pattern for the crash window
    between the table commit and the streaming checkpoint commit.  The
    guard assumes one checkpoint lineage per view (batch ids restart at
    0 under a NEW checkpoint, which this treats as replay).

    Merge identity for composite keys is ``__k`` = chr(31)-joined key
    strings; rows with a NULL key component are dropped up front (no
    merge identity — same rejection as ``stream_merge``).
    Returns the started query."""
    from pic2vec_spark.ops.ivm import agg_state, merge_agg_states

    table = SnapshotTable(table_root, spark)

    def to_keyed(state: DataFrame) -> DataFrame:
        return state.withColumn(
            "__k",
            F.concat_ws(
                "\x1f", *[F.col(k).cast("string") for k in keys]
            ),
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        clean = batch_df
        for k in keys:
            clean = clean.filter(F.col(k).isNotNull())
        delta = to_keyed(agg_state(clean, keys, value_col)).localCheckpoint(
            eager=True
        )
        if delta.isEmpty():
            return
        man = table.manifest()
        if man is None:
            table.write(
                delta,
                stats_cols=["__k"],
                properties={"ivm_last_batch": int(batch_id)},
            )
            return
        props = dict(man.get("properties") or {})
        last = props.get("ivm_last_batch")
        if last is not None and int(batch_id) <= int(last):
            return  # replayed batch: already folded into the view
        lo, hi = delta.agg(F.min("__k"), F.max("__k")).collect()[0]
        cur = table.scan(min_stats={"__k": (lo, hi)}).join(
            delta.select("__k"), "__k", "left_semi"
        )
        merged = to_keyed(
            merge_agg_states(
                [cur.drop("__k"), delta.drop("__k")], keys
            )
        )
        table.merge(
            merged, "__k", properties={**props, "ivm_last_batch": int(batch_id)}
        )

    return _start_stream(
        spark, schema, input_dir, checkpoint_dir, files_per_trigger, sink,
        available_now,
    )


def streaming_drift(
    events: DataFrame,
    ref_counts: list[int],
    bucket_s: int = 3600,
    watermark: str = "2 hours",
    ts: str = "ts",
    value_col: str = "value",
    lo: float = 0.0,
    hi: float = 100.0,
    smooth: float = 0.5,
) -> DataFrame:
    """Streaming drift monitor: per tumbling window, the PSI of the
    window's value distribution against a fixed reference histogram
    (e.g. the training snapshot's bin counts) — the alerting half of
    ops/drift, fed by the same shared bin arithmetic as the batch
    rollup (ops/rollup.hist_bin_col), so a window's PSI here equals the
    batch PSI over the same rows (pinned in tests/test_streaming.py).

    Per-window state is len(ref_counts) longs (bounded by the watermark,
    not the stream); the PSI itself is a narrow projection over the
    already-aggregated window rows (ops/drift.psi_from_hist — reference
    proportions fold to literals).  Output: (window_ts, n_events, psi).
    """
    from pic2vec_spark.ops.drift import (
        chi2_from_hist,
        jsd_from_hist,
        psi_from_hist,
    )
    from pic2vec_spark.ops.rollup import hist_agg_exprs, hist_bin_col

    n_bins = len(ref_counts)
    return (
        events.withColumn(ts, F.col(ts).cast("timestamp"))
        .withWatermark(ts, watermark)
        .withColumn("__bin", hist_bin_col(value_col, lo, hi, n_bins))
        .groupBy(F.window(F.col(ts), f"{bucket_s} seconds"))
        .agg(*hist_agg_exprs(n_bins))
        .select(
            F.col("window.start").alias("window_ts"),
            "n_events",
            psi_from_hist(F.col("hist"), ref_counts, smooth).alias("psi"),
            chi2_from_hist(F.col("hist"), ref_counts).alias("chi2"),
            jsd_from_hist(F.col("hist"), ref_counts, smooth).alias("jsd"),
        )
    )


def stream_quality(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    table_root: str,
    constraints,
    schema,
    files_per_trigger: int = 8,
    available_now: bool = True,
):
    """Streaming data-quality monitor: every micro-batch of fact rows is
    evaluated against an ops/quality constraint suite (ONE aggregation
    pass over the delta) and the (check_name, n_rows, n_violations,
    pass) report rows are appended — stamped with the batch id — to an
    audit SnapshotTable.  This is the gate a continuously-ingesting
    feature store runs so a poisoned drop is caught at the batch that
    introduced it, with the audit trail stored as data (queryable,
    snapshot-versioned, lineage'd) rather than logs.

    Exactly-once: appends are not idempotent, so the audit table's
    manifest records the last audited batch id (``dq_last_batch``) and
    replayed batches are skipped — the same foreachBatch transactional
    pattern as ``stream_agg_view``.  Per-trigger cost is one pass over
    the delta; the audit table grows by len(constraints) rows per batch.
    Returns the started query."""
    from pic2vec_spark.ops.quality import check_constraints

    table = SnapshotTable(table_root, spark)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        man = table.manifest()
        if man is not None:
            last = (man.get("properties") or {}).get("dq_last_batch")
            if last is not None and int(batch_id) <= int(last):
                return  # replayed batch: already audited
        report = check_constraints(batch_df, constraints).withColumn(
            "batch_id", F.lit(int(batch_id)).cast("bigint")
        )
        # merge with the parent's carried properties — passing a dict to
        # append() replaces them wholesale (append only carries the parent
        # properties when properties is None), which would wipe e.g. a
        # plan_fingerprint on the first audited batch
        props = {
            **((man.get("properties") or {}) if man is not None else {}),
            "dq_last_batch": int(batch_id),
        }
        if man is None:
            table.write(report, num_partitions=1, properties=props)
        else:
            table.append(report, num_partitions=1, properties=props)

    return _start_stream(
        spark, schema, input_dir, checkpoint_dir, files_per_trigger, sink,
        available_now,
    )


# ------------------------------------------------------------ ANN index

EMBEDDINGS_SCHEMA = (
    "vec_id bigint, embedding array<float>"
)


def _stamped_index_sink(
    batch_df: DataFrame,
    batch_id: int,
    table_root: str,
    stamp_key: str,
    build_fn,
    append_fn,
) -> None:
    """The shared batch-stamp protocol behind every streamed index sink
    (IVF / LSH / digest / Hamming).  Exactly-once: foreachBatch replays
    a batch after failure, and a replayed append would insert every row
    twice, so the committed manifest carries ``stamp_key``
    (``_stamp_state``: equal id → no-op, id behind → raise) and

    - no manifest yet → ``build_fn(extra_properties={stamp: id})``;
    - otherwise → ``append_fn(properties={**manifest props, stamp})``
      (index-identity properties are preserved across appends)."""
    state = _stamp_state(
        batch_df, batch_id, SnapshotTable(table_root, batch_df.sparkSession),
        stamp_key, "index", "index table", "a fresh table_root",
    )
    if state is None:
        return
    man, props = state
    if man is None:
        build_fn(extra_properties={stamp_key: int(batch_id)})
    else:
        append_fn(properties={**props, stamp_key: int(batch_id)})


def ivf_index_sink(batch_df: DataFrame, batch_id: int, table_root: str,
                   centroids) -> None:
    """foreachBatch body for ``stream_index_vectors`` — module-level so
    replay idempotence is directly testable.  ``_stamped_index_sink``
    supplies the exactly-once protocol under ``ivf_last_batch``; the
    quantizer digest is preserved across appends (properties are
    merged, not replaced)."""
    from pic2vec_spark.ops.ivf_store import (
        append_to_ivf_index,
        build_ivf_index,
    )

    args = (batch_df, centroids, table_root, batch_df.sparkSession)
    _stamped_index_sink(
        batch_df, batch_id, table_root, "ivf_last_batch",
        lambda **kw: build_ivf_index(*args, **kw),
        lambda **kw: append_to_ivf_index(*args, **kw),
    )


def stream_index_vectors(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    table_root: str,
    centroids,
    available_now: bool = True,
):
    """Continuously maintained ANN index: stream embedding parquet files
    into the persisted IVF index — first batch builds, later batches
    append new cell-partitioned files only (ingest cost ∝ new data; see
    append_to_ivf_index).  ``probe_ivf_index`` against ``table_root``
    serves freshness-inclusive top-k between micro-batches."""
    return _start_stream(
        spark, EMBEDDINGS_SCHEMA, input_dir, checkpoint_dir, 1,
        lambda batch_df, batch_id: ivf_index_sink(
            batch_df, batch_id, table_root, centroids
        ),
        available_now,
    )


# ------------------------------------------------------ LSH dedup index

DOCUMENTS_STREAM_SCHEMA = "doc_id bigint, text string"


def lsh_index_sink(batch_df: DataFrame, batch_id: int,
                   table_root: str, **family) -> None:
    """foreachBatch body for ``stream_index_documents`` — module-level
    so replay idempotence is directly testable.  ``_stamped_index_sink``
    supplies the exactly-once protocol under ``lsh_last_batch``.
    ``family`` (n_hashes/bands/shingle_n/prefix_chars) applies to the
    FIRST batch only — later appends read the family from the manifest
    and digest-verify it."""
    from pic2vec_spark.ops.dedup_store import (
        append_to_lsh_dedup_index,
        build_lsh_dedup_index,
    )

    spark = batch_df.sparkSession
    _stamped_index_sink(
        batch_df, batch_id, table_root, "lsh_last_batch",
        lambda **kw: build_lsh_dedup_index(
            batch_df, table_root, spark, **family, **kw
        ),
        lambda **kw: append_to_lsh_dedup_index(
            batch_df, table_root, spark, **kw
        ),
    )


def stream_index_documents(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    table_root: str,
    available_now: bool = True,
    **family,
):
    """Continuously maintained dedup index: stream document parquet
    files into the persisted LSH bucket index — first batch builds,
    later batches append new prefix-partitioned files only (ingest cost
    ∝ new data; see append_to_lsh_dedup_index).  Between micro-batches,
    ``probe_lsh_dedup_index`` against ``table_root`` serves the
    ingest-time dedup gate and ``neardup_pairs_from_index`` the full
    candidate set, both freshness-inclusive."""
    return _start_stream(
        spark, DOCUMENTS_STREAM_SCHEMA, input_dir, checkpoint_dir, 1,
        lambda batch_df, batch_id: lsh_index_sink(
            batch_df, batch_id, table_root, **family
        ),
        available_now,
    )


# --------------------------------------------------- exact digest index

def digest_index_sink(batch_df: DataFrame, batch_id: int,
                      table_root: str, prefix_chars: int = 1) -> None:
    """foreachBatch body for ``stream_index_digests`` — module-level so
    replay idempotence is directly testable.  ``_stamped_index_sink``
    supplies the exactly-once protocol under ``digest_last_batch``.
    ``prefix_chars`` applies to the FIRST batch only — later appends
    read it from the manifest."""
    from pic2vec_spark.ops.dedup_store import (
        append_to_digest_dedup_index,
        build_digest_dedup_index,
    )

    spark = batch_df.sparkSession
    _stamped_index_sink(
        batch_df, batch_id, table_root, "digest_last_batch",
        lambda **kw: build_digest_dedup_index(
            batch_df, table_root, spark, prefix_chars=prefix_chars, **kw
        ),
        lambda **kw: append_to_digest_dedup_index(
            batch_df, table_root, spark, **kw
        ),
    )


def stream_index_digests(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    table_root: str,
    available_now: bool = True,
    prefix_chars: int = 1,
):
    """Continuously maintained EXACT-dup index: stream document parquet
    files into the persisted digest index — first batch builds, later
    batches append new prefix-partitioned files only (ingest cost ∝ new
    data; see append_to_digest_dedup_index).  Between micro-batches,
    ``probe_digest_dedup_index`` against ``table_root`` answers "is
    this incoming document byte-identical to anything committed" and
    ``duplicate_groups_from_index`` the full group set, both
    freshness-inclusive."""
    return _start_stream(
        spark, DOCUMENTS_STREAM_SCHEMA, input_dir, checkpoint_dir, 1,
        lambda batch_df, batch_id: digest_index_sink(
            batch_df, batch_id, table_root, prefix_chars
        ),
        available_now,
    )


# --------------------------------------- Hamming (fingerprint) index

def hamming_index_sink(batch_df: DataFrame, batch_id: int,
                       table_root: str, id_col: str = "image_id",
                       sig_col: str = "phash64", **family) -> None:
    """foreachBatch body for ``stream_index_fingerprints`` —
    module-level so replay idempotence is directly testable.
    ``_stamped_index_sink`` supplies the exactly-once protocol under
    ``hamming_last_batch``.  ``family`` (max_distance/bits/bucket_mod)
    applies to the FIRST batch only — later appends read the chunk
    family from the manifest and digest-verify it."""
    from pic2vec_spark.ops.dedup_store import (
        append_to_hamming_dedup_index,
        build_hamming_dedup_index,
    )

    spark = batch_df.sparkSession
    cols = {"id_col": id_col, "sig_col": sig_col}
    _stamped_index_sink(
        batch_df, batch_id, table_root, "hamming_last_batch",
        lambda **kw: build_hamming_dedup_index(
            batch_df, table_root, spark, **cols, **family, **kw
        ),
        lambda **kw: append_to_hamming_dedup_index(
            batch_df, table_root, spark, **cols, **kw
        ),
    )


def stream_index_fingerprints(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    table_root: str,
    available_now: bool = True,
    id_col: str = "image_id",
    sig_col: str = "phash64",
    id_type: str = "bigint",
    **family,
):
    """Continuously maintained near-dup media index: stream fingerprint
    parquet drops (image pHash, text SimHash, audio fingerprints — any
    <=64-bit signature; ``id_type='string'`` admits composite keys like
    the video repost index's video\\x1fframe ids)
    into the persisted Hamming-ball index — first batch builds, later
    batches append new pfx-partitioned files only (ingest cost ∝ new
    data; see append_to_hamming_dedup_index).  Between micro-batches,
    ``probe_hamming_dedup_index`` against ``table_root`` serves the
    ingest-time near-dup gate (drop incoming images within
    max_distance bits of anything committed) and
    ``neardup_pairs_from_hamming_index`` the full pair set, both
    freshness-inclusive."""
    return _start_stream(
        spark, f"{id_col} {id_type}, {sig_col} bigint", input_dir,
        checkpoint_dir, 1,
        lambda batch_df, batch_id: hamming_index_sink(
            batch_df, batch_id, table_root,
            id_col=id_col, sig_col=sig_col, **family,
        ),
        available_now,
    )


# ------------------------------------------------ streaming media gate

def media_gate_sink(
    batch_df: DataFrame,
    batch_id: int,
    digest_root: str,
    hamming_root: str,
    decisions_root: str,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
) -> None:
    """foreachBatch body for ``stream_media_gate`` — module-level so
    replay idempotence is directly testable.

    The decisions table carries the ``gate_last_batch`` stamp (same
    replay protocol as the index sinks: replayed id → no-op, id behind
    the stamp → fresh-checkpoint restart raises).  The very first batch
    BECOMES the committed corpus: both indexes are built from it and
    every row is decided ``new`` (within-batch near-dups are not
    flagged — the gate's contract is batch-vs-committed).  Later
    batches run ``media_ingest_gate``.

    Commit order: index appends first, decisions (with the stamp)
    last.  A crash between them means the replayed batch re-gates
    against indexes that already contain its survivors, so those rows
    re-classify as exact_dup of themselves — the decisions stream is
    then at-least-once rather than exactly-once for that one batch,
    but no content is ever lost or double-committed to the indexes
    (a re-append is suppressed because the survivors now exact-hit)."""
    from pic2vec_spark.ops.dedup_store import (
        build_digest_dedup_index,
        build_hamming_dedup_index,
        media_ingest_gate,
    )
    from pic2vec_spark.ops.multimodal import compute_phash

    spark = batch_df.sparkSession
    dec_table = SnapshotTable(decisions_root, spark)
    state = _stamp_state(
        batch_df, batch_id, dec_table, "gate_last_batch", "decisions table"
    )
    if state is None:
        return
    man, props = state
    if SnapshotTable(digest_root, spark).manifest() is None:
        fp = compute_phash(
            batch_df, bytes_col=bytes_col, fmt_col=fmt_col
        ).localCheckpoint(eager=True)
        build_digest_dedup_index(
            fp, digest_root, spark,
            id_col=id_col, text_col=bytes_col, norm="binary",
        )
        build_hamming_dedup_index(
            fp.filter(F.col("phash64_ok")), hamming_root, spark,
            id_col=id_col,
        )
        decisions = fp.select(
            F.col(id_col),
            F.lit("new").alias("disposition"),
            F.lit(None).cast(fp.schema[id_col].dataType).alias("keep_id"),
        )
    else:
        decisions = media_ingest_gate(
            batch_df, digest_root, hamming_root, spark,
            id_col=id_col, bytes_col=bytes_col, fmt_col=fmt_col,
        )
    _commit_stamped(
        dec_table, man, props, "media_gate_decisions", batch_id,
        decisions.withColumn("batch_id", F.lit(int(batch_id))),
    )


def stream_media_gate(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    digest_root: str,
    hamming_root: str,
    decisions_root: str,
    available_now: bool = True,
):
    """The full streaming IMAGE ingest pipeline: stream image parquet
    drops through the one-call media dedup gate.  Each micro-batch is
    classified exact_dup / near_dup / new against everything committed
    so far (binary digest index + pHash Hamming index, one decode+DCT
    pass per batch, no committed pixel re-read), survivors are
    appended to both indexes, and the decisions land in a queryable
    snapshot table partitioned by disposition-bearing batch —
    downstream featurization consumes ``disposition = 'new'`` rows
    only, so the expensive CNN never sees a duplicate image."""
    return _start_stream(
        spark, "image_id string, bytes binary, fmt string", input_dir,
        checkpoint_dir, 1,
        lambda batch_df, batch_id: media_gate_sink(
            batch_df, batch_id, digest_root, hamming_root, decisions_root
        ),
        available_now,
    )


def repost_gate_sink(
    batch_df: DataFrame,
    batch_id: int,
    posts_root: str,
    flags_root: str,
    window_s: int = 86400,
    max_distance: int = 4,
) -> None:
    """foreachBatch body for ``stream_repost_gate`` — module-level so
    replay idempotence is directly testable.

    Each micro-batch of fingerprinted timeline posts
    ``(user_id, event_id, ts, phash64)`` is flagged against the posts
    COMMITTED so far plus the EARLIER rows of the same batch: for every
    incoming post, how many posts by the same user in the trailing
    ``window_s`` seconds are perceptual near-duplicates
    (Hamming <= ``max_distance``), how many are bit-identical
    (Hamming == 0), and the gap to the most recent one — the streaming
    form of the batch ``repost_feature_matrix``.  Counts are as-of
    ARRIVAL: a late post ingested after a flag was emitted does not
    retro-update it (standard streaming semantics; the batch query is
    the retrospective truth).

    Scale shape: the committed posts scan is PRUNED to the batch's
    trailing window via the manifest's per-partition ts_us stats
    (``stats_cols=["ts_us"]`` on every append — the Iceberg-style
    time-travel prune), the reference ∪ batch is deduped by event_id so
    a replayed half-committed batch never double-counts itself, and the
    pair search is ops.ranges.range_join — day-bucket replication +
    (user, bucket) equi-join, never per-user cross products.

    Replay protocol (same as the index/media sinks): the flags table
    carries ``gate_last_batch``; a replayed id is a no-op, an id behind
    the stamp raises (foreign checkpoint).  Commit order: posts append
    first, flags (with the stamp) last — a crash between them means the
    replayed batch re-flags against posts that already include it,
    which the event_id dedup makes value-identical."""
    from pic2vec_spark.ops.ranges import range_join

    spark = batch_df.sparkSession
    flags_table = SnapshotTable(flags_root, spark)
    state = _stamp_state(
        batch_df, batch_id, flags_table, "gate_last_batch", "flags table"
    )
    if state is None:
        return
    man, props = state

    batch = batch_df.select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "phash64",
    ).localCheckpoint(eager=True)

    posts_table = SnapshotTable(posts_root, spark)
    bounds = batch.agg(
        F.min("ts_us").alias("lo"), F.max("ts_us").alias("hi")
    ).collect()[0]
    window_us = int(window_s) * 1_000_000
    if posts_table.manifest() is not None:
        committed = posts_table.scan(
            min_stats={"ts_us": (bounds["lo"] - window_us, bounds["hi"])}
        )
        ref = committed.unionByName(batch).dropDuplicates(["event_id"])
    else:
        ref = batch
    earlier = ref.select(
        "user_id",
        F.col("ts_us").alias("ts1"),
        F.col("phash64").alias("ph1"),
    )
    later = batch.select(
        "user_id",
        F.col("event_id").alias("id2"),
        F.col("ts_us").alias("ts2"),
        F.col("phash64").alias("ph2"),
        (F.col("ts_us") - F.lit(window_us)).alias("w_start"),
        F.col("ts_us").alias("w_end"),
    )
    pairs = range_join(
        earlier, later, ts="ts1", start="w_start", end="w_end",
        on="user_id", bucket_s=float(window_s),
    ).withColumn(
        "hamming", F.bit_count(F.col("ph1").bitwiseXOR(F.col("ph2")))
    ).filter(F.col("hamming") <= max_distance)
    feats = pairs.groupBy("id2").agg(
        F.count(F.lit(1)).alias("prior_neardups"),
        F.sum(
            F.when(F.col("hamming") == 0, 1).otherwise(0)
        ).alias("prior_exact"),
        F.min(F.col("ts2") - F.col("ts1")).alias("last_gap_us"),
    )
    flags = (
        batch.join(feats, batch["event_id"] == feats["id2"], "left")
        .select(
            "event_id", "user_id", "ts_us",
            F.coalesce("prior_neardups", F.lit(0)).alias("prior_neardups"),
            F.coalesce("prior_exact", F.lit(0)).alias("prior_exact"),
            "last_gap_us",
            F.lit(int(batch_id)).alias("batch_id"),
        )
    )

    # commit order: posts first, stamped flags last (see docstring)
    if posts_table.manifest() is None:
        posts_table.write(
            batch, stats_cols=["ts_us"],
            properties={"table": "repost_gate_posts"},
        )
    else:
        posts_table.append(batch, stats_cols=["ts_us"])
    _commit_stamped(
        flags_table, man, props, "repost_gate_flags", batch_id, flags
    )


def stream_repost_gate(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    posts_root: str,
    flags_root: str,
    window_s: int = 86400,
    max_distance: int = 4,
    available_now: bool = True,
):
    """Streaming repost detection: fingerprinted timeline posts arrive
    as parquet drops ``(user_id, event_id, ts, phash64)``; every
    micro-batch is flagged with its trailing-window perceptual-repost
    features against everything ingested so far (committed posts are
    time-pruned via manifest stats, pairs via the day-bucket range
    join), then committed to the posts table — the ingest-time feed
    of the batch ``repost_feature_matrix``/``temporal_image_repost``
    queries.  Flags land in a queryable snapshot table stamped per
    batch; replays are no-ops."""
    return _start_stream(
        spark, "user_id bigint, event_id bigint, ts timestamp, phash64 bigint",
        input_dir, checkpoint_dir, 1,
        lambda batch_df, batch_id: repost_gate_sink(
            batch_df, batch_id, posts_root, flags_root,
            window_s=window_s, max_distance=max_distance,
        ),
        available_now,
    )


def datacard_state_delta(
    batch_df: DataFrame,
    text_col: str = "text",
    domain_cols: tuple[str, ...] = ("lang", "source"),
    kmv_k: int = 1024,
) -> DataFrame:
    """One micro-batch's contribution to the streaming data-card state:
    a tiny keyed frame of MERGEABLE statistics —

    - ``__totals__``: doc / token / char sums + token min/max,
    - one row per (domain column, value): doc count,
    - ``__kmv__``: the <=k smallest distinct 60-bit digest hashes
      (``sampling.md5_uniform60`` of the content digest — the KMV
      sketch from ops/rollup, the mergeable stand-in for the batch
      card's exact countDistinct; exact while distinct count < k).

    Every statistic is associative/commutative, so state merge is
    order-free — the property that makes the card maintainable from a
    stream at all."""
    from pic2vec_spark.ops.sampling import md5_uniform60
    from pic2vec_spark.ops.text import tokens

    base = batch_df.select(
        *[F.col(c) for c in domain_cols],
        md5_uniform60(F.md5(F.col(text_col))).alias("__h"),
        F.size(tokens(F.col(text_col))).cast("bigint").alias("__n_tok"),
        F.length(F.col(text_col)).cast("bigint").alias("__n_chars"),
    ).localCheckpoint(eager=True)

    empty_arr = F.lit(None).cast("array<double>")
    totals = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("__n_tok").cast("double").alias("n_toks"),
        F.sum("__n_chars").cast("double").alias("n_chars"),
        F.min("__n_tok").cast("double").alias("min_tok"),
        F.max("__n_tok").cast("double").alias("max_tok"),
    ).select(
        F.lit("__totals__").alias("__k"),
        "n_docs", "n_toks", "n_chars", "min_tok", "max_tok",
        empty_arr.alias("arr"),
    )
    # the totals row carries every state column; the others are
    # NULL-filled (same types) by unionByName
    out = totals.unionByName(
        base.agg(
            F.slice(F.array_sort(F.collect_set("__h")), 1, kmv_k).alias("arr")
        ).select(F.lit("__kmv__").alias("__k"), "arr"),
        allowMissingColumns=True,
    )
    for c in domain_cols:
        out = out.unionByName(
            base.groupBy(c).agg(
                F.count(F.lit(1)).cast("double").alias("n_docs")
            ).select(
                F.concat_ws("\x1f", F.lit(c), F.col(c).cast("string")).alias(
                    "__k"
                ),
                "n_docs",
            ),
            allowMissingColumns=True,
        )
    return out


def merge_datacard_states(
    a: DataFrame, b: DataFrame, kmv_k: int = 1024
) -> DataFrame:
    """Key-wise merge of two data-card state frames: sums add, min/max
    fold, KMV arrays union-sort-truncate to k — associative and
    commutative, so replay ORDER never matters (replay IDENTITY is the
    sink's batch-stamp guard, as in stream_agg_view)."""
    cols = ["n_docs", "n_toks", "n_chars", "min_tok", "max_tok", "arr"]
    aa = a.select("__k", *[F.col(c).alias(f"a_{c}") for c in cols])
    bb = b.select("__k", *[F.col(c).alias(f"b_{c}") for c in cols])
    j = aa.join(bb, "__k", "full_outer")

    def added(c: str):
        return F.when(
            F.col(f"a_{c}").isNotNull() | F.col(f"b_{c}").isNotNull(),
            F.coalesce(f"a_{c}", F.lit(0.0)) + F.coalesce(f"b_{c}", F.lit(0.0)),
        ).alias(c)

    return j.select(
        "__k",
        *[added(c) for c in ("n_docs", "n_toks", "n_chars")],
        F.least("a_min_tok", "b_min_tok").alias("min_tok"),
        F.greatest("a_max_tok", "b_max_tok").alias("max_tok"),
        F.when(
            F.col("a_arr").isNotNull() | F.col("b_arr").isNotNull(),
            F.slice(
                F.array_sort(
                    F.array_distinct(
                        F.concat(
                            F.coalesce("a_arr", F.array()),
                            F.coalesce("b_arr", F.array()),
                        )
                    )
                ),
                1,
                kmv_k,
            ),
        ).alias("arr"),
    )


def datacard_from_state(state: DataFrame, kmv_k: int = 1024) -> DataFrame:
    """Finalize a data-card state frame into the SAME long-format
    ``(section, metric, value)`` report ``ops/datacard.corpus_datacard``
    emits — size / dup / length / per-domain share sections — so batch
    and streaming cards are directly diffable (and equal while the
    corpus's distinct-digest count stays under the sketch's k; beyond
    it the dup row becomes the KMV estimate ``(k-1)/h_k``, every other
    row stays exact)."""
    tot = state.filter(F.col("__k") == "__totals__").localCheckpoint(
        eager=False
    )
    kmv = state.filter(F.col("__k") == "__kmv__").select(
        F.size("arr").alias("__n_h"), F.element_at("arr", -1).alias("__h_k")
    )
    docs_d = F.col("n_docs")
    size = tot.select(
        F.expr(
            "stack(3, 'n_docs', n_docs, 'n_tokens', n_toks,"
            " 'n_chars', n_chars) AS (metric, value)"
        )
    ).select(F.lit("size").alias("section"), "metric", "value")
    length = tot.select(
        F.expr(
            "stack(3, 'mean_tokens', ROUND(n_toks / n_docs, 6),"
            " 'min_tokens', min_tok, 'max_tokens', max_tok)"
            " AS (metric, value)"
        )
    ).select(F.lit("length").alias("section"), "metric", "value")
    distinct_est = F.when(
        F.col("__n_h") < kmv_k, F.col("__n_h").cast("double")
    ).otherwise(F.round((F.lit(float(kmv_k)) - 1.0) / F.col("__h_k"), 2))
    dup = (
        kmv.crossJoin(F.broadcast(tot.select("n_docs")))
        .select(
            F.lit("dup").alias("section"),
            F.lit("exact_dup_frac").alias("metric"),
            F.round(F.lit(1.0) - distinct_est / docs_d, 6).alias("value"),
        )
    )
    shares = (
        state.filter(~F.col("__k").isin("__totals__", "__kmv__"))
        .crossJoin(F.broadcast(tot.select(F.col("n_docs").alias("__t"))))
        .select(
            F.substring_index("__k", "\x1f", 1).alias("section"),
            # concat_ws skips a NULL domain value, so its key is the
            # bare column name: no separator = the NULL metric
            F.when(
                F.instr("__k", "\x1f") > 0,
                F.substring_index("__k", "\x1f", -1),
            ).alias("metric"),
            F.round(F.col("n_docs") / F.col("__t"), 6).alias("value"),
        )
    )
    return size.unionByName(dup).unionByName(length).unionByName(shares)


def stream_datacard(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    table_root: str,
    schema,
    text_col: str = "text",
    domain_cols: tuple[str, ...] = ("lang", "source"),
    kmv_k: int = 1024,
    files_per_trigger: int = 8,
    available_now: bool = True,
):
    """Streaming corpus data card: a file-source stream of document
    parquet drops keeps the mergeable card STATE (datacard_state_delta)
    continuously folded into the SnapshotTable at ``table_root`` —
    the release report is then one ``datacard_from_state`` call away
    at ANY point in the stream, without ever rescanning the corpus
    (per-trigger cost ∝ delta; the state table is sections × domain
    cardinality + one k-row sketch).

    Exactly-once: state addition is not idempotent, so the sink reuses
    stream_agg_view's batch-stamp guard (``datacard_last_batch`` in
    the manifest; replayed batch ids are skipped, fresh-checkpoint
    restarts against a populated table raise rather than double-count).
    Returns the started query."""
    table = SnapshotTable(table_root, spark)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        man = table.manifest()
        # an empty batch folds nothing, except that an empty FIRST batch
        # still commits its (empty) stamped state — otherwise the next
        # batch would find no table at a batch id != 0 and refuse
        if batch_df.isEmpty() and man is not None:
            return
        delta = datacard_state_delta(
            batch_df, text_col, domain_cols, kmv_k
        )
        if man is None:
            if int(batch_id) != 0:
                raise ValueError(
                    "fresh datacard state but stream batch id "
                    f"{batch_id} != 0: checkpoint was reset against an "
                    "empty table — refusing to undercount"
                )
            table.write(
                delta, properties={"datacard_last_batch": int(batch_id)}
            )
            return
        props = dict(man.get("properties") or {})
        last = props.get("datacard_last_batch")
        if last is None:
            raise ValueError(
                "datacard state table exists without a batch stamp — "
                "not this stream's table; refusing to fold into it"
            )
        if int(batch_id) <= int(last):
            return  # replayed batch: already folded
        merged = merge_datacard_states(
            table.scan(), delta, kmv_k
        ).localCheckpoint(eager=True)
        # copy-on-write: a fresh snapshot holding the merged state (the
        # state table is tiny — sections x domain cardinality + one
        # k-row sketch — so a full rewrite is cheaper than keyed merge)
        table.write(
            merged, properties={**props, "datacard_last_batch": int(batch_id)}
        )

    return _start_stream(
        spark, schema, input_dir, checkpoint_dir, files_per_trigger, sink,
        available_now,
    )
