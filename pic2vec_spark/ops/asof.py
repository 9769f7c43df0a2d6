"""Point-in-time (as-of) join.

The reference engine (pic2vec) has no notion of time; this operator is
the core of the point-in-time layer this engine adds on top of its
featurization semantics.

Semantics: for every query row (entity_id, query_ts) attach the value
columns of the *latest* feature row of the same entity with
``feature_ts <= query_ts`` (zero temporal leakage — a query never sees a
feature timestamped after it).  Ties on ``ts`` resolve feature-first and
then by the feature-side tiebreak column, deterministically.

Implementation (Spark-first, no per-row Python):

    union(tagged feature side, tagged query side)
      -> single shuffle: hash partition by entity_id
      -> Window.partitionBy(entity).orderBy(ts, side, tiebreak)
         with F.last(..., ignorenulls=True) over unboundedPreceding..current
      -> filter side == query

One shuffle total (the window exchange); both inputs are scanned once.
This is the sorted-merge formulation: within each entity partition the
rows are sort-merged by timestamp and the running "last feature value"
is carried forward — exactly what a dedicated as-of join operator does,
expressed with built-in windowed aggregates so Catalyst/Tungsten run it
entirely JVM-side (whole-stage codegen, no UDF).

Skew note (100 TB): the window shuffles by entity_id only. Hot entities
are bounded by per-entity history length, not by table size; if one
entity's history exceeds a partition, pre-aggregate its feature side
with ``compact_features`` (keep last-per-(entity, ts-bucket) — its
shuffle key is the FINER (entity, bucket) pair, so a hot entity's
history is split across partitions during compaction and the as-of
window then sees at most one row per bucket).  Opt in via
``asof_join(..., compact_bucket_s=...)``.  Salting cannot be applied to
an ordered window without breaking the running-last chain, so the
engine keeps salting for the (per-row, order-free) featurize stage only
— see pic2vec_spark.featurize.

Reference contrast: pic2vec aligns features to rows positionally
(pd.concat(axis=1), /root/reference/pic2vec/image_featurizer.py:332);
this engine replaces positional identity with explicit (entity, ts) keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_SIDE = "__asof_side"
_TIE = "__asof_tie"


def asof_join_broadcast(
    queries: DataFrame,
    features: DataFrame,
    on: str = "entity_id",
    ts: str = "ts",
    value_cols: list[str] | None = None,
    tiebreak: str | None = None,
    tolerance_s: float | None = None,
    suffix: str = "_asof",
    collected=None,
) -> DataFrame:
    """Backward as-of join with a BROADCAST feature side — the scale
    path when features are dimension-sized and queries are the 10^12-row
    fact side.

    ``asof_join`` shuffles BOTH sides by entity (one exchange, but the
    exchange moves the huge query side).  Here the feature side is
    collected, sorted per entity, and broadcast; each query partition
    probes it with vectorized ``np.searchsorted`` inside ``mapInPandas``
    — a NARROW map, zero shuffle of the query side, no Python per-row
    work.  Same semantics as ``asof_join(direction='backward')``: latest
    feature with ``feature_ts <= query_ts``, equal-ts feature wins,
    largest tiebreak among equal-ts features, null when nothing precedes
    (or outside ``tolerance_s``).

    Use when ``features`` fits on an executor (same judgement call as a
    broadcast hash join; e.g. last-known-state tables).  Correctness is
    pinned against ``asof_join`` in tests/test_asof.py.  ``collected``:
    the pandas rows of ``features`` when the caller has already
    collected them (``features`` then only supplies the schema).
    """
    import numpy as np
    import pandas as pd

    if value_cols is None:
        value_cols = [c for c in features.columns if c not in (on, ts)]

    def ts_key(series: pd.Series) -> np.ndarray:
        """Order key: float64 for numeric ts columns, epoch-ns int64
        for datetime columns (both sides use the same rule)."""
        if np.issubdtype(series.dtype, np.number):
            return series.to_numpy(np.float64)
        return pd.to_datetime(series).astype("int64").to_numpy()

    order_cols = [on, ts] + ([tiebreak] if tiebreak else [])
    # NULL entity keys never match on either side (parity with
    # asof_join, which drops null-key feature rows): dropna=True below
    # discards null-key feature groups, and a null/NaN query key misses
    # the dict probe, yielding null matches.
    cols = [on, ts, *([tiebreak] if tiebreak else []), *value_cols]
    if collected is None:
        collected = features.select(*cols).toPandas()
    fpdf = collected[cols].sort_values(order_cols, kind="mergesort")
    numeric_ts = np.issubdtype(fpdf[ts].dtype, np.number)
    # per-entity sorted arrays: order key + raw ts, plus PER VALUE COLUMN
    # the (key, value) arrays of that column's NON-NULL rows — matching
    # asof_join's F.last(col, ignorenulls=True): each value column
    # independently takes its latest non-null at-or-before the query ts,
    # while ts_asof tracks the latest feature ROW regardless of nulls.
    lookup: dict = {}
    for eid, grp in fpdf.groupby(on, sort=False, dropna=True):
        keys = ts_key(grp[ts])
        per_col = {}
        for c in value_cols:
            nn = grp[c].notna().to_numpy()
            per_col[c] = (keys[nn], grp[c].to_numpy()[nn])
        lookup[eid] = (keys, grp[ts].to_numpy(), per_col)
    bc = queries.sparkSession.sparkContext.broadcast(lookup)

    from pyspark.sql import types as T

    out_fields = list(queries.schema.fields)
    out_fields.append(T.StructField(f"{ts}{suffix}", features.schema[ts].dataType, True))
    for c in value_cols:
        out_fields.append(T.StructField(f"{c}{suffix}", features.schema[c].dataType, True))
    schema = T.StructType(out_fields)
    tol = None if tolerance_s is None else (
        float(tolerance_s) if numeric_ts else int(tolerance_s * 1e9)
    )

    def probe(batches):
        lk = bc.value
        for pdf in batches:
            q_ts = ts_key(pdf[ts])
            if numeric_ts:
                # object array of None (not float NaN): Arrow turns None
                # into a true SQL NULL, matching asof_join's unmatched
                # rows — and never garbage-casts into integer ts types
                matched_ts = np.full(len(pdf), None, dtype=object)
            else:
                matched_ts = np.full(len(pdf), np.datetime64("NaT"), "datetime64[ns]")
            matched_vals = {
                c: np.full(len(pdf), None, dtype=object) for c in value_cols
            }
            ents = pdf[on].to_numpy()
            for eid in pd.unique(ents):
                hit = lk.get(eid)
                if hit is None:
                    continue
                rows = np.nonzero(ents == eid)[0]
                f_key, f_ts, per_col = hit
                # rightmost feature ROW with f_ts <= q_ts (searchsorted
                # 'right' gives the insertion point; -1 = that feature)
                idx = np.searchsorted(f_key, q_ts[rows], side="right") - 1
                ok = idx >= 0
                if tol is not None:
                    dist = q_ts[rows] - f_key[np.maximum(idx, 0)]
                    ok &= np.where(idx >= 0, dist, tol + 1) <= tol
                grows, gidx = rows[ok], idx[ok]
                matched_ts[grows] = f_ts[gidx]
                for c in value_cols:
                    # per-column last NON-NULL at-or-before the query ts;
                    # tolerance gates on the matched ROW's ts (the `ok`
                    # mask), exactly like asof_join's post-filter
                    ck, cv = per_col[c]
                    cidx = np.searchsorted(ck, q_ts[rows], side="right") - 1
                    cok = ok & (cidx >= 0)
                    matched_vals[c][rows[cok]] = cv[cidx[cok]]
            out = pdf.copy()
            out[f"{ts}{suffix}"] = matched_ts
            for c in value_cols:
                out[f"{c}{suffix}"] = matched_vals[c]
            yield out

    return queries.mapInPandas(probe, schema=schema)


def compact_features(
    features: DataFrame,
    bucket_s: float,
    on: str = "entity_id",
    ts: str = "ts",
    value_cols: list[str] | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """Hot-entity pre-aggregation for the as-of join: keep ONE row per
    (entity, ts-bucket) — the bucket's latest feature row, with each
    value column carrying the bucket's last NON-NULL value (matching
    ``asof_join``'s per-column ``F.last(ignorenulls=True)``).

    Equivalence contract (pinned in tests/test_asof.py): a backward
    as-of over the compacted features equals one over the raw features
    for every query timestamp at/after the end of the feature's bucket
    — i.e. at bucket granularity.  A query landing INSIDE a bucket that
    still receives features after it may see a value up to ``bucket_s``
    staler than raw; choose ``bucket_s`` at or below the freshness SLA.

    Scale shape: the compaction shuffles by the FINER (entity, bucket)
    key, so a hot entity with a 10^9-row history splits across
    partitions here, and the subsequent as-of window (which must
    partition by entity alone to keep the running-last chain) sees at
    most one row per bucket per entity — bounded state regardless of
    raw history length."""
    if bucket_s <= 0:
        raise ValueError(f"bucket_s must be > 0, got {bucket_s}")
    if value_cols is None:
        value_cols = [c for c in features.columns if c not in (on, ts)]
    b_us = int(bucket_s * 1_000_000)
    tie = F.col(tiebreak) if tiebreak else F.monotonically_increasing_id()
    bucket = F.floor(
        F.unix_micros(F.col(ts).cast("timestamp")) / F.lit(b_us)
    )
    w_all = (
        Window.partitionBy(on, "__bucket")
        .orderBy(F.col(ts).asc(), F.col("__tie").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_rank = Window.partitionBy(on, "__bucket").orderBy(
        F.col(ts).desc(), F.col("__tie").desc()
    )
    keep = [on, ts] + ([tiebreak] if tiebreak else [])
    # a value column that is ALSO the tiebreak (or key/ts) is already in
    # `keep` — the surviving row's raw value equals the bucket's last
    # non-null for it (the survivor IS the last row), so emit it once
    agg_cols = [c for c in value_cols if c not in keep]
    return (
        features.filter(F.col(on).isNotNull())
        .withColumn("__bucket", bucket)
        .withColumn("__tie", tie)
        .select(
            *keep,
            "__bucket",
            "__tie",
            *[
                F.last(c, ignorenulls=True).over(w_all).alias(f"__last_{c}")
                for c in agg_cols
            ],
        )
        .withColumn("__rn", F.row_number().over(w_rank))
        .filter(F.col("__rn") == 1)
        .select(
            *keep,
            *[F.col(f"__last_{c}").alias(c) for c in agg_cols],
        )
    )


def asof_join(
    queries: DataFrame,
    features: DataFrame,
    on: str = "entity_id",
    ts: str = "ts",
    value_cols: list[str] | None = None,
    tiebreak: str | None = None,
    tolerance_s: float | None = None,
    suffix: str = "_asof",
    direction: str = "backward",
    compact_bucket_s: float | None = None,
) -> DataFrame:
    """As-of join ``queries`` (left) with ``features`` (right).

    Returns the query rows with ``{v}{suffix}`` for each value column,
    plus ``{ts}{suffix}`` (the matched feature timestamp, null when no
    feature matches in ``direction`` / outside ``tolerance_s``).

    ``direction`` (pandas ``merge_asof`` semantics, all one-shuffle):

    - ``backward`` (default, the point-in-time case): latest feature
      with ``feature_ts <= query_ts`` — zero temporal leakage; among
      equal-ts features the LARGEST tiebreak wins (running last).
    - ``forward``: earliest feature with ``feature_ts >= query_ts``;
      among equal-ts features the SMALLEST tiebreak wins.
    - ``nearest``: whichever of the two is closer in time; exact tie
      resolves backward (the leak-free side).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward|forward|nearest, got {direction!r}")
    if value_cols is None:
        value_cols = [c for c in features.columns if c not in (on, ts)]
    if compact_bucket_s is not None:
        # hot-entity mitigation (see compact_features): only meaningful
        # for backward joins — forward/nearest would need the bucket's
        # FIRST row, which compaction discards
        if direction != "backward":
            raise ValueError(
                "compact_bucket_s is only valid for direction='backward' "
                "(compaction keeps each bucket's last row)"
            )
        features = compact_features(
            features, compact_bucket_s, on=on, ts=ts,
            value_cols=value_cols, tiebreak=tiebreak,
        )

    # NULL entity keys never match (SQL join semantics, and identical to
    # asof_join_broadcast where pandas groupby/dict-probe drop them):
    # null-key feature rows are dropped here so the NULL window partition
    # carries no features, and null-key query rows fall through with null
    # matches.  Without this filter Window.partitionBy would group all
    # NULLs together and let null-key queries see null-key features.
    f = features.filter(F.col(on).isNotNull()).select(
        F.col(on),
        F.col(ts),
        F.lit(0).alias(_SIDE),
        (F.col(tiebreak) if tiebreak else F.monotonically_increasing_id()).alias(_TIE),
        *[F.col(c) for c in value_cols],
    )
    q_cols = [c for c in queries.columns]
    q = queries.select(
        *q_cols,
        F.lit(1).alias(_SIDE),
        F.lit(None).cast(f.schema[_TIE].dataType).alias(_TIE),
        *[F.lit(None).cast(f.schema[c].dataType).alias(c) for c in value_cols if c not in q_cols],
    )
    u = f.unionByName(q, allowMissingColumns=True)

    # backward pass: features sort BEFORE equal-ts queries (side asc) so
    # the running last over (unboundedPreceding..current) includes them.
    wb = (
        Window.partitionBy(on)
        .orderBy(F.col(ts).asc(), F.col(_SIDE).asc(), F.col(_TIE).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # forward pass: features sort AFTER equal-ts queries (side desc) so
    # the running first over (current..unboundedFollowing) includes them;
    # tie asc makes the smallest tiebreak the first match.
    wf = (
        Window.partitionBy(on)
        .orderBy(F.col(ts).asc(), F.col(_SIDE).desc(), F.col(_TIE).asc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )

    def last_feature(col: Column) -> Column:
        return F.last(F.when(F.col(_SIDE) == 0, col), ignorenulls=True).over(wb)

    def first_feature(col: Column) -> Column:
        return F.first(F.when(F.col(_SIDE) == 0, col), ignorenulls=True).over(wf)

    # single select so Catalyst emits ONE Window node per direction for
    # all the running-last/first expressions (chained withColumn produced
    # one Window pass per value column over the same sorted partition)
    if direction == "backward":
        u = u.select(
            "*",
            last_feature(F.col(ts)).alias(f"{ts}{suffix}"),
            *[last_feature(F.col(c)).alias(f"{c}{suffix}") for c in value_cols],
        )
    elif direction == "forward":
        u = u.select(
            "*",
            first_feature(F.col(ts)).alias(f"{ts}{suffix}"),
            *[first_feature(F.col(c)).alias(f"{c}{suffix}") for c in value_cols],
        )
    else:  # nearest: both passes share the one entity exchange (same
        # partitioning; Spark re-sorts in place for the second order)
        u = u.select(
            "*",
            last_feature(F.col(ts)).alias("__b_ts"),
            *[last_feature(F.col(c)).alias(f"__b_{c}") for c in value_cols],
        ).select(
            "*",
            first_feature(F.col(ts)).alias("__f_ts"),
            *[first_feature(F.col(c)).alias(f"__f_{c}") for c in value_cols],
        )
        qus = F.unix_micros(F.col(ts).cast("timestamp"))
        b_dist = qus - F.unix_micros(F.col("__b_ts").cast("timestamp"))
        f_dist = F.unix_micros(F.col("__f_ts").cast("timestamp")) - qus
        # merge_asof semantics: tolerance filters EACH side before the
        # nearest pick — an out-of-tolerance nearer side must not mask a
        # valid farther side
        b_ok = F.col("__b_ts").isNotNull()
        f_ok = F.col("__f_ts").isNotNull()
        if tolerance_s is not None:
            tol_us = int(tolerance_s * 1_000_000)
            b_ok = b_ok & (b_dist <= tol_us)
            f_ok = f_ok & (f_dist <= tol_us)
        pick_b = b_ok & (~f_ok | (b_dist <= f_dist))
        u = u.select(
            "*",
            F.when(pick_b, F.col("__b_ts")).when(f_ok, F.col("__f_ts")).alias(f"{ts}{suffix}"),
            *[
                F.when(pick_b, F.col(f"__b_{c}")).when(f_ok, F.col(f"__f_{c}")).alias(f"{c}{suffix}")
                for c in value_cols
            ],
        ).drop("__b_ts", "__f_ts", *[f"__b_{c}" for c in value_cols], *[f"__f_{c}" for c in value_cols])

    out = u.filter(F.col(_SIDE) == 1).drop(_SIDE, _TIE, *[c for c in value_cols if c not in q_cols])

    if tolerance_s is not None and direction != "nearest":  # nearest: applied pre-pick above
        qus = F.unix_micros(F.col(ts).cast("timestamp"))
        fus = F.unix_micros(F.col(f"{ts}{suffix}").cast("timestamp"))
        dist = fus - qus if direction == "forward" else qus - fus
        in_range = F.col(f"{ts}{suffix}").isNotNull() & (
            dist <= int(tolerance_s * 1_000_000)
        )
        for c in value_cols:
            out = out.withColumn(
                f"{c}{suffix}", F.when(in_range, F.col(f"{c}{suffix}"))
            )
        out = out.withColumn(
            f"{ts}{suffix}", F.when(in_range, F.col(f"{ts}{suffix}"))
        )
    return out
