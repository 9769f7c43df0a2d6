"""The flagship end-to-end pipeline: point-in-time image features.

For every query row (entity_id, query_ts) of a timeline, attach the
feature vector / caption / missing flag of the *latest* image observed
on that entity's timeline at or before query_ts — the distributed,
keyed, zero-leakage replacement for the reference's positional
``featurize → pd.concat(axis=1)`` flow
(/root/reference/pic2vec/image_featurizer.py:362-482).

Plan shape (late materialization — keys first, vectors last):

    asof_join(timeline(query rows),
              timeline(feature rows: entity, ts, row_id, image_id))
                                          [one entity-hash shuffle of
                                           narrow key rows, or a
                                           broadcast of the keys]
    matched ⟕ features on image_id_asof  [features = featurize_images
                                           (digest-dedup → CNN UDF →
                                           join back), one row per
                                           image_id; AQE broadcasts
                                           it when small]

The CNN touches each distinct image content exactly once; the as-of
join moves only (entity, ts, row_id, image_id) rows — never image bytes
and never feature vectors — and a vector is attached to a query row only
after that row has found its image.  The broadcast strategy collects
timeline keys alone, so building the DataFrame runs no CNN: it runs
inside the action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pic2vec_spark.featurize import featurize_images, zero_features_lit
from pic2vec_spark.ops.asof import asof_join, asof_join_broadcast
from pic2vec_spark.plan import FeaturizerPlan

# auto-switch bound for the broadcast as-of path, in timeline feature
# rows.  The broadcast carries keys only (entity, ts, row_id, image_id:
# ~100 B/row with per-entity numpy overhead), so 50k rows (~5 MB) is
# conservative for driver and executor memory; raising it moves larger
# timelines from the shuffle strategy to the broadcast one
BROADCAST_ASOF_MAX_ROWS = 50_000


def point_in_time_features(
    images: DataFrame,
    timeline: DataFrame,
    plan: FeaturizerPlan | None = None,
    tolerance_s: float | None = None,
    metrics=None,
    asof_strategy: str = "auto",
    broadcast_max_rows: int = BROADCAST_ASOF_MAX_ROWS,
) -> DataFrame:
    """images: (image_id, bytes, fmt, caption, ...);
    timeline: (entity_id, ts, image_id nullable, kind ∈ feature|query,
    row_id tiebreak).  Returns one row per query-kind timeline row with
    ``ts_asof / image_id_asof / caption_asof / missing_asof /
    features_asof``.

    The as-of match picks ONE observation (latest ``ts``, then largest
    ``row_id``); caption, missing flag and vector all belong to that
    observation's image — a null caption stays null rather than
    inheriting an older image's.  A matched ``image_id`` absent from
    ``images`` gets the engine's unmatched-ref semantics
    (``missing=True`` + the f(0) zero vector, same as
    ``featurize_multi_column``); a query with no observation (or none
    within ``tolerance_s``) gets nulls.  An ``image_id`` repeated in
    ``images`` still yields one row per query (one of its rows is kept,
    deterministically).

    ``asof_strategy``: ``"shuffle"`` = windowed ``asof_join`` (one
    entity exchange of BOTH sides' key rows); ``"broadcast"`` =
    collect+broadcast the observation keys, zero shuffle of the query
    side (the scale path when observations are dimension-sized and
    queries are the fact side); ``"auto"`` collects at most
    ``broadcast_max_rows + 1`` of the timeline's feature rows and
    broadcasts them when they fit ``broadcast_max_rows``.
    """
    if asof_strategy not in ("auto", "shuffle", "broadcast"):
        raise ValueError(
            f"asof_strategy must be auto|shuffle|broadcast, got {asof_strategy!r}"
        )
    plan = plan or FeaturizerPlan.build()
    observations = timeline.filter(
        (F.col("kind") == "feature") & F.col("image_id").isNotNull()
    ).select("entity_id", "ts", "row_id", "image_id")
    queries = timeline.filter(F.col("kind") == "query").select(
        "entity_id", "ts", "row_id"
    )
    join_kw = dict(
        on="entity_id",
        ts="ts",
        value_cols=["image_id"],
        tiebreak="row_id",
        tolerance_s=tolerance_s,
    )
    strategy, collected = asof_strategy, None
    if strategy == "auto":
        # one bounded scan both picks the strategy and, when it fits,
        # is the broadcast side
        collected = observations.limit(broadcast_max_rows + 1).toPandas()
        fits = len(collected) <= broadcast_max_rows
        strategy = "broadcast" if fits else "shuffle"
    if strategy == "broadcast":
        matched = asof_join_broadcast(
            queries, observations, collected=collected, **join_kw
        )
    else:
        matched = asof_join(queries, observations, **join_kw)

    # one row per image_id, so a repeated id cannot fan a query out; the
    # min over the struct keeps one images row's columns together and
    # does not depend on partitioning
    feats = (
        featurize_images(images, plan, metrics=metrics)
        .groupBy("image_id")
        .agg(F.min(F.struct("caption", "missing", "features")).alias("f"))
        .select(F.col("image_id").alias("image_id_asof"), "f.*")
    )
    zero_lit = zero_features_lit(plan)
    hit = F.col("image_id_asof").isNotNull()
    return matched.join(feats, "image_id_asof", "left").select(
        *queries.columns,
        "ts_asof",
        "image_id_asof",
        F.col("caption").alias("caption_asof"),
        F.when(hit, F.coalesce(F.col("missing"), F.lit(True))).alias("missing_asof"),
        F.when(hit, F.coalesce(F.col("features"), zero_lit)).alias("features_asof"),
    )
