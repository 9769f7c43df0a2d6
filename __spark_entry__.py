"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship point-in-time image-featurization
query at sf0.001; ``queries()``/``oracle_sql()`` expose each implemented
operator (SURVEY.md §2 + north-rule point-in-time layer) for the DuckDB
correctness gate at sf0.01.

Determinism notes shared by Spark and the DuckDB oracle:
- every window orders by (ts, event_id) — event_id is the tiebreak, so
  results are order-insensitive deterministic;
- timestamps are exported as epoch microseconds (``unix_micros`` /
  ``epoch_us``) to avoid timezone-rendering hash mismatches;
- aggregated doubles are rounded to 4 decimals on both sides (double
  summation order differs between engines).
"""

from __future__ import annotations

import functools
import json
import os
import re as _re
import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent))

def _us(col: str):
    """Epoch µs (casts TIMESTAMP_NTZ; session TZ pinned UTC)."""
    return F.unix_micros(F.col(col).cast("timestamp"))


QUERY_TAGS = ("bench", "scale_gate", "eager")


def _tag(**tags):
    """Role tags on a registered ``q_<name>`` query (untagged queries
    play no extra role):

    - ``bench=<group>``: ``bench.py`` times it in ``<group>``; the
      headline ``value`` sums the flagship plus the ``relational``
      group, every other group reports its own ``<group>_sec`` total;
    - ``scale_gate=True``: ``scripts/scale_gate.py`` re-gates it at
      sf0.1 — queries whose rows scale with the sf tables (queries over
      the fixed synth image corpus would re-run bit-identical);
    - ``eager=True``: its constructor runs Spark jobs, so plan-only
      audits (``tests/test_plans.py``) skip it.
    """
    unknown = set(tags) - set(QUERY_TAGS)
    assert not unknown, f"unknown query tags: {sorted(unknown)}"

    def mark(fn):
        fn.tags = tags
        return fn

    return mark


SESSION_GAP_S = 1800
AUGMENT_SEED = 7  # image_augment op-pick seed (query + literal oracle)
TUMBLE_S = 3600
TOP_K = 3


def _ensure_utc(spark: SparkSession) -> None:
    """The driver may run these queries in its own SparkSession; the
    TIMESTAMP_NTZ -> TIMESTAMP casts inside ``_us`` are only wall-clock
    exact under a UTC session timezone (what the DuckDB oracle assumes)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ensure_utc(spark)
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ensure_utc(spark)
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ensure_utc(spark)
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# --------------------------------------------------------------------------
# point-in-time / windowed layer over events (user_id ≙ entity, value ≙ feature)
# --------------------------------------------------------------------------

def _asof_sides(spark: SparkSession, sf_dir: str):
    ev = _events(spark, sf_dir)
    features = ev.filter(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("entity_id"), "ts", "event_id", "value"
    )
    queries = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("entity_id"), "ts", "event_id"
    )
    return queries, features


def _asof_out(joined: DataFrame) -> DataFrame:
    return joined.select(
        F.col("event_id"),
        F.col("entity_id").alias("user_id"),
        _us("ts").alias("ts_us"),
        F.col("value_asof"),
        _us("ts_asof").alias("feature_ts_us"),
    )


@_tag(bench="relational")
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each 'purchase' event sees the latest prior (ts, then
    feature-first, then event_id tiebreak) non-purchase event's value."""
    from pic2vec_spark.ops.asof import asof_join

    queries, features = _asof_sides(spark, sf_dir)
    return _asof_out(
        asof_join(
            queries, features, on="entity_id", ts="ts",
            value_cols=["value"], tiebreak="event_id",
        )
    )


def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a 1-hour tolerance: matches older than 3600s are nulled."""
    from pic2vec_spark.ops.asof import asof_join

    queries, features = _asof_sides(spark, sf_dir)
    return _asof_out(
        asof_join(
            queries, features, on="entity_id", ts="ts",
            value_cols=["value"], tiebreak="event_id", tolerance_s=3600,
        )
    )


def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each purchase sees the EARLIEST non-purchase event
    at-or-after it (smallest event_id among equal-ts features)."""
    from pic2vec_spark.ops.asof import asof_join

    queries, features = _asof_sides(spark, sf_dir)
    return _asof_out(
        asof_join(
            queries, features, on="entity_id", ts="ts",
            value_cols=["value"], tiebreak="event_id", direction="forward",
        )
    )


@_tag(bench="relational")
def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of: closer of backward/forward match; exact time-distance
    tie resolves backward (the leak-free side)."""
    from pic2vec_spark.ops.asof import asof_join

    queries, features = _asof_sides(spark, sf_dir)
    return _asof_out(
        asof_join(
            queries, features, on="entity_id", ts="ts",
            value_cols=["value"], tiebreak="event_id", direction="nearest",
        )
    )


def _multi_asof_joined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared body for the multi-table as-of queries: purchases as the
    spine, clicks and views as two independent feature tables, assembled
    in ONE shuffle by ``asof_join_multi``."""
    from pic2vec_spark.ops.pit import asof_join_multi

    ev = _events(spark, sf_dir)
    spine = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("entity_id"), "ts", "event_id"
    )
    clk = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("entity_id"), "ts", "event_id", "value"
    )
    vw = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("entity_id"), "ts", "event_id", "value"
    )
    return asof_join_multi(
        spine,
        {"clk": clk, "vw": vw},
        on="entity_id",
        ts="ts",
        tiebreaks={"clk": "event_id", "vw": "event_id"},
    )


@_tag(bench="extended_r3")
def q_multi_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-matrix assembly: backward as-of join of the purchase
    spine against TWO feature tables (clicks, views) in one window pass
    — one shuffle total vs one per table when chaining asof_join."""
    joined = _multi_asof_joined(spark, sf_dir)
    return joined.select(
        "event_id",
        F.col("entity_id").alias("user_id"),
        _us("ts").alias("ts_us"),
        F.col("value_clk"),
        F.col("event_id_clk"),
        _us("ts_clk").alias("ts_clk_us"),
        F.col("value_vw"),
        F.col("event_id_vw"),
        _us("ts_vw").alias("ts_vw_us"),
    )


def q_pit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-leakage + staleness audit over the multi-table as-of
    result: per feature table, matched-row counts, the leak count (MUST
    be 0 — proves the zero-temporal-leakage invariant on real data) and
    exact integer-µs staleness extremes/sums."""
    from pic2vec_spark.ops.pit import audit_point_in_time

    joined = _multi_asof_joined(spark, sf_dir)
    return audit_point_in_time(joined, "ts", ["ts_clk", "ts_vw"])


@_tag(bench="extended_r3")
def q_pit_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-matrix backfill grid: each clicking user's latest click
    value as of EVERY epoch-aligned day boundary spanning the click
    history (backward as-of onto an explode(sequence) spine — the
    'features as of every day at 00:00' feature-store pattern)."""
    from pic2vec_spark.ops.pit import backfill_grid

    ev = _events(spark, sf_dir)
    feats = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("entity_id"), "ts", "event_id", "value"
    )
    out = backfill_grid(
        feats, step_s=86_400, value_cols=["value"], tiebreak="event_id"
    )
    return out.select(
        F.col("entity_id").alias("user_id"),
        _us("ts").alias("grid_ts_us"),
        F.col("value_asof"),
        _us("ts_asof").alias("feature_ts_us"),
    )


def q_backward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null out value except on purchases, backward-fill per user (next
    non-null — end-of-history imputation; never for point-in-time
    features, it reads the future)."""
    from pic2vec_spark.ops.windows import backward_fill

    ev = _events(spark, sf_dir).select(
        "event_id",
        F.col("user_id").alias("entity_id"),
        "ts",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias("pval"),
    )
    out = backward_fill(ev, ["pval"], tiebreak="event_id")
    return out.select(
        "event_id",
        F.col("entity_id").alias("user_id"),
        _us("ts").alias("ts_us"),
        F.col("pval_bfill").alias("value_bfill"),
    )


DECAY_TAU_S = 86400


def q_decayed_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event exponentially time-decayed running sum of value (1-day
    tau) — the standard recency-weighted feature, computed in one sorted
    window pass with overflow-proof max-anchored exponents."""
    from pic2vec_spark.ops.windows import decayed_sum

    ev = _events(spark, sf_dir).select(
        "event_id", F.col("user_id").alias("entity_id"), "ts", "value"
    )
    out = decayed_sum(ev, tau_s=DECAY_TAU_S, tiebreak="event_id")
    return out.select(
        "event_id",
        F.col("entity_id").alias("user_id"),
        _us("ts").alias("ts_us"),
        F.col("decayed_sum"),
    )


def q_entity_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score of event value (population stddev), the
    standard per-group feature scaling."""
    from pic2vec_spark.ops.windows import entity_zscore

    ev = _events(spark, sf_dir).select(
        "event_id", F.col("user_id").alias("entity_id"), "value"
    )
    return entity_zscore(ev).select(
        "event_id", F.col("entity_id").alias("user_id"), F.col("value_z")
    )


@_tag(bench="relational")
def q_sliding_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour range window per event: count + avg of value over
    [ts - 1h, ts] within the same user (RANGE frame: equal-ts peers
    included, per the SQL standard — identical in Spark and DuckDB)."""
    from pic2vec_spark.ops.windows import sliding_range_agg

    return sliding_range_agg(
        _events(spark, sf_dir), window_s=3600,
        on="user_id", ts="ts", value_col="value",
    ).select(
        "event_id", "user_id", _us("ts").alias("ts_us"), "n_1h", "avg_1h"
    )


def q_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity profile: distinct event types, totals, first /
    last seen — the distinct-aggregation class (map-side partials for
    the plain aggs, expand+agg for the distinct)."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("user_id").agg(
        F.countDistinct("event_type").alias("n_event_types"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.unix_micros(F.min("ts").cast("timestamp")).alias("first_us"),
        F.unix_micros(F.max("ts").cast("timestamp")).alias("last_us"),
    )


def q_pricing_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus): subtotal and grand-total
    rows alongside the leaf groups (the grouping-sets operator class;
    null-marker columns via grouping())."""
    _ensure_utc(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            # per-row DECIMAL keeps the sum order-proof; the OUTPUT is cast
            # to double (exact here: magnitudes << 2^53) because DuckDB's
            # fetchdf() renders DECIMAL as float64 and the driver gate
            # compares string renderings ('508966.00' != '508966.0').
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("<all>")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("<all>")).alias("linestatus"),
            "n_rows",
            "sum_qty",
        )
    )


@_tag(bench="relational")
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary over lineitem: pushed-down date
    filter, map-side partial aggregation, decimal-exact money sums (per
    row cast to DECIMAL(18,2) on BOTH engines, so summation order can
    never perturb the result)."""
    _ensure_utc(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # per-row decimal casts at the scale each expression is EXACT
            # at (price/qty: 2 decimals; x one 2-dec factor: 4; x two: 6)
            # — no value ever sits on a rounding boundary, so Spark's
            # HALF_UP and DuckDB's half-even can never disagree.
            # final decimal sums are cast to double (exact: magnitudes
            # << 2^53) so Spark's Decimal repr and DuckDB's float64 repr
            # hash identically in the driver gate; the per-row decimal
            # casts above them are what keep summation order-proof.
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_base_price"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
            ).cast("double").alias("sum_disc_price"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")))
                .cast("decimal(18,6)")
            ).cast("double").alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@_tag(bench="extended_r4")
def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: local-supplier revenue per (region, nation) —
    lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈ region with the
    Q5 constraint c_nationkey = s_nationkey.  The two fact tables join
    on their keys; all four dimensions broadcast (Catalyst reorders and
    AQE confirms from runtime sizes), so the only big exchange is
    lineitem⋈orders.  Decimal-exact revenue sums (order-proof), a
    pushed-down date-range filter on the orders scan."""
    _ensure_utc(spark)
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        (F.col("o_orderdate") >= "1994-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    j = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        j.groupBy("r_name", "n_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .withColumn("revenue", F.round("revenue", 2))
    )


@_tag(bench="extended_r4b")
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 unshipped orders by revenue for one
    market segment.  customer (segment-filtered) broadcasts into
    orders, the date filters push into both fact scans, the one big
    exchange is lineitem⋈orders on the order key, and the top-10 is
    TakeOrderedAndProject (per-partition heaps + driver merge of 10
    rows — never a global sort at scale).  Decimal-exact revenue,
    deterministic tiebreak (revenue DESC, date, orderkey)."""
    _ensure_utc(spark)
    cutoff = "1997-06-01"
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_shipdate") > cutoff
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderdate") < cutoff
    )
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
        .withColumn("revenue", F.round("revenue", 2))
        .select(
            "l_orderkey",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
                "o_orderdate_us"
            ),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(
            F.col("revenue").desc(), "o_orderdate_us", "l_orderkey"
        )
        .limit(10)
    )


def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returned
    items in a one-year window.  The return-flag and date filters push
    into the lineitem/orders scans, nation broadcasts, customer
    broadcasts into the post-agg join (grouped rows ≤ customers), and
    the top-20 is TakeOrderedAndProject.  Decimal-exact revenue."""
    _ensure_utc(spark)
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_returnflag") == "R"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    rev = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .withColumn("revenue", F.round("revenue", 2))
    )
    return (
        rev.join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("c_custkey").alias("custkey"),
            "c_name",
            "n_name",
            F.round("c_acctbal", 2).alias("acctbal"),
            "revenue",
            "n_items",
        )
        .orderBy(F.col("revenue").desc(), "custkey")
        .limit(20)
    )


@_tag(bench="relational")
def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by order revenue per nation: broadcast dimension
    joins (customer, nation) onto the orders fact, decimal-exact revenue,
    per-nation top-k via WindowGroupLimit."""
    from pyspark.sql import Window

    _ensure_utc(spark)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    rev = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    w = Window.partitionBy("n_name").orderBy(
        F.col("revenue").desc(), F.col("c_custkey").asc()
    )
    return (
        rev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("n_name", "c_custkey", "c_name", "revenue", "n_orders", "rk")
    )


KMV_K = 16  # below the ~31-token per-source vocab so the ESTIMATOR branch runs


def q_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable rollup cascade: raw events → hourly partials →
    daily FROM the hourly partials (sum-of-sums / count-of-counts /
    min-of-mins / max-of-maxes; avg derived).  The oracle aggregates
    daily DIRECTLY from raw, so a match proves the re-aggregation
    hierarchy is lossless."""
    from pic2vec_spark.ops.rollup import reaggregate, time_rollup

    hourly = time_rollup(_events(spark, sf_dir), "hour")
    daily = reaggregate(hourly, "day")
    return daily.select(
        "user_id",
        F.unix_micros(F.col("bucket_ts").cast("timestamp")).alias("day_us"),
        "n_events",
        F.round(F.col("sum_value").cast("double"), 4).alias("sum_value"),
        "min_value",
        "max_value",
        F.round(F.col("sum_value").cast("double") / F.col("n_events"), 6).alias(
            "avg_value"
        ),
    )


def q_ivm_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (ops/ivm.py): per-(user, event_type)
    totals kept as a decomposable aggregate state.  The query computes
    the state for the base slice (events before 2024-01-20) and the
    delta slice SEPARATELY, merges the two states key-wise, and
    finalizes.  The oracle aggregates the whole table directly, so a
    match proves state merging is lossless — the 100 TB property that a
    landing batch updates the view without rescanning base facts."""
    from pic2vec_spark.ops.ivm import agg_state, finalize_agg, merge_agg_states

    ev = _events(spark, sf_dir)
    cutoff = F.expr("TIMESTAMP_NTZ '2024-01-20 00:00:00'")
    keys = ["user_id", "event_type"]
    base = agg_state(ev.filter(F.col("ts") < cutoff), keys, "value")
    delta = agg_state(ev.filter(F.col("ts") >= cutoff), keys, "value")
    return finalize_agg(merge_agg_states([base, delta], keys), keys)


@_tag(bench="extended_r3")
def q_feature_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-entity feature compaction (ops/asof.py compact_features):
    keep one row per (entity, hour bucket) — the bucket's latest row,
    each value column carrying the bucket's last non-null.  This is the
    pre-aggregation that bounds the as-of window's per-entity state at
    100 TB; equivalence of as-of-over-compacted with as-of-over-raw at
    bucket granularity is pinned in tests/test_asof.py."""
    from pic2vec_spark.ops.asof import compact_features

    compacted = compact_features(
        _events(spark, sf_dir), 3600.0,
        on="user_id", ts="ts", value_cols=["value"], tiebreak="event_id",
    )
    return compacted.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id",
        "value",
    )


@_tag(bench="extended_r3")
def q_daily_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novel-sketch class: fixed-boundary histogram quantiles through
    the rollup CASCADE — raw events → hourly histograms → daily
    histograms from the hourly PARTIALS → p50/p95 from the daily bins.
    The oracle computes the same histogram daily DIRECTLY from raw, so
    a match proves both the sketch determinism and that the cascade
    answers percentiles without touching the raw table (the
    non-decomposable stat the plain rollup can't carry)."""
    from pic2vec_spark.ops.rollup import (
        histogram_quantile,
        histogram_reaggregate,
        histogram_rollup,
    )

    # [0, 500) covers the fixture's value range (max ~490, true p95
    # ~147): quantiles are genuine read-outs, not edge-bin clamps
    hourly = histogram_rollup(_events(spark, sf_dir), "hour", lo=0.0, hi=500.0)
    daily = histogram_reaggregate(hourly, "day")
    return daily.select(
        "user_id",
        F.unix_micros(F.col("bucket_ts").cast("timestamp")).alias("day_us"),
        "n_events",
        histogram_quantile("hist", 0.5, lo=0.0, hi=500.0).alias("p50"),
        histogram_quantile("hist", 0.95, lo=0.0, hi=500.0).alias("p95"),
    )


def q_distinct_tokens_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novel-sketch class: KMV distinct-count estimate of the token
    vocabulary per document source.  The sketch is md5-deterministic,
    so — unlike HLL — the ESTIMATE itself is oracle-checkable."""
    from pic2vec_spark.ops.rollup import kmv_distinct

    terms = _documents(spark, sf_dir).select(
        "source",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"([a-z]+)"), 1)
        ).alias("term"),
    )
    return kmv_distinct(terms, "source", "term", k=KMV_K)


@_tag(bench="extended")
def q_user_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per user (the percentile_cont
    operator class — SQL-standard linear interpolation, identical in
    Spark's percentile() and DuckDB's quantile_cont)."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("user_id").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
        F.round(F.max("value"), 6).alias("vmax"),
    )


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@_tag(bench="extended")
def q_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per-user event counts as columns (explicit value list so
    the schema is static — the scale-correct form: an unlisted pivot
    needs an extra distinct pass and yields data-dependent schemas)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .count()
        .na.fill(0, EVENT_TYPES)
    )


BIG_ORDER_PRICE = 400_000


def q_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join class: customers with no big-ticket order (left_anti
    against the filtered key projection — the filter pushes into the
    orders scan and the fact side is never widened).  The price bound
    makes the result non-trivial at every sf (every customer has SOME
    order in this data)."""
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    big = orders.filter(F.col("o_totalprice") > BIG_ORDER_PRICE).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return customer.join(big, "c_custkey", "left_anti").select(
        "c_custkey", "c_name", "c_nationkey"
    )


def q_user_cohorts_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation class: INTERSECT (users who both clicked and
    purchased) and EXCEPT (users who viewed but never purchased),
    tagged and unioned into one cohort table."""
    ev = _events(spark, sf_dir)

    def users(et: str) -> DataFrame:
        return ev.filter(F.col("event_type") == et).select("user_id").distinct()

    both = users("click").intersect(users("purchase"))
    lookers = users("view").subtract(users("purchase"))
    return both.withColumn("cohort", F.lit("click_and_buy")).unionByName(
        lookers.withColumn("cohort", F.lit("view_no_buy"))
    )


@_tag(bench="extended")
def q_purchase_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction class: pull the numeric field out of
    the JSON props column at scan time (narrow projection) and
    aggregate it per user over purchase events."""
    ev = _events(spark, sf_dir)
    return (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("k", F.get_json_object("props", "$.k").cast("bigint"))
        .groupBy("user_id")
        .agg(
            F.sum("k").alias("sum_k"),
            F.count("k").alias("n_k"),
            F.max("k").alias("max_k"),
        )
    )


ATTRIBUTION_WINDOW_S = 7200


def q_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-join class (1:N point-in-interval, vs the as-of join's
    latest-1:1): every non-purchase event falling inside the 2-hour
    attribution window that FOLLOWS a purchase by the same user.
    Bucketed equi-join formulation — never a per-key cross product."""
    from pic2vec_spark.ops.ranges import range_join

    ev = _events(spark, sf_dir)
    windows = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("w_start"),
        (
            F.col("ts").cast("timestamp")
            + F.expr(f"INTERVAL {ATTRIBUTION_WINDOW_S} SECONDS")
        )
        .cast("timestamp_ntz")
        .alias("w_end"),
    )
    hits = range_join(
        ev.filter(F.col("event_type") != "purchase").select(
            "event_id", "user_id", "ts", "event_type"
        ),
        windows,
        ts="ts",
        start="w_start",
        end="w_end",
        on="user_id",
        bucket_s=float(ATTRIBUTION_WINDOW_S),
    )
    return hits.select(
        "purchase_id", "event_id", "user_id", _us("ts").alias("ts_us"), "event_type"
    )


def q_rolling_5_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-5-ROWS stats per user timeline (ops/windows.
    rolling_rows_agg): the 'mean/std of the last n observations'
    feature family — ROWS frame (event-count), complementing the
    RANGE (time) frame of sliding_1h."""
    from pic2vec_spark.ops.windows import rolling_rows_agg

    ev = _events(spark, sf_dir).select(
        "event_id", F.col("user_id").alias("entity_id"), "ts", "value"
    )
    out = rolling_rows_agg(ev, n=5, col="value", tiebreak="event_id")
    return out.select(
        "event_id",
        F.col("entity_id").alias("user_id"),
        _us("ts").alias("ts_us"),
        "roll_n", "roll_mean", "roll_min", "roll_max", "roll_std",
    )


@_tag(bench="relational")
def q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pic2vec_spark.ops.windows import lag_lead

    ev = _events(spark, sf_dir).select(
        "event_id", F.col("user_id").alias("entity_id"), "ts", "value"
    )
    out = lag_lead(ev, "value", k=1, tiebreak="event_id")
    return out.select(
        "event_id",
        F.col("entity_id").alias("user_id"),
        _us("ts").alias("ts_us"),
        "value",
        F.col("value_lag_1").alias("value_lag"),
        F.col("value_lead_1").alias("value_lead"),
    )


@_tag(bench="relational")
def q_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null out value except on purchases, forward-fill per user."""
    from pic2vec_spark.ops.windows import forward_fill

    ev = _events(spark, sf_dir).select(
        "event_id",
        F.col("user_id").alias("entity_id"),
        "ts",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias("pval"),
    )
    out = forward_fill(ev, ["pval"], tiebreak="event_id")
    return out.select(
        "event_id",
        F.col("entity_id").alias("user_id"),
        _us("ts").alias("ts_us"),
        F.col("pval_ffill").alias("value_ffill"),
    )


@_tag(bench="extended_r5b", scale_gate=True)
def q_resample_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each user's irregular event values onto a regular 6h
    grid with linear interpolation between the surrounding
    observations (NULL outside the observed span — never
    extrapolates).  One narrow explode(sequence) spine + one
    entity-hash exchange + two framed passes of the same sorted
    window; the missing member of the ffill/bfill family."""
    from pic2vec_spark.ops.windows import resample_interpolate

    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("entity_id"), "ts", "event_id", "value"
    )
    out = resample_interpolate(ev, step_s=21600, tiebreak="event_id")
    return out.select(
        F.col("entity_id").alias("user_id"),
        _us("ts").alias("ts_us"),
        "value_interp",
    )


@_tag(bench="extended_r5b", scale_gate=True)
def q_twap_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average value (trapezoidal integral of
    the piecewise-linear curve over the observed span) — the
    burst-robust mean; one entity exchange, aggregate reuses the
    window's partitioning."""
    from pic2vec_spark.ops.windows import time_weighted_avg

    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("entity_id"), "ts", "event_id", "value"
    )
    out = time_weighted_avg(ev, tiebreak="event_id")
    return out.select(
        F.col("entity_id").alias("user_id"), "n_obs", "twap"
    )


@_tag(bench="extended_r5b", scale_gate=True)
def q_pit_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sort multi-feature point-in-time training matrix: six
    trailing features — lag-1 value, last-5-rows mean, running sum,
    prior-event count, trailing-1h count and mean — computed over the
    FULL event stream, then only the purchase rows (the query points)
    are kept.  Every frame is trailing, so zero temporal leakage by
    construction.  All windows share ONE entity exchange and ONE sort:
    the ROWS frames order by (ts_us, event_id) and the RANGE frame's
    (ts_us) ordering is a satisfied prefix of it — the feature-store
    pattern where adding a feature costs a frame, not a shuffle."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value", _us("ts").alias("ts_us")
    )
    wr = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    w5 = wr.rowsBetween(-4, 0)
    wcum = wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wh = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, 0)
    )
    x = (
        ev.withColumn("value_lag_1", F.lag("value").over(wr))
        .withColumn("avg_5", F.round(F.avg("value").over(w5), 6))
        .withColumn("sum_cum", F.round(F.sum("value").over(wcum), 6))
        .withColumn(
            "n_prior", (F.row_number().over(wr) - 1).cast("long")
        )
        .withColumn("n_1h", F.count("value").over(wh))
        .withColumn("avg_1h", F.round(F.avg("value").over(wh), 6))
    )
    return x.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us",
        "value_lag_1", "avg_5", "sum_cum", "n_prior", "n_1h", "avg_1h",
    )


@_tag(bench="extended_r5b", scale_gate=True)
def q_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily open/high/low/close downsample of the value
    stream — ONE hash aggregate (max/min of struct(ts, tiebreak, v)
    finds open/close without a window sort), map-side partial combine,
    no shuffle of the raw stream."""
    from pic2vec_spark.ops.windows import ohlc_agg

    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("entity_id"), "ts", "event_id", "value"
    )
    out = ohlc_agg(ev, bucket_s=86400, tiebreak="event_id")
    return out.select(
        F.col("entity_id").alias("user_id"),
        _us("bucket_start").alias("bucket_us"),
        "open", "high", "low", "close", "n_obs",
    )


_TREND_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01, keeps x well-scaled


@_tag(bench="extended_r5b", scale_gate=True)
def q_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user least-squares trend of value over time via the SQL
    regr_* aggregates (x = days since 2024-01-01): slope, intercept,
    R² in one hash aggregate with map-side partials — the trend
    feature of a feature store, no window, no collect."""
    ev = _events(spark, sf_dir)
    xd = (_us("ts") - F.lit(_TREND_EPOCH_US)) / F.lit(86_400_000_000.0)
    y = F.col("value")
    return ev.groupBy("user_id").agg(
        F.count("value").alias("n_obs"),
        F.regr_slope(y, xd).alias("slope"),
        F.regr_intercept(y, xd).alias("intercept"),
        F.regr_r2(y, xd).alias("r2"),
    )


@_tag(bench="extended_r3")
def q_events_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (z-order) layout key over two bucketed dimensions —
    user bucket x hour-of-epoch bucket — the write-side clustering key
    that lets per-file min/max statistics prune multi-dimensional box
    predicates.  The key arithmetic is ONE generated SQL string
    (zorder_sql) evaluated verbatim by both engines."""
    from pic2vec_spark.ops.layout import zorder_sql

    ev = _events(spark, sf_dir)
    t = ev.select(
        "event_id",
        (F.col("user_id") % 256).alias("zx"),
        F.expr(
            "(unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000) % 256"
        ).alias("zy"),
    )
    return t.withColumn("zkey", F.expr(zorder_sql(["zx", "zy"], bits=8)))


def _scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pic2vec_spark.ops.scd import scd2_compress

    ev = _events(spark, sf_dir)
    return scd2_compress(
        ev, ["user_id"], ["event_type"], ts="ts", tiebreak="event_id"
    )


@_tag(bench="extended_r3")
def q_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history compression: collapse each user's consecutive runs
    of the same event_type into validity intervals [valid_from,
    valid_to) with per-key version ordinals and collapsed-row counts
    (gaps-and-islands over one entity exchange)."""
    comp = _scd2_user_state(spark, sf_dir)
    return comp.select(
        "user_id",
        "event_type",
        _us("valid_from").alias("valid_from_us"),
        _us("valid_to").alias("valid_to_us"),
        "version",
        "n_obs",
        "is_current",
    )


def q_scd2_state_mid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time state read from compressed SCD2 history: every
    user's state as of Jan 15 by interval containment — a narrow
    filter, no as-of join, which is the payoff of storing SCD2."""
    from pic2vec_spark.ops.scd import scd2_state_at

    comp = _scd2_user_state(spark, sf_dir)
    at = "2024-01-15 00:00:00"
    return scd2_state_at(comp, at).select(
        "user_id",
        "event_type",
        _us("valid_from").alias("valid_from_us"),
        "version",
    )


@_tag(bench="relational")
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pic2vec_spark.ops.windows import sessionize

    ev = _events(spark, sf_dir).select(
        "event_id", F.col("user_id").alias("entity_id"), "ts"
    )
    out = sessionize(ev, gap_s=SESSION_GAP_S, tiebreak="event_id")
    return out.select(
        "event_id",
        F.col("entity_id").alias("user_id"),
        _us("ts").alias("ts_us"),
        "session_id",
    )


@_tag(bench="relational")
def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session aggregates on top of sessionize (count, span, avg value)."""
    from pic2vec_spark.ops.windows import sessionize

    ev = _events(spark, sf_dir).select(
        "event_id", F.col("user_id").alias("entity_id"), "ts", "value"
    )
    out = sessionize(ev, gap_s=SESSION_GAP_S, tiebreak="event_id")
    return (
        out.groupBy("entity_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_micros(F.min("ts").cast("timestamp")).alias("start_us"),
            F.unix_micros(F.max("ts").cast("timestamp")).alias("end_us"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .select(
            F.col("entity_id").alias("user_id"),
            "session_id",
            "n_events",
            "start_us",
            "end_us",
            "avg_value",
        )
    )


@_tag(bench="relational")
def q_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pic2vec_spark.ops.windows import tumbling_agg

    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("entity_id"), "ts", "value"
    )
    out = tumbling_agg(
        ev,
        window_s=TUMBLE_S,
        aggs={"n_events": ("count", "*"), "sum_value": ("sum", "value")},
    )
    return out.select(
        F.col("entity_id").alias("user_id"),
        "window_start_us",
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
    )


@_tag(bench="relational")
def q_topk_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pic2vec_spark.ops.windows import topk_per_entity

    ev = _events(spark, sf_dir).select(
        "event_id", F.col("user_id").alias("entity_id"), "value"
    )
    out = topk_per_entity(ev, "value", TOP_K, tiebreak="event_id")
    return out.select(
        "event_id", F.col("entity_id").alias("user_id"), "value", "rk"
    )


# --------------------------------------------------------------------------
# flagship: CNN featurize + point-in-time as-of join
# --------------------------------------------------------------------------

N_FLAGSHIP_IMAGES = 256


def _timeline_from_events(spark: SparkSession, sf_dir: str, n_images: int) -> DataFrame:
    """events → entity timeline: non-purchase events observe an image
    (deterministic FK event_id % n_images); purchases are as-of queries."""
    ev = _events(spark, sf_dir)
    img_id = F.concat(
        F.lit("img_"),
        F.lpad((F.col("event_id") % n_images).cast("string"), 9, "0"),
    )
    return ev.select(
        F.col("user_id").alias("entity_id"),
        "ts",
        F.when(F.col("event_type") != "purchase", img_id).alias("image_id"),
        F.when(F.col("event_type") == "purchase", F.lit("query"))
        .otherwise(F.lit("feature"))
        .alias("kind"),
        F.col("event_id").alias("row_id"),
    )


@_tag(eager=True)
def q_pit_featurize_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: synth images → dedup → NumPy-SqueezeNet featurize →
    join to event timeline → as-of join (zero temporal leakage).
    Not SQL-expressible (CNN) → driver records a rows-only check;
    numeric correctness is pinned by tests/test_featurize.py +
    tests/test_pipeline.py against the single-machine NumPy oracle."""
    from pic2vec_spark.pipeline import point_in_time_features
    from pic2vec_spark.plan import FeaturizerPlan
    from pic2vec_spark.synth import synth_images_df

    images = synth_images_df(spark, N_FLAGSHIP_IMAGES, seed=42)
    timeline = _timeline_from_events(spark, sf_dir, N_FLAGSHIP_IMAGES)
    plan = FeaturizerPlan.build("squeezenet", depth=1, autosample=True)
    out = point_in_time_features(images, timeline, plan)
    # The driver canonicalizes with pandas sort_values over ALL columns,
    # which cannot hash/sort array cells — so the feature vector is
    # projected to scalars: a round-5 md5 digest of the whole vector
    # (order-sensitive, catches any element change) plus the first four
    # elements as spot-check scalars.  The full-vector numeric pin lives
    # in tests/test_featurize.py / test_pipeline.py vs the NumPy oracle.
    feats_r5 = F.transform("features_asof", lambda x: F.round(x, 5))
    return out.select(
        F.col("row_id").alias("event_id"),
        F.col("entity_id").alias("user_id"),
        _us("ts").alias("ts_us"),
        F.col("image_id_asof"),
        F.col("missing_asof"),
        F.coalesce(F.md5(F.to_json(feats_r5)), F.lit("<missing>")).alias(
            "features_md5"
        ),
        F.round(F.col("features_asof")[0], 5).alias("feat_0"),
        F.round(F.col("features_asof")[1], 5).alias("feat_1"),
        F.round(F.col("features_asof")[2], 5).alias("feat_2"),
        F.round(F.col("features_asof")[3], 5).alias("feat_3"),
    )


@_tag(bench="extended_r4")
def q_pit_asof_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Companion oracle for the flagship: the SAME images / timeline /
    plan / point_in_time_features path as q_pit_featurize_asof, projected
    to the SQL-expressible alignment columns (event_id, user_id, ts_us,
    image_id_asof, missing_asof).  Only the CNN feature VALUES are
    SQL-inexpressible — this row pins the flagship's dedup→join-back→
    as-of alignment end-to-end against a DuckDB window oracle (same
    (ts, side, event_id) tiebreak as the asof_join oracle), leaving
    feature numerics to the pytest NumPy oracle."""
    from pic2vec_spark.pipeline import point_in_time_features
    from pic2vec_spark.plan import FeaturizerPlan
    from pic2vec_spark.synth import synth_images_df

    images = synth_images_df(spark, N_FLAGSHIP_IMAGES, seed=42)
    timeline = _timeline_from_events(spark, sf_dir, N_FLAGSHIP_IMAGES)
    plan = FeaturizerPlan.build("squeezenet", depth=1, autosample=True)
    out = point_in_time_features(images, timeline, plan)
    return out.select(
        F.col("row_id").alias("event_id"),
        F.col("entity_id").alias("user_id"),
        _us("ts").alias("ts_us"),
        "image_id_asof",
        # totalized: a query with NO as-of observation is missing too;
        # matched refs carry featurize's decode-failure flag (the synth
        # corpus plants ~5% corrupt/empty/gif — the oracle embeds that
        # deterministic bad-id set as literals).  Keeps the column a
        # defined boolean the driver canonicalization hashes stably.
        F.coalesce(F.col("missing_asof"), F.lit(True)).alias("missing_asof"),
    )


@_tag(bench="extended_r5b", scale_gate=True)
def q_pit_curated_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation propagated through the point-in-time join with zero
    temporal leakage: the timeline's feature side is screened by the
    image quality rule suite FIRST (only rule-passing images are
    observable), so a query whose latest image fails a screen falls
    back to the previous PASSING image — never forward to a leaked
    future one.  This is the axes-A+B composition in one row: upstream
    curation decisions change which observations exist, and the as-of
    alignment must respect that under the same (ts, side, tiebreak)
    order.  Plan: broadcast semi-join of the ≤n_images passing-id set
    into the feature scan (narrow), then the single-exchange as-of.
    Oracle: the flagship alignment window oracle with the rules
    literals as the feature-side filter."""
    from pic2vec_spark.ops.asof import asof_join
    from pic2vec_spark.ops.multimodal import image_quality_rules
    from pic2vec_spark.synth import synth_images_df

    images = synth_images_df(spark, N_FLAGSHIP_IMAGES, seed=42)
    passing = (
        image_quality_rules(images).filter(F.col("passes")).select("image_id")
    )
    tl = _timeline_from_events(spark, sf_dir, N_FLAGSHIP_IMAGES)
    feats = (
        tl.filter(F.col("kind") == "feature")
        .join(F.broadcast(passing), "image_id", "semi")
        .select("entity_id", "ts", "image_id", "row_id")
    )
    qrs = tl.filter(F.col("kind") == "query").select(
        "entity_id", "ts", F.col("row_id").alias("event_id")
    )
    out = asof_join(
        qrs, feats, on="entity_id", ts="ts",
        value_cols=["image_id"], tiebreak="row_id",
    )
    return out.select(
        "event_id",
        F.col("entity_id").alias("user_id"),
        _us("ts").alias("ts_us"),
        "image_id_asof",
    )


# --------------------------------------------------------------------------
# training-data pipeline layer: dedup / text analysis / similarity search
# --------------------------------------------------------------------------

JACCARD_N = 3
JACCARD_THRESHOLD = 0.5
MINHASH_K = 16
MINHASH_BANDS = 4
KNN_K = 5
KNN_QUERIES = 8
NEARDUP_COS = 0.4
# the cross-modal conflict composition runs the hyperplane LSH at this
# LSH-hostile low threshold (0.4 ~ 66deg: boundary-pair recall per table
# is low), so it uses EXTRA tables — (1-p)^16 vs (1-p)^8 miss rate —
# to cut embedding-near pairs misclassified as text_near_embedding_far
CONFLICTS_LSH_TABLES = 16
SIMHASH_MAXDIST = 6


def q_doc_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pic2vec_spark.ops.text import token_count

    return token_count(_documents(spark, sf_dir)).select(
        "doc_id", "n_tokens", "n_distinct_tokens", "n_subwords"
    )


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pic2vec_spark.ops.text import quality_score

    return quality_score(_documents(spark, sf_dir)).select(
        "doc_id", "n_tokens", "stop_ratio", "punct_ratio", "mean_tok_len", "quality"
    )


@_tag(bench="extended_r4b")
def q_doc_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rules quality filter (Rae et al. 2021): seven per-rule
    total booleans + their conjunction, every metric a closed-form
    round-4 Catalyst expression (zero shuffle, scan-speed — see
    ops/text.gopher_quality_flags)."""
    from pic2vec_spark.ops.text import gopher_quality_flags

    return gopher_quality_flags(_documents(spark, sf_dir)).select(
        "doc_id", "n_words", "mean_word_len", "symbol_ratio",
        "bullet_frac", "ellipsis_frac", "alpha_frac", "n_stopwords",
        "rule_word_count", "rule_mean_word_len", "rule_symbol_ratio",
        "rule_bullet", "rule_ellipsis", "rule_alpha", "rule_stopwords",
        "gopher_keep",
    )


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition filter: TTR,
    top-token/bigram mass, duplicate-trigram fraction, keep flag —
    a zero-shuffle narrow projection (see ops/text.repetition_stats)."""
    from pic2vec_spark.ops.text import repetition_stats

    return repetition_stats(_documents(spark, sf_dir)).select(
        "doc_id",
        "n_tokens",
        "ttr",
        "top_token_frac",
        "top_bigram_frac",
        "dup_trigram_frac",
        "repetition_keep",
    )


def q_doc_shared_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document passage sharing (token-8-gram exact-substring
    dedup signal, Lee et al. 2021 style): per doc, distinct 8-grams,
    how many appear in >= 2 docs, and the shared fraction."""
    from pic2vec_spark.ops.text import shared_ngram_stats

    return shared_ngram_stats(_documents(spark, sf_dir), n=8)


def q_doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pic2vec_spark.ops.text import lang_id

    return lang_id(_documents(spark, sf_dir)).select(
        "doc_id", "en_marker_ratio", "lang_pred"
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pic2vec_spark.ops.text import fingerprint

    return fingerprint(_documents(spark, sf_dir)).select(
        "doc_id", "fp_md5", "fp_int"
    )


@_tag(scale_gate=True)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pic2vec_spark.ops.dedup import exact_dedup

    return exact_dedup(_documents(spark, sf_dir), "doc_id", "text")


@_tag(bench="extended_r4", scale_gate=True)
def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pic2vec_spark.ops.dedup import jaccard_pairs

    return jaccard_pairs(
        _documents(spark, sf_dir), "doc_id", "text",
        n=JACCARD_N, threshold=JACCARD_THRESHOLD,
    )


@_tag(bench="extended", scale_gate=True)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pic2vec_spark.ops.dedup import lsh_candidate_pairs

    return lsh_candidate_pairs(
        _documents(spark, sf_dir), "doc_id", "text",
        n_hashes=MINHASH_K, bands=MINHASH_BANDS, shingle_n=JACCARD_N,
    )


@_tag(bench="extended_r5", scale_gate=True)
def q_dedup_lsh_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup-index maintenance: build the persisted LSH
    bucket index on HALF the corpus, append the other half (new
    prefix-partitioned files only — originals carried forward untouched,
    family digest-verified), then emit the candidate pairs from the
    stored buckets alone.  Must equal dedup_minhash_lsh over the FULL
    corpus — the same oracle pins build+append == one-shot rebuild."""
    import shutil
    import tempfile

    from pic2vec_spark.ops.dedup_store import (
        append_to_lsh_dedup_index,
        build_lsh_dedup_index,
        neardup_pairs_from_index,
    )

    docs = _documents(spark, sf_dir).select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="drv_lsh_app_")
    try:
        build_lsh_dedup_index(
            docs.filter(F.col("doc_id") % 2 == 0), root, spark,
            n_hashes=MINHASH_K, bands=MINHASH_BANDS, shingle_n=JACCARD_N,
        )
        append_to_lsh_dedup_index(
            docs.filter(F.col("doc_id") % 2 == 1), root, spark
        )
        # pairs read temp index files deleted in finally — land the
        # (small, pair-list) result before cleanup
        return spark.createDataFrame(
            neardup_pairs_from_index(root, spark).toPandas()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@_tag(bench="extended_r5", scale_gate=True)
def q_dedup_lsh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup gate: probe an incoming batch (odd doc_ids)
    against the persisted index of the existing corpus (even doc_ids)
    BEFORE appending — candidate pairs touching the batch, computed with
    zero corpus re-shingling (broadcast batch buckets × file-pruned
    index scan).  Oracle: the full-corpus LSH pair set restricted to
    pairs with an odd side."""
    import shutil
    import tempfile

    from pic2vec_spark.ops.dedup_store import (
        build_lsh_dedup_index,
        probe_lsh_dedup_index,
    )

    docs = _documents(spark, sf_dir).select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="drv_lsh_inc_")
    try:
        build_lsh_dedup_index(
            docs.filter(F.col("doc_id") % 2 == 0), root, spark,
            n_hashes=MINHASH_K, bands=MINHASH_BANDS, shingle_n=JACCARD_N,
        )
        return spark.createDataFrame(
            probe_lsh_dedup_index(
                root, spark, docs.filter(F.col("doc_id") % 2 == 1)
            ).toPandas()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _reingest_batch(docs: DataFrame) -> DataFrame:
    """Deterministic ingest batch for the digest-index gates: the odd
    half of the corpus (genuinely new) plus every doc_id % 10 == 0
    document re-keyed +1_000_000 (a byte-identical re-ingest of already
    committed text — the synthetic corpus has no natural exact dups)."""
    return docs.filter(F.col("doc_id") % 2 == 1).unionByName(
        docs.filter(F.col("doc_id") % 10 == 0).withColumn(
            "doc_id", F.col("doc_id") + F.lit(1_000_000)
        )
    )


@_tag(bench="extended_r5", scale_gate=True)
def q_dedup_digest_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental EXACT-dedup index: build the persisted digest index
    on the even half, append the odd half plus a re-keyed re-ingest
    slice (new prefix-partitioned files only), then emit duplicate
    groups from the stored digests alone.  Must equal exact_dedup over
    the same (corpus ∪ re-ingest) union — build+append == one-shot."""
    import shutil
    import tempfile

    from pic2vec_spark.ops.dedup_store import (
        append_to_digest_dedup_index,
        build_digest_dedup_index,
        duplicate_groups_from_index,
    )

    docs = _documents(spark, sf_dir).select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="drv_dig_app_")
    try:
        build_digest_dedup_index(
            docs.filter(F.col("doc_id") % 2 == 0), root, spark
        )
        append_to_digest_dedup_index(_reingest_batch(docs), root, spark)
        return spark.createDataFrame(
            duplicate_groups_from_index(root, spark).toPandas()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@_tag(bench="extended_r5", scale_gate=True)
def q_dedup_digest_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time exact-dup gate: probe the incoming batch against the
    persisted digest index of the committed corpus (even doc_ids) — one
    (doc_id, keep_id) row per batch document whose normalized text is
    byte-identical to a committed one, with zero corpus re-hashing
    (broadcast batch digests × file-pruned index scan).  The hits are
    exactly the re-keyed re-ingest slice; keep_id is the original id."""
    import shutil
    import tempfile

    from pic2vec_spark.ops.dedup_store import (
        build_digest_dedup_index,
        probe_digest_dedup_index,
    )

    docs = _documents(spark, sf_dir).select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="drv_dig_prb_")
    try:
        build_digest_dedup_index(
            docs.filter(F.col("doc_id") % 2 == 0), root, spark
        )
        return spark.createDataFrame(
            probe_digest_dedup_index(
                root, spark, _reingest_batch(docs)
            ).toPandas()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@_tag(bench="extended_r5", scale_gate=True)
def q_dedup_gate_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full one-call ingest gate: both persisted indexes built on
    the committed corpus (even doc_ids), then the incoming batch (odd
    ∪ re-keyed re-ingest slice) is classified exact_dup / near_dup /
    new in one pass — exact wins over near, keep_id = the committed
    doc it duplicates — and the survivors are appended to both indexes.
    Oracle recomputes the same classification from the digest join and
    the full LSH pair set restricted to odd-even pairs."""
    import shutil
    import tempfile

    from pic2vec_spark.ops.dedup_store import (
        build_digest_dedup_index,
        build_lsh_dedup_index,
        ingest_gate,
    )

    docs = _documents(spark, sf_dir).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    droot = tempfile.mkdtemp(prefix="drv_gate_dig_")
    lroot = tempfile.mkdtemp(prefix="drv_gate_lsh_")
    try:
        build_digest_dedup_index(corpus, droot, spark)
        build_lsh_dedup_index(
            corpus, lroot, spark,
            n_hashes=MINHASH_K, bands=MINHASH_BANDS, shingle_n=JACCARD_N,
        )
        return spark.createDataFrame(
            ingest_gate(
                _reingest_batch(docs), droot, lroot, spark
            ).toPandas()
        )
    finally:
        shutil.rmtree(droot, ignore_errors=True)
        shutil.rmtree(lroot, ignore_errors=True)


@_tag(bench="extended", scale_gate=True)
def q_doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pic2vec_spark.ops.dedup import simhash

    return simhash(_documents(spark, sf_dir), "doc_id", "text")


@_tag(scale_gate=True)
def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pic2vec_spark.ops.dedup import hamming_neardup_pairs, simhash

    sim = simhash(_documents(spark, sf_dir), "doc_id", "text")
    return hamming_neardup_pairs(sim, "doc_id", max_distance=SIMHASH_MAXDIST)


@_tag(scale_gate=True, eager=True)
def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-level near-dup → actionable duplicate GROUPS: connected
    components over the simhash near-dup pairs (min-label propagation;
    pairs chain, so survivors must be picked per component).  Output:
    (doc_id, cluster_id=component min)."""
    from pic2vec_spark.ops.dedup import neardup_clusters

    return neardup_clusters(q_simhash_neardup(spark, sf_dir))


DEDUP_N_SHARDS = 8


@_tag(bench="extended_r5d", eager=True)
def q_dedup_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware sharding (ops/dedup.cluster_coherent_shards):
    every document shards on its cluster representative, so no
    near-dup cluster ever straddles a shard — the invariant that makes
    per-shard survivor selection equal global selection (pinned by
    pytest) and keeps the 100 TB dedup map-side.  Oracle: the
    recursive-CTE cluster labels + the portable md5-bucket
    expression."""
    from pic2vec_spark.ops.dedup import cluster_coherent_shards

    docs = _documents(spark, sf_dir).select("doc_id")
    clusters = q_neardup_clusters(spark, sf_dir)
    return cluster_coherent_shards(
        docs, "doc_id", clusters, n_shards=DEDUP_N_SHARDS
    ).select("doc_id", "shard_id")


TRIPLET_N_NEG = 4
TRIPLET_POOL = 256


@_tag(bench="extended_r5d", eager=True)
def q_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive triplet mining
    (ops/dedup.contrastive_triplets): simhash near-dup pairs as
    anchor+positive, 4 md5-slot negatives each from the bounded
    256-doc pool, with anchor-cluster members screened out (the
    false-negative poison).  Oracle: the pair + recursive-CTE cluster
    member oracles composed with the identical slot arithmetic."""
    from pic2vec_spark.ops.dedup import contrastive_triplets

    return contrastive_triplets(
        q_simhash_neardup(spark, sf_dir),
        _documents(spark, sf_dir).select("doc_id"),
        "doc_id",
        clusters=q_neardup_clusters(spark, sf_dir),
        n_neg=TRIPLET_N_NEG,
        pool_size=TRIPLET_POOL,
    )


@_tag(scale_gate=True, eager=True)
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end dedup recipe: keep ONE document per near-dup
    cluster (the min doc_id) plus every unpaired document — an
    anti-join of the corpus against non-canonical cluster members, so
    singletons are never materialized.  Output: surviving doc_ids."""
    clusters = q_neardup_clusters(spark, sf_dir)
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return (
        _documents(spark, sf_dir)
        .select("doc_id")
        .join(drop, "doc_id", "left_anti")
    )


def q_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/test split: every member of a near-dup
    cluster is keyed by its cluster REPRESENTATIVE (component min;
    singletons by their own id) before the md5 split — so near-
    duplicates can never straddle train and test, the duplicate-leakage
    hole a naive per-row split leaves open (Lee et al. 2021).  Output:
    (doc_id, rep, split)."""
    from pic2vec_spark.ops.sampling import hash_split

    clusters = q_neardup_clusters(spark, sf_dir)
    rep = (
        _documents(spark, sf_dir)
        .select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id", F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("rep")
        )
    )
    return hash_split(rep, key_col="rep", test_pct=10, salt="split")


@_tag(bench="extended_r4", scale_gate=True)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder containment C(A→B) = |A∩B| / |A| over shingle sets
    (ops/dedup.containment_pairs): the asymmetric dedup criterion that
    catches a document QUOTED or wholly included in a larger one, which
    Jaccard misses when the container dwarfs the contained.  Directed
    output (id_small → id_big)."""
    from pic2vec_spark.ops.dedup import containment_pairs

    return containment_pairs(
        _documents(spark, sf_dir), "doc_id", "text",
        n=JACCARD_N, threshold=0.5,
    )


DUP_SPAN_W = 8


@_tag(bench="extended_r4", scale_gate=True)
def q_doc_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring dedup (Lee et al. 2021 class): maximal
    token spans whose 8-token windows repeat anywhere in the corpus —
    the boilerplate-span stripper whole-doc/near-dup dedup misses
    (ops/dedup.duplicate_substring_spans: window digests -> grouped
    count -> per-doc island merge; never all-pairs)."""
    from pic2vec_spark.ops.dedup import duplicate_substring_spans

    out = duplicate_substring_spans(
        _documents(spark, sf_dir), "doc_id", "text", w=DUP_SPAN_W
    )
    return out.select(
        "doc_id",
        F.col("span_start").cast("bigint").alias("span_start"),
        F.col("span_end").cast("bigint").alias("span_end"),
        F.col("span_len").cast("bigint").alias("span_len"),
        "n_dup_windows",
    )


@_tag(bench="extended_r4", scale_gate=True)
def q_doc_dup_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-token fraction (the threshold metric for
    span-level dedup: trim/drop docs > X% corpus-duplicated) — sums the
    disjoint maximal spans of doc_dup_spans over per-doc token counts
    (ops/dedup.duplicate_token_fraction)."""
    from pic2vec_spark.ops.dedup import duplicate_token_fraction

    return duplicate_token_fraction(
        _documents(spark, sf_dir), "doc_id", "text", w=DUP_SPAN_W
    )


@_tag(bench="extended")
def q_doc_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level tf-idf top-3 terms per document (term extraction →
    tf agg → vocabulary-sized idf broadcast join → WindowGroupLimit
    top-k)."""
    from pic2vec_spark.ops.text import tf_idf_top_terms

    return tf_idf_top_terms(_documents(spark, sf_dir), "doc_id", "text", k=3)


@_tag(bench="extended")
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-bucket train/test assignment (stable under
    repartitions and incremental appends; no RNG)."""
    from pic2vec_spark.ops.sampling import hash_split

    return hash_split(
        _documents(spark, sf_dir).select("doc_id"), "doc_id", test_pct=10
    )


@_tag(bench="extended_r4b")
def q_kfold_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold assignment over documents (md5-bucket %
    k — no RNG, stable under repartition/append/rerun)."""
    from pic2vec_spark.ops.sampling import kfold_assign

    return kfold_assign(
        _documents(spark, sf_dir).select("doc_id"), "doc_id", k=5
    )


def q_kfold_group_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP 5-fold over events: the fold is hashed from user_id, so
    every event of a user lands in one fold — the leakage guard for
    entity-grouped data."""
    from pic2vec_spark.ops.sampling import kfold_assign

    return kfold_assign(
        _events(spark, sf_dir).select("event_id", "user_id"),
        "event_id",
        k=5,
        group_col="user_id",
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20% per-source document sample with EXACT
    per-stratum proportions (hash-ranked, not Bernoulli)."""
    from pic2vec_spark.ops.sampling import stratified_sample

    return stratified_sample(
        _documents(spark, sf_dir).select("doc_id", "source"),
        stratum_col="source",
        key_col="doc_id",
        fraction=0.2,
    )


@_tag(bench="extended_r3c")
def q_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint suite (ops/quality.py): five expectations
    over events evaluated in ONE aggregation pass, plus a referential-
    integrity check against the customer dimension — the validation
    layer a pipeline runs before training jobs consume a snapshot."""
    from pic2vec_spark.ops.quality import (
        check_constraints,
        check_foreign_key,
        in_range,
        matches,
        not_null,
        unique,
    )

    ev = _events(spark, sf_dir)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    report = check_constraints(
        ev,
        [
            not_null("event_id"),
            not_null("value"),
            in_range("value", 0, 300),
            matches("event_type", "^[a-z_]+$"),
            unique("event_id"),
        ],
    )
    return report.unionByName(
        check_foreign_key(ev, "user_id", cust, "c_custkey")
    )


def _pii_text(doc_id, text):
    """Deterministic PII injection shared (in shape) with the oracle:
    the synthetic corpus has no organic PII, so the query plants one of
    each kind on a doc_id schedule to exercise every pattern."""
    return F.concat(
        text,
        F.when(
            doc_id % 7 == 0,
            F.concat(F.lit(" mail user"), doc_id.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(doc_id % 5 == 0, F.lit(" call +1 (415) 555-0199")).otherwise(F.lit("")),
        F.when(doc_id % 4 == 0, F.lit(" host 192.168.1.77")).otherwise(F.lit("")),
        F.when(doc_id % 9 == 0, F.lit(" id 123-45-6789")).otherwise(F.lit("")),
    )


@_tag(bench="extended_r4")
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (ops/text.scrub_pii): plant one of each PII kind
    on a doc_id schedule, then scrub — emails/SSNs/IPv4s/phones become
    <KIND> tokens with per-kind counts; pure narrow regex projection."""
    from pic2vec_spark.ops.text import scrub_pii

    docs = _documents(spark, sf_dir).select(
        "doc_id", _pii_text(F.col("doc_id"), F.col("text")).alias("text")
    )
    out = scrub_pii(docs)
    return out.select(
        "doc_id", "pii_email", "pii_ssn", "pii_ipv4", "pii_phone",
        "pii_total", "text_clean",
    )


def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate removal (ops/text.strip_boilerplate):
    plant a cookie banner / copyright footer on doc_id schedules (the
    single-line synthetic corpus has no organic template chrome), then
    strip lines appearing in > 5% of docs, preserving surviving-line
    order."""
    from pic2vec_spark.ops.text import strip_boilerplate

    doc_id = F.col("doc_id")
    text3 = F.concat(
        F.when(doc_id % 3 == 0, F.lit("ACCEPT COOKIES TO CONTINUE\n")).otherwise(
            F.lit("")
        ),
        F.col("text"),
        F.when(doc_id % 4 == 0, F.lit("\nCOPYRIGHT FOOTER 2024")).otherwise(
            F.lit("")
        ),
    )
    docs = _documents(spark, sf_dir).select("doc_id", text3.alias("text"))
    return strip_boilerplate(docs, max_doc_frac=0.05)


def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixture sampling (ops/sampling.temperature_sample):
    a deliberately skewed source column (docs < 300 collapse to one
    'big' source) sampled at alpha=0.5 toward a 200-row budget — the
    mT5-style dial that keeps small sources represented.  Budgets =
    floor(round(total * n^alpha / Z, 6)), rows by md5 rank."""
    from pic2vec_spark.ops.sampling import temperature_sample

    docs = _documents(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") < 300, F.lit("big"))
        .otherwise(F.col("source"))
        .alias("source"),
    )
    return temperature_sample(docs, "source", "doc_id", alpha=0.5, total=200)


MIXTURE_ALPHA = 0.3
MIXTURE_BUDGET = 500_000
MIXTURE_SAMPLE_BUDGET = 5_000  # small enough to force real prefix cuts at sf0.01


@_tag(bench="extended_r5d", scale_gate=True)
def q_domain_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain temperature mixture PLAN (ops/sampling.mixture_plan):
    the LLaMA/Pile-style data-card table — per source: exact token
    count, natural share, ``n^0.3 / Z`` temperature weight, the token
    budget that weight implies out of a 500k-token target, and the
    epoch count (budget / tokens).  One groupBy shuffle with exact
    integer sums + a one-row broadcast; the plan a 100 TB curation run
    publishes before its sampling pass."""
    from pic2vec_spark.ops.sampling import mixture_plan
    from pic2vec_spark.ops.text import tokens

    docs = _documents(spark, sf_dir).select(
        "source", F.size(tokens(F.col("text"))).cast("bigint").alias("n_tok")
    )
    return mixture_plan(
        docs, "source", "n_tok", alpha=MIXTURE_ALPHA, budget=MIXTURE_BUDGET
    )


@_tag(bench="extended_r5d", scale_gate=True)
def q_mixture_sampled_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The executable end of the mixture story
    (ops/sampling.token_budget_sample composing mixture_plan): per
    source, documents in deterministic md5 rank order are kept while
    the running token total stays within the source's temperature
    budget (alpha=0.3, 500k target) — greedy fill, no document
    splitting, RNG-free.  One broadcast join for the tiny plan + one
    per-source cumulative-sum window.  Oracle: the plan CTE re-derived
    in SQL feeding the same ranked running-sum prefix."""
    from pic2vec_spark.ops.sampling import mixture_plan, token_budget_sample
    from pic2vec_spark.ops.text import tokens

    docs = _documents(spark, sf_dir).select(
        "doc_id", "source",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tok"),
    )
    plan = mixture_plan(
        docs, "source", "n_tok",
        alpha=MIXTURE_ALPHA, budget=MIXTURE_SAMPLE_BUDGET,
    )
    return token_budget_sample(
        docs, "source", "n_tok", "doc_id", plan
    ).select("doc_id", "source", "n_tok")


def _datacard_sql(where: str) -> str:
    """Corpus data-card oracle over the documents rows matching
    ``where`` — parametrized so the release-diff oracle composes two
    instances without copying the section arithmetic."""
    return r"""
        WITH b AS (
          SELECT lang, source, md5(text) AS digest,
                 len(regexp_split_to_array(trim(text), '\s+')) AS n_tok,
                 length(text) AS n_chars
          FROM documents WHERE {where}
        ),
        t AS (
          SELECT COUNT(*) AS n_docs, SUM(n_tok) AS n_toks,
                 SUM(n_chars) AS n_ch, COUNT(DISTINCT digest) AS n_uniq,
                 MIN(n_tok) AS min_tok, MAX(n_tok) AS max_tok
          FROM b
        )
        SELECT 'size' AS section, 'n_docs' AS metric,
               CAST(n_docs AS DOUBLE) AS value FROM t
        UNION ALL SELECT 'size', 'n_tokens', CAST(n_toks AS DOUBLE) FROM t
        UNION ALL SELECT 'size', 'n_chars', CAST(n_ch AS DOUBLE) FROM t
        UNION ALL SELECT 'dup', 'exact_dup_frac',
               ROUND(1.0 - n_uniq / CAST(n_docs AS DOUBLE), 6) FROM t
        UNION ALL SELECT 'length', 'mean_tokens',
               ROUND(n_toks / CAST(n_docs AS DOUBLE), 6) FROM t
        UNION ALL SELECT 'length', 'min_tokens', CAST(min_tok AS DOUBLE) FROM t
        UNION ALL SELECT 'length', 'max_tokens', CAST(max_tok AS DOUBLE) FROM t
        UNION ALL
        SELECT 'lang', lang,
               ROUND(COUNT(*) / (SELECT CAST(n_docs AS DOUBLE) FROM t), 6)
        FROM b GROUP BY lang
        UNION ALL
        SELECT 'source', source,
               ROUND(COUNT(*) / (SELECT CAST(n_docs AS DOUBLE) FROM t), 6)
        FROM b GROUP BY source
    """.replace("{where}", where)


@_tag(bench="extended_r5d")
def q_doc_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law corpus diagnostic (ops/text.zipf_fit): least-squares
    slope/intercept of log(freq) vs log(rank) over the whole
    vocabulary — the one-row corpus-health stat (natural text ≈ −1;
    templated/duplicated corpora bend away).  One word groupBy + a
    vocab-sized rank window + one regr_* aggregate.  Oracle: DuckDB
    regr_slope/regr_intercept over the identical ranked frame."""
    from pic2vec_spark.ops.text import zipf_fit

    return zipf_fit(_documents(spark, sf_dir))


@_tag(bench="extended_r5d")
def q_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executable epoch schedule (ops/sampling.epoch_schedule): the
    500k-token mixture plan decomposed per source into full passes +
    one exact-integer-remainder partial epoch whose tokens are the
    md5-rank prefix — BIGINT arithmetic end to end, schedule ≡
    sampler by construction.  Oracle: generate_series over the plan
    CTE + the running-sum prefix re-derived independently."""
    from pic2vec_spark.ops.sampling import epoch_schedule, mixture_plan
    from pic2vec_spark.ops.text import tokens

    docs = _documents(spark, sf_dir).select(
        "doc_id", "source",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tok"),
    )
    plan = mixture_plan(
        docs, "source", "n_tok", alpha=MIXTURE_ALPHA, budget=MIXTURE_BUDGET
    )
    return epoch_schedule(docs, "source", "n_tok", "doc_id", plan)


@_tag(bench="extended_r5d", scale_gate=True)
def q_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus data card (ops/datacard.corpus_datacard): the one-table
    release summary — size (docs/tokens/chars), per-lang and
    per-source document shares, exact-dup fraction, token-length
    profile — computed as ONE shared scan (lazily checkpointed base
    frame) + a one-row totals broadcast, long-format
    (section, metric, value)."""
    from pic2vec_spark.ops.datacard import corpus_datacard

    return corpus_datacard(
        _documents(spark, sf_dir), domain_cols=("lang", "source")
    )


@_tag(bench="extended_r5d")
def q_datacard_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-over-release drift (ops/datacard.datacard_diff): the
    data cards of two synthetic releases (even vs odd doc_id) aligned
    on (section, metric) with a full outer join — absent entries read
    0 — and the per-metric delta.  Both cards are tiny report frames,
    so the diff join broadcasts regardless of corpus size.  Oracle:
    two instances of the parametrized data-card SQL FULL JOINed."""
    from pic2vec_spark.ops.datacard import corpus_datacard, datacard_diff

    docs = _documents(spark, sf_dir)
    return datacard_diff(
        corpus_datacard(docs.filter(F.col("doc_id") % 2 == 0)),
        corpus_datacard(docs.filter(F.col("doc_id") % 2 == 1)),
    )


@_tag(bench="extended_r5d")
def q_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch conversion attribution (ops/funnel.
    touch_attribution): every purchase credits the first and the last
    preceding non-purchase event type of its user (strict (ts,
    event_id) order, '(none)' when no prior touch), rolled up per
    channel with exact-decimal value sums.  ONE per-user window pass —
    no self-join.  Oracle: the OPPOSITE formulation (conversion×touch
    join + ROW_NUMBER argmin/argmax), so the window semantics are
    pinned independently."""
    from pic2vec_spark.ops.funnel import attribution_summary, touch_attribution

    ev = _events(spark, sf_dir).filter(F.col("ts").isNotNull())
    att = touch_attribution(
        ev, "user_id", "ts", "event_type", "value", "purchase"
    ).localCheckpoint(eager=False)
    return attribution_summary(att, "value", "first").unionByName(
        attribution_summary(att, "value", "last")
    )


def q_value_imputed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mean imputation (ops/encode.impute): every 11th
    event's value is NULLed (the synthetic column has no organic
    missingness), then filled with its event_type's decimal-exact mean;
    the was_null indicator is kept as a feature."""
    from pic2vec_spark.ops.encode import impute

    ev = _events(spark, sf_dir).select(
        "event_id", "event_type",
        F.when(F.col("event_id") % 11 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("value"),
    )
    out = impute(ev, "value", strategy="mean", group_col="event_type")
    return out.select(
        "event_id", "event_type", "value", "value_was_null", "value_imputed"
    )


def q_calendar_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar feature expansion (ops/encode.calendar_features):
    hour / ISO day-of-week / day-of-month / month / weekend flag —
    zero-shuffle narrow projection."""
    from pic2vec_spark.ops.encode import calendar_features

    out = calendar_features(_events(spark, sf_dir))
    return out.select(
        "event_id", "cal_hour", "cal_dow", "cal_dom", "cal_month",
        "cal_is_weekend",
    )


RFM_AS_OF = "2024-02-01"


def q_rfm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM behavioral features (ops/encode.rfm_features): per-user
    recency / frequency / exact-decimal monetary at a pinned as-of
    instant, plus deterministic quintile scores (ntile, entity
    tiebreak)."""
    from pic2vec_spark.ops.encode import rfm_features

    return rfm_features(
        _events(spark, sf_dir), "user_id", "ts", "value", as_of=RFM_AS_OF
    )


def q_source_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing by per-source quota (ops/sampling.quota_sample):
    at most 15 docs per source, deterministic md5 order — the recipe
    step that stops one crawl dump from dominating the mixture."""
    from pic2vec_spark.ops.sampling import quota_sample

    return quota_sample(
        _documents(spark, sf_dir), "source", "doc_id", cap=15
    ).select("doc_id", "source")


def q_value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorization (ops/encode.winsorize): values
    clipped to the exact [p05, p95] quantiles of their group — the
    fat-tail tamer that keeps row count intact."""
    from pic2vec_spark.ops.encode import winsorize

    out = winsorize(
        _events(spark, sf_dir), "value", group_col="event_type",
        p_lo=0.05, p_hi=0.95,
    )
    return out.select("event_id", "event_type", "value", "value_wins")


def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic (ops/skew.skew_profile): volume,
    cardinality, max/mean ratio, top-10 concentration, and exact Gini
    of per-key row counts for events.user_id — the pre-join health
    check that decides whether a 100 TB shuffle needs salting."""
    from pic2vec_spark.ops.skew import skew_profile

    return skew_profile(_events(spark, sf_dir), "user_id", top_n=10)


def q_asof_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-freshness audit over the as-of join: per entity, how old
    was the feature each query event actually consumed (ts - ts_asof)?
    The serving-quality metric a PIT feature store monitors — stale
    features degrade silently without this.  Composes q_asof_join, so
    the oracle wraps the as-of oracle as a CTE; staleness stays in
    exact integer microseconds until one final division."""
    j = q_asof_join(spark, sf_dir)
    stale_us = F.col("ts_us") - F.col("feature_ts_us")
    matched = F.count("feature_ts_us")
    return j.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        matched.alias("n_matched"),
        F.round(F.max(stale_us) / 1e6, 6).alias("max_staleness_s"),
        F.round(
            F.when(matched > 0, F.sum(stale_us) / matched / 1e6), 6
        ).alias("avg_staleness_s"),
        F.round(F.percentile(stale_us, F.lit(0.95)) / 1e6, 6).alias(
            "p95_staleness_s"
        ),
    )


EMBED_DIM = 64


@_tag(bench="extended_r5d")
def q_embedding_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector hygiene screen (ops/quality.embedding_quality) over a
    corpus with PLANTED defects (the synth embeddings are clean):
    every 13th vector NULLed, every 17th all-NaN, every 19th zeroed,
    every 23rd truncated — the screen must flag each class and pass
    the rest.  Entirely JVM-side array expressions, no UDF, no
    shuffle.  Oracle: the same defect plan + list-function arithmetic
    in SQL."""
    from pic2vec_spark.ops.quality import embedding_quality

    v = F.col("embedding")
    defected = (
        F.when(F.col("vec_id") % 13 == 0, F.lit(None).cast(
            "array<double>"
        ))
        .when(
            F.col("vec_id") % 17 == 0,
            F.transform(v, lambda x: F.lit(float("nan"))),
        )
        .when(F.col("vec_id") % 19 == 0, F.transform(v, lambda x: F.lit(0.0)))
        .when(
            F.col("vec_id") % 23 == 0,
            F.expr(
                "cast(slice(embedding, 1, size(embedding) - 2)"
                " as array<double>)"
            ),
        )
        .otherwise(v.cast("array<double>"))
    )
    emb = _embeddings(spark, sf_dir).select(
        "vec_id", defected.alias("embedding")
    )
    return embedding_quality(emb, expected_dim=EMBED_DIM).select(
        "vec_id", "dim", "norm", "has_nan", "is_zero_norm", "dim_ok", "vec_ok"
    )


@_tag(bench="extended_r3c")
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space curation screen (ops/knn.centroid_outliers):
    per-label decimal-exact centroids, cosine of every vector to its
    own label's centroid, flag below 0.2 — catches mislabeled /
    off-distribution vectors before training.  Centroid table is
    labels-sized and broadcast; the fact side never shuffles."""
    from pic2vec_spark.ops.knn import centroid_outliers

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return centroid_outliers(emb, "label", "vec_id", "embedding", threshold=0.2)


@_tag(bench="extended_r3c")
def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (ops/text.contamination_stats, the
    GPT-3 appendix-C screen): docs with doc_id % 7 == 0 play the eval
    benchmark; every remaining training doc reports how many of its
    distinct token 5-grams leak from the benchmark and is flagged on
    any overlap."""
    from pic2vec_spark.ops.text import contamination_stats

    docs = _documents(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    return contamination_stats(corpus, bench, n=5)


def _decontamination_sql(n: int = 5) -> str:
    """Mirrors ops/text.contamination_stats at the same n (the n-gram
    construction idiom is _doc_shared_ngrams_sql's)."""
    return rf"""
        WITH corpus AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
          FROM documents WHERE doc_id % 7 <> 0
        ), bg AS (
          SELECT DISTINCT unnest(list_distinct(list_transform(
                   range(1, len(regexp_split_to_array(trim(text), '\s+'))
                            - {n - 2}),
                   i -> list_aggregate(
                          regexp_split_to_array(trim(text), '\s+')[i:i+{n - 1}],
                          'string_agg', chr(31))
                 ))) AS gram
          FROM documents WHERE doc_id % 7 = 0
        ), g AS (
          SELECT doc_id,
                 unnest(list_distinct(list_transform(
                   range(1, len(toks) - {n - 2}),
                   i -> list_aggregate(toks[i:i+{n - 1}], 'string_agg', chr(31))
                 ))) AS gram
          FROM corpus
        ), s AS (
          SELECT g.doc_id, count(*) AS n_grams,
                 CAST(SUM(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_contaminated
          FROM g LEFT JOIN bg USING (gram) GROUP BY g.doc_id
        )
        SELECT c.doc_id,
               COALESCE(s.n_grams, 0) AS n_grams,
               CAST(COALESCE(s.n_contaminated, 0) AS BIGINT) AS n_contaminated,
               CASE WHEN s.n_grams > 0
                    THEN ROUND(s.n_contaminated / CAST(s.n_grams AS DOUBLE), 6)
               END AS contaminated_frac,
               COALESCE(s.n_grams > 0 AND s.n_contaminated > 0, FALSE)
                 AS contaminated
        FROM corpus c LEFT JOIN s USING (doc_id)
    """


@_tag(bench="extended_r3c", eager=True)
def q_snapshot_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (snapshots.SnapshotTable.compact): build a
    streaming-accretion-shaped table (1 big file + 24 small appended
    files of events), bin-pack files under 500 rows, and report layout
    + data integrity.  Every output column is predictable from the
    events row count alone, so the DuckDB oracle computes the expected
    file counts arithmetically and a match proves the bin-pack math AND
    row preservation end-to-end."""
    import shutil
    import tempfile

    from pic2vec_spark.snapshots import SnapshotTable

    ev = _events(spark, sf_dir)
    big = ev.orderBy("event_id").limit(600)
    rest = ev.join(big.select("event_id"), "event_id", "left_anti")
    # target scales with the input so the op does real packing at every
    # SF (appended files hold (n-600)/24 ~ 0.83*target rows each); the
    # oracle recomputes the same arithmetic from COUNT(*)
    n_events = ev.count()
    target = max(500, n_events // 20)
    root = tempfile.mkdtemp(prefix="drv_compact_")
    try:
        t = SnapshotTable(root, spark)
        t.write(big, num_partitions=1, stats_cols=["event_id"])
        t.append(rest, num_partitions=24, stats_cols=["event_id"])
        files_before = int((t.lineage().rows > 0).sum())
        rows_before = int(t.lineage().rows.sum())
        t.compact(target_rows=target)
        lin = t.lineage()
        files_after = int((lin.rows > 0).sum())
        rows_after = int(lin.rows.sum())
        data_equal = (
            t.scan().exceptAll(ev).count() == 0
            and ev.exceptAll(t.scan()).count() == 0
        )
        return spark.createDataFrame(
            [(files_before, files_after, rows_before, rows_after, data_equal)],
            "files_before bigint, files_after bigint, rows_before bigint, "
            "rows_after bigint, data_equal boolean",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@_tag(bench="extended_r4")
def q_snapshot_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot retention (snapshots.SnapshotTable.expire_snapshots):
    a 3-snapshot overwrite chain (4/2/3 files) + one planted orphan
    file from a 'crashed write'; expiring to keep_last=2 must drop
    exactly the oldest manifest, its 4 now-unreferenced data files plus
    the orphan, keep time travel to the middle snapshot working, and
    leave the current scan byte-identical.  Every report column is a
    constant of the fixture, so the DuckDB oracle pins the full
    behavior arithmetically (same pattern as snapshot_compaction)."""
    import shutil
    import tempfile

    from pic2vec_spark.snapshots import SnapshotTable

    ev = _events(spark, sf_dir).orderBy("event_id").limit(100)
    root = tempfile.mkdtemp(prefix="drv_expire_")
    try:
        t = SnapshotTable(root, spark)
        t.write(ev, num_partitions=4)
        s2 = t.write(ev, num_partitions=2)
        t.write(ev, num_partitions=3)
        (t.data_dir / "part-deadbeef-00000.parquet").write_bytes(b"junk")
        before = t.scan()
        rep = t.expire_snapshots(keep_last=2)
        data_equal = (
            t.scan().exceptAll(before).count() == 0
            and before.exceptAll(t.scan()).count() == 0
        )
        return spark.createDataFrame(
            [(
                len(rep["expired_manifests"]),
                len(rep["deleted_files"]),
                len(rep["retained"]),
                int(t.scan().count()),
                int(t.scan(s2).count()),
                bool(data_equal),
            )],
            "manifests_expired bigint, files_deleted bigint, "
            "retained bigint, rows_current bigint, rows_prev bigint, "
            "data_equal boolean",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@_tag(bench="extended_r3c")
def q_doc_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed feature hashing (ops/text.hashed_tf): sparse hashing-trick
    vectors with NO vocabulary state — idx and sign from portable md5,
    colliding tokens cancel in expectation.  Every 10th doc to keep the
    gate frame small; semantics identical at any slice."""
    from pic2vec_spark.ops.text import hashed_tf

    docs = _documents(spark, sf_dir).filter(F.col("doc_id") % 10 == 0)
    return hashed_tf(docs, "text", "doc_id", n_features=1024)


@_tag(bench="extended_r3c")
def q_doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-self unigram fluency score (ops/text.unigram_logprob):
    mean ln p(token) per document under the corpus's empirical unigram
    model — the CCNet-style screen; per-token logs rounded then summed
    as DECIMAL so partitioning cannot change the result."""
    from pic2vec_spark.ops.text import unigram_logprob

    return unigram_logprob(_documents(spark, sf_dir), "text", "doc_id")


DRIFT_SPLIT_TS = "2024-01-16"  # events span 2024-01-01..30; mid-month split


@_tag(bench="extended_r3c")
def q_value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type PSI drift of the value distribution between the
    first and second half of the events timeline (ops/drift.py): fixed
    12-bin [0,300) histogram + under/overflow, smoothed PSI over
    observed bins — one bounded-cardinality shuffle at any scale."""
    from pic2vec_spark.ops.drift import psi_numeric

    ev = _events(spark, sf_dir).filter(F.col("ts").isNotNull())
    cur = F.col("ts") >= F.lit(DRIFT_SPLIT_TS).cast("timestamp_ntz")
    return psi_numeric(ev, "event_type", "value", cur, 0.0, 300.0, nbins=12)


def q_event_type_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical PSI of the event_type mix across the same timeline
    split — one report row; NULL categories are their own bin."""
    from pic2vec_spark.ops.drift import psi_categorical

    ev = _events(spark, sf_dir).filter(F.col("ts").isNotNull())
    cur = F.col("ts") >= F.lit(DRIFT_SPLIT_TS).cast("timestamp_ntz")
    return psi_categorical(ev, "event_type", cur)


@_tag(bench="extended_r3c")
def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters (ops/cms.py): build a 4x512
    deterministic md5-hashed sketch over events.user_id, then verify the
    exact top-20 users' estimates against truth — est_cnt must never
    undercount.  Sketch state is depth*width counters regardless of
    input size; estimates probe it via a broadcast join."""
    from pic2vec_spark.ops.cms import heavy_hitters

    return heavy_hitters(_events(spark, sf_dir), "user_id", k=20, depth=4, width=512)


WF_CUTS = ["2024-01-08", "2024-01-15", "2024-01-22", "2024-01-29"]
WF_PURGE_S = 21600.0  # 6 h
WF_EMBARGO_S = 43200.0  # 12 h


def q_walk_forward_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged + embargoed time-series CV folds (ops/sampling.py
    walk_forward_splits): 3 weekly test windows over January events,
    6 h purge before each window, 12 h embargo after.  Reported per
    (fold, role) as counts + ts bounds — the min/max train timestamps
    against the window edges are direct evidence the leakage moat
    holds; row-level assignment is pinned in tests/test_analytics."""
    from pic2vec_spark.ops.sampling import walk_forward_splits

    ev = _events(spark, sf_dir).select("event_id", "ts")
    assigned = walk_forward_splits(
        ev, "ts", WF_CUTS, purge_s=WF_PURGE_S, embargo_s=WF_EMBARGO_S
    )
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    return assigned.groupBy("fold", "role").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(ts_us).alias("min_ts_us"),
        F.max(ts_us).alias("max_ts_us"),
    )


def q_part_name_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage (ops/linkage.py): blocked fuzzy-match pairs over
    the distinct part names — block on the last name token, length-band
    guard, levenshtein <= 2 inside blocks only.  Never all-pairs."""
    from pic2vec_spark.ops.linkage import fuzzy_pairs

    names = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .select("p_name")
        .distinct()
    )
    return fuzzy_pairs(
        names,
        id_col="p_name",
        text_col="p_name",
        block=F.element_at(F.split(F.col("p_name"), " "), -1),
        max_dist=2,
    )


QUALITY_FLOOR = 0.5
CAPTION_QUALITY_FLOOR = 0.425


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (A-ES): top
    10 docs per source with inclusion probability proportional to
    document length — reproducible across runs/engines because the
    exponential clock comes from md5, not an RNG."""
    from pic2vec_spark.ops.sampling import weighted_sample

    return weighted_sample(
        _documents(spark, sf_dir).select("doc_id", "source", "n_chars"),
        stratum_col="source", key_col="doc_id", weight_col="n_chars", k=10,
    )


@_tag(bench="extended_r4")
def q_doc_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM sequence packing: concatenate each source's documents in
    doc_id order and cut the token stream into 1024-token training
    sequences; per doc, the sequence its first token lands in and the
    in-sequence offset.  Exact integer window arithmetic — the packing
    layout is bit-reproducible in SQL."""
    from pic2vec_spark.ops.text import pack_documents

    return pack_documents(
        _documents(spark, sf_dir).select("doc_id", "source", "text"),
        seq_len=1024,
    ).select("doc_id", "source", "n_tokens", "seq_id", "seq_offset")


@_tag(eager=True)
def q_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-construction recipe in one query — what a
    training-data pipeline actually runs: exact dedup (keep min id per
    identical normalized text) → near-dup survivors (one per simhash
    CC cluster) → quality floor → language filter → deterministic
    train/test split.  Every stage is an operator checked individually
    by its own driver query; this composes them, so the oracle is the
    composition of their oracles.  Output: (doc_id, split)."""
    from pic2vec_spark.ops.dedup import exact_dedup
    from pic2vec_spark.ops.sampling import hash_split
    from pic2vec_spark.ops.text import lang_id, quality_score

    docs = _documents(spark, sf_dir)
    keep_exact = exact_dedup(docs, "doc_id", "text").select(
        F.col("keep_id").alias("doc_id")
    )
    # reuse the member query (not a re-implementation of its drop rule):
    # a future change to the survivor rule stays in ONE place
    survivors = q_dedup_survivors(spark, sf_dir)
    base = docs.join(keep_exact, "doc_id", "left_semi").join(
        survivors, "doc_id", "left_semi"
    )
    scored = lang_id(quality_score(base))
    kept = scored.filter(
        (F.col("quality") >= QUALITY_FLOOR) & (F.col("lang_pred") == "en")
    )
    return hash_split(kept.select("doc_id"), "doc_id", test_pct=10)


@_tag(eager=True)
def q_training_corpus_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-4 curation recipe end-to-end: exact dedup → near-dup
    survivors (simhash CC) → SemDeDup keep (embedding cells — catches
    paraphrase dups the n-gram stages miss; doc_id ≡ vec_id on the
    id-aligned multimodal row, as caption_image_conflicts establishes)
    → Gopher structural rules → Gopher repetition keep → deterministic
    split.  Five semi-joins over member queries; the oracle composes
    the member oracles, so this can never drift from the per-stage
    checks.  The Gopher stage uses the four STRUCTURAL rules (word
    count, mean word length, symbol ratio, alpha fraction) — the
    stopword-floor rule is vocabulary-dependent and the synthetic
    corpus carries only one of Gopher's eight stopwords, so the full
    conjunction would empty the corpus (pipelines configure rule
    subsets per corpus for exactly this reason; the full conjunction
    is checked per-rule by the doc_gopher_rules row itself).
    Output: (doc_id, split)."""
    from pic2vec_spark.ops.dedup import exact_dedup
    from pic2vec_spark.ops.sampling import hash_split

    docs = _documents(spark, sf_dir)
    keep_exact = exact_dedup(docs, "doc_id", "text").select(
        F.col("keep_id").alias("doc_id")
    )
    survivors = q_dedup_survivors(spark, sf_dir)
    sem = (
        q_semantic_dedup(spark, sf_dir)
        .filter(F.col("keep"))
        .select(F.col("vec_id").alias("doc_id"))
    )
    goph = (
        q_doc_gopher_rules(spark, sf_dir)
        .filter(
            F.col("rule_word_count")
            & F.col("rule_mean_word_len")
            & F.col("rule_symbol_ratio")
            & F.col("rule_alpha")
        )
        .select("doc_id")
    )
    rep = (
        q_doc_repetition(spark, sf_dir)
        .filter(F.col("repetition_keep"))
        .select("doc_id")
    )
    base = (
        docs.select("doc_id")
        .join(keep_exact, "doc_id", "left_semi")
        .join(survivors, "doc_id", "left_semi")
        .join(sem, "doc_id", "left_semi")
        .join(goph, "doc_id", "left_semi")
        .join(rep, "doc_id", "left_semi")
    )
    return hash_split(base, "doc_id", test_pct=10)


@_tag(bench="extended_r5c", scale_gate=True)
def q_training_corpus_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-5 recipe: every training_corpus_v2 stage (exact dedup
    → simhash-CC survivors → SemDeDup → Gopher structural rules →
    repetition keep → deterministic split) PLUS the CCNet perplexity
    screen — drop the corpus's 'tail' tertile under its own bigram LM
    and carry the surviving bucket as a mixing key (CCNet trains on
    head, samples middle).  One more broadcast-threshold semi-stage on
    top of v2; the oracle composes the member oracles (v2's + the
    bucket query's), so this cannot drift from the per-stage checks.
    Output: (doc_id, split, ppl_bucket)."""
    v2 = q_training_corpus_v2(spark, sf_dir)
    buckets = q_doc_ppl_buckets(spark, sf_dir).filter(
        F.col("bucket") != F.lit("tail")
    )
    return v2.join(buckets, "doc_id").select(
        "doc_id", "split", F.col("bucket").alias("ppl_bucket")
    )


@_tag(scale_gate=True)
def q_neardup_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator composition: near-duplicate document pairs flagged by at
    least 2 of {n-gram Jaccard, MinHash-LSH candidates, SimHash Hamming}
    — the production dedup recipe (cheap candidate generators voting
    before an expensive human/exact check)."""
    j = q_dedup_jaccard(spark, sf_dir).select("id1", "id2", F.lit("jaccard").alias("m"))
    m = q_dedup_minhash_lsh(spark, sf_dir).select("id1", "id2", F.lit("minhash").alias("m"))
    s = q_simhash_neardup(spark, sf_dir).select("id1", "id2", F.lit("simhash").alias("m"))
    return (
        j.unionByName(m).unionByName(s)
        .groupBy("id1", "id2")
        .agg(
            F.count(F.lit(1)).alias("n_methods"),
            F.concat_ws(",", F.array_sort(F.collect_list("m"))).alias("methods"),
        )
        .filter(F.col("n_methods") >= 2)
    )


@_tag(eager=True)
def q_snapshot_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot / lineage / incremental-resume surface through the
    driver contract: write an initial feature snapshot, append an
    OVERLAPPING second batch (only new content digests hit the CNN —
    the anti-join resume path), and return the per-partition lineage
    rows (pid, rows, digest) of the final table state.  Rows-only:
    snapshot ids and write timings are inherently run-specific; the
    kill-and-resume semantics are pinned by tests/test_snapshots.py
    and test_incremental.py."""
    import shutil
    import tempfile

    from pic2vec_spark.featurize import incremental_featurize
    from pic2vec_spark.plan import FeaturizerPlan
    from pic2vec_spark.snapshots import SnapshotTable
    from pic2vec_spark.synth import synth_images_df

    root = tempfile.mkdtemp(prefix="drv_snapshot_")
    try:
        table = SnapshotTable(root, spark)
        plan = FeaturizerPlan.build("squeezenet", depth=1, autosample=True)
        incremental_featurize(synth_images_df(spark, 48, seed=42), table, plan)
        incremental_featurize(synth_images_df(spark, 64, seed=42), table, plan)
        lin = table.lineage()[["pid", "rows", "digest"]]
        n_rows = table.scan().count()
        out = spark.createDataFrame(lin)
        return out.withColumn("table_rows", F.lit(n_rows))
    finally:
        shutil.rmtree(root, ignore_errors=True)


@_tag(bench="extended_r3", eager=True)
def q_features_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot MERGE/upsert (CDC): write customer as a range-clustered
    snapshot, merge keyed corrections (BUILDING-segment balances bumped
    by 100) plus brand-new keys (custkey+1e6 for custkey<=20), and scan
    the merged table.  The oracle expresses the same upsert as
    updates-override-base SQL, so a match proves replace + insert +
    carry-forward semantics end-to-end (snapshots.py merge: copy-on-
    write at partition granularity)."""
    import shutil
    import tempfile

    from pic2vec_spark.snapshots import SnapshotTable

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_acctbal", "c_mktsegment",
        (F.col("c_custkey") / 100).cast("long").alias("key_bucket"),
    )
    updates = cust.filter(F.col("c_mktsegment") == "BUILDING").withColumn(
        "c_acctbal", F.col("c_acctbal") + F.lit(100.0)
    )
    inserts = cust.filter(F.col("c_custkey") <= 20).select(
        (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
        F.lit(-1.0).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
        ((F.col("c_custkey") + 1_000_000) / 100).cast("long").alias("key_bucket"),
    )
    root = tempfile.mkdtemp(prefix="drv_upsert_")
    try:
        table = SnapshotTable(root, spark)
        table.write(
            cust, partition_by="key_bucket", num_partitions=16,
            stats_cols=["c_custkey"],
        )
        table.merge(updates.unionByName(inserts), "c_custkey")
        merged = table.scan().select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_acctbal").alias("acctbal"),
            F.col("c_mktsegment").alias("mktsegment"),
        )
        # the scan reads temp files that are deleted in finally — land
        # the (small, fixture-scale) result before cleanup
        return spark.createDataFrame(merged.toPandas())
    finally:
        shutil.rmtree(root, ignore_errors=True)


@_tag(eager=True)
def q_features_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed snapshot DELETE (right-to-erasure): write customer as a
    range-clustered snapshot, tombstone-delete every MACHINERY-segment
    key plus a nonexistent ghost key, and scan the survivor set.  The
    oracle is the plain complement filter, so a match proves remove +
    carry-forward + ghost-no-op semantics end-to-end (snapshots.py
    delete: copy-on-write at partition granularity)."""
    import shutil
    import tempfile

    from pic2vec_spark.snapshots import SnapshotTable

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_acctbal", "c_mktsegment",
        (F.col("c_custkey") / 100).cast("long").alias("key_bucket"),
    )
    doomed = cust.filter(F.col("c_mktsegment") == "MACHINERY").select(
        "c_custkey"
    ).unionByName(
        spark.createDataFrame([(10**12,)], "c_custkey bigint")
    )
    root = tempfile.mkdtemp(prefix="drv_delete_")
    try:
        table = SnapshotTable(root, spark)
        table.write(
            cust, partition_by="key_bucket", num_partitions=16,
            stats_cols=["c_custkey"],
        )
        table.delete(doomed, "c_custkey")
        kept = table.scan().select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_acctbal").alias("acctbal"),
            F.col("c_mktsegment").alias("mktsegment"),
        )
        # temp files die in finally — land the fixture-scale result first
        return spark.createDataFrame(kept.toPandas())
    finally:
        shutil.rmtree(root, ignore_errors=True)


@_tag(eager=True)
def q_snapshot_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog read between snapshots (snapshots.snapshot_diff):
    replay the features_upsert recipe (BUILDING balances +100, 20 new
    keys), then diff parent → current.  Copy-on-write means only
    churned files are read (carried partitions are skipped by file
    identity), and unchanged rows inside churned files drop out via
    struct equality.  The oracle derives the exact expected changelog
    from the same recipe."""
    import shutil
    import tempfile

    from pic2vec_spark.snapshots import SnapshotTable, snapshot_diff

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_acctbal", "c_mktsegment",
        (F.col("c_custkey") / 100).cast("long").alias("key_bucket"),
    )
    updates = cust.filter(F.col("c_mktsegment") == "BUILDING").withColumn(
        "c_acctbal", F.col("c_acctbal") + F.lit(100.0)
    )
    inserts = cust.filter(F.col("c_custkey") <= 20).select(
        (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
        F.lit(-1.0).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
        ((F.col("c_custkey") + 1_000_000) / 100).cast("long").alias("key_bucket"),
    )
    root = tempfile.mkdtemp(prefix="drv_cdc_")
    try:
        table = SnapshotTable(root, spark)
        table.write(
            cust, partition_by="key_bucket", num_partitions=16,
            stats_cols=["c_custkey"],
        )
        table.merge(updates.unionByName(inserts), "c_custkey")
        out = snapshot_diff(table, "c_custkey").select(
            "change",
            F.col("c_custkey").alias("custkey"),
            F.col("c_acctbal").alias("acctbal"),
            F.col("c_mktsegment").alias("mktsegment"),
        )
        return spark.createDataFrame(out.toPandas())
    finally:
        shutil.rmtree(root, ignore_errors=True)


@_tag(eager=True)
def q_lineage_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineage-vs-data consistency, oracle-checked: the sum of the
    manifest's per-partition lineage row counts and the actual scanned
    row count must BOTH equal a direct count over the same parquet —
    upgrading the rows-only snapshot_lineage query with a green SQL
    row (per-partition digests stay pytest-pinned; they have no SQL
    equivalent)."""
    import shutil
    import tempfile

    from pic2vec_spark.snapshots import SnapshotTable

    ev = _events(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="drv_lineage_")
    try:
        table = SnapshotTable(root, spark)
        table.write(ev, partition_by="user_id", num_partitions=16,
                    stats_cols=["user_id"])
        lin = table.lineage()
        total = int(lin["rows"].sum())
        n_nonempty = int((lin["rows"] > 0).sum())
        scanned = table.scan().count()
        return spark.createDataFrame(
            [(total, scanned, n_nonempty <= 16 and lin["pid"].is_unique)],
            "lineage_rows bigint, scanned_rows bigint, lineage_consistent boolean",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@_tag(scale_gate=True)
def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pic2vec_spark.ops.knn import cosine_topk

    embs = _embeddings(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < KNN_QUERIES)
    return cosine_topk(embs, queries, k=KNN_K)


@_tag(bench="extended_r4")
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair mining (ops/knn.hard_negatives): for each of the
    first KNN_QUERIES vectors, the top-k most-similar vectors with a
    DIFFERENT label — the hard negatives that carry the gradient in
    triplet/InfoNCE training.  Same broadcast + WindowGroupLimit shape
    as knn_cosine."""
    from pic2vec_spark.ops.knn import hard_negatives

    embs = _embeddings(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < KNN_QUERIES)
    return hard_negatives(embs, k=KNN_K, queries=queries)


def _jl_project_sql() -> str:
    """Oracle for embedding_jl_project: generated with the IDENTICAL
    seeded plane literals as the engine query (ops/knn contract)."""
    from pic2vec_spark.ops.knn import random_projection_sql

    return random_projection_sql(
        "embeddings", "vec_id", "embedding", out_dim=16, seed=7, dim=64
    )


def q_embedding_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection (ops/knn.
    random_projection): 64-dim embeddings compressed to 16 dims with a
    seeded Gaussian plane set — long-form output; the oracle embeds the
    identical plane literals."""
    from pic2vec_spark.ops.knn import random_projection

    return random_projection(
        _embeddings(spark, sf_dir), "vec_id", "embedding",
        out_dim=16, seed=7, dim=64,
    )


PCA_K = 8
PCA_SAMPLE = 2000


@functools.cache
def _pca_artifact(sf_dir: str):
    """PCA mean + components + explained-variance ratio fitted on the
    deterministic bounded sample (smallest vec_ids) — the pretrained
    artifact shared by the Spark query and the oracle, same contract
    as _ivf_centroids / _pq_codebooks."""
    import numpy as np
    import pyarrow.parquet as pq

    from pic2vec_spark.ops.knn import pca_fit_np

    t = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    ).sort_by("vec_id")
    x = np.array(
        t.column("embedding").to_pylist()[:PCA_SAMPLE], dtype=np.float64
    )
    mu, comps, evr = pca_fit_np(x, PCA_K)
    # per-component variances of the training projections (the
    # eigenvalues), for whitened / Mahalanobis scoring downstream
    proj = (x - mu) @ comps.T
    lam = proj.var(axis=0, ddof=1)
    return mu, comps, evr, lam


@_tag(bench="extended_r5d")
def q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PCA projection (ops/knn.pca_project): 64-dim embeddings
    onto the top-8 principal components fitted on the deterministic
    bounded sample (ORACLE_SF_DIR artifact, sign-fixed eigenvectors) —
    the exact companion of the JL projection for whitening /
    reconstruction-aware compression.  Long-form output; projection =
    fold(x·c) − fold(mu·c) with the same left-to-right IEEE sequence
    as the oracle's list_dot_product − literal."""
    from pic2vec_spark.ops.knn import pca_project

    mu, comps, _, _ = _pca_artifact(ORACLE_SF_DIR)
    return pca_project(_embeddings(spark, sf_dir), mu, comps)


def _pca_project_sql() -> str:
    """Oracle for embedding_pca: the SAME fitted components embedded
    as literal arrays, list_dot_product per output dimension minus the
    sequential-fold mean-dot constant."""
    from pic2vec_spark.ops.knn import _seq_sum

    mu, comps, _, _ = _pca_artifact(ORACLE_SF_DIR)
    dim = comps.shape[1]
    selects = []
    for j in range(comps.shape[0]):
        lits = ", ".join(repr(float(x)) for x in comps[j])
        mudot = _seq_sum(float(mu[i]) * float(comps[j][i]) for i in range(dim))
        selects.append(
            f"SELECT vec_id, {j} AS dim_idx, "
            f"ROUND(list_dot_product(list_transform(embedding, "
            f"x -> CAST(x AS DOUBLE)), [{lits}]) - {mudot!r}, 6) AS value "
            f"FROM embeddings WHERE embedding IS NOT NULL "
            f"AND len(embedding) >= {dim}"
        )
    return " UNION ALL ".join(selects)


MAHA_THRESHOLD = 3.0


@_tag(bench="extended_r5d")
def q_embedding_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitened (Mahalanobis-in-subspace) outlier scores: each
    embedding's PCA projections divided by their component variances —
    ``score = sqrt(Σ proj_j² / λ_j)`` over the top-8 components, the
    covariance-aware complement of the centroid-cosine outlier screen
    (a point can be near the centroid yet far in a low-variance
    direction).  Composes pca_project + a literal eigenvalue array;
    one vec_id groupBy whose 8 terms fold in fixed dim_idx order, so
    the sum does not depend on partition order.  Oracle: the same
    arithmetic over the projection SQL with the identical λ literals."""
    mu, comps, _, lam = _pca_artifact(ORACLE_SF_DIR)
    from pic2vec_spark.ops.knn import pca_project

    lam_arr = F.array(*[F.lit(float(v)) for v in lam])
    proj = pca_project(_embeddings(spark, sf_dir), mu, comps)
    w = F.col("value") * F.col("value") / F.element_at(
        lam_arr, F.col("dim_idx") + 1
    )
    terms = F.array_sort(F.collect_list(F.struct("dim_idx", w.alias("w"))))
    total = F.aggregate(terms, F.lit(0.0), lambda acc, t: acc + t["w"])
    return (
        proj.groupBy("vec_id")
        .agg(F.round(F.sqrt(total), 6).alias("maha"))
        .select(
            "vec_id",
            "maha",
            (F.col("maha") > MAHA_THRESHOLD).alias("is_outlier"),
        )
    )


def _maha_sql() -> str:
    """Oracle for embedding_mahalanobis: the projection oracle as a
    CTE, the same λ literals indexed per dim, one GROUP BY."""
    _, _, _, lam = _pca_artifact(ORACLE_SF_DIR)
    lam_lits = ", ".join(repr(float(v)) for v in lam)
    return f"""
        WITH p AS ({_pca_project_sql()})
        SELECT vec_id,
               ROUND(sqrt(SUM(value * value
                              / list_extract([{lam_lits}], dim_idx + 1))), 6)
                 AS maha,
               ROUND(sqrt(SUM(value * value
                              / list_extract([{lam_lits}], dim_idx + 1))), 6)
                 > {MAHA_THRESHOLD} AS is_outlier
        FROM p GROUP BY vec_id
    """


@_tag(bench="extended_r4")
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (ops/rank.rrf_fuse):
    fuse an embedding ranking (cosine top-10) with a lexical ranking
    (distinct-token overlap top-10) for the first 8 query docs — rank
    arithmetic only, no score calibration.  Lists are top-k-truncated
    upstream, so the fusion join touches O(queries x k) rows."""
    from pyspark.sql import Window

    from pic2vec_spark.ops.knn import cosine_topk
    from pic2vec_spark.ops.rank import rrf_fuse
    from pic2vec_spark.ops.text import tokens

    embs = _embeddings(spark, sf_dir)
    vec = cosine_topk(embs, embs.filter(F.col("vec_id") < 8), k=10).select(
        "query_id", F.col("neighbor_id").alias("doc_id"), "rk"
    )
    toks = _documents(spark, sf_dir).select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok")
    )
    qt = toks.filter(F.col("doc_id") < 8).select(
        F.col("doc_id").alias("query_id"), "tok"
    )
    ov = (
        qt.join(toks, "tok")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("ov"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("ov"), F.col("doc_id").asc()
    )
    lex = (
        ov.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("query_id", "doc_id", "rk")
    )
    return rrf_fuse([vec, lex], top=10)


@_tag(bench="extended", scale_gate=True)
def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN (random-hyperplane LSH buckets + exact re-rank).
    Full oracle (the plane literals are embedded in the SQL); recall vs
    the exact path is asserted in tests/test_dedup_text_knn.py."""
    from pic2vec_spark.ops.knn import lsh_bucket_topk

    embs = _embeddings(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < KNN_QUERIES)
    return lsh_bucket_topk(embs, queries, k=KNN_K)


IVF_CENTROIDS = 8
IVF_NPROBE = 3
IVF_SAMPLE = 256
IVF_ITERS = 5
# IVF coarse centroids are a PRETRAINED artifact (standard IVF: train
# once on a bounded sample, reuse for every query) — trained here, by
# the deterministic sample + Lloyd recipe, from the sf0.01 embeddings.
# Both the Spark query (at any sf) and the fixed oracle_sql() string
# embed these same centroids, so parity holds at every scale factor.
# Env-overridable so the sf0.1 SCALE GATE (scripts/scale_gate.py) can
# retrain/resize the embedded artifacts (IVF centroids, PQ codebooks,
# corpus-sized LSH plane count) on the larger corpus for BOTH sides at
# once — the driver's own gate always runs at the sf0.01 default.
ORACLE_SF_DIR = os.environ.get(
    "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
)


def _ivf_centroids(sf_dir: str):
    import numpy as np
    import pyarrow.parquet as pq

    from pic2vec_spark.ops.knn import kmeans_centroids

    t = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    ).sort_by("vec_id")
    x = np.array(t.column("embedding").to_pylist()[:IVF_SAMPLE], dtype=np.float64)
    return kmeans_centroids(x, IVF_CENTROIDS, iters=IVF_ITERS)


PQ_M = 4
PQ_CODES = 16
PQ_SAMPLE = 256
PQ_ITERS = 4


def _pq_codebooks(sf_dir: str):
    import numpy as np
    import pyarrow.parquet as pq

    from pic2vec_spark.ops.knn import pq_train

    t = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    ).sort_by("vec_id")
    x = np.array(t.column("embedding").to_pylist()[:PQ_SAMPLE], dtype=np.float64)
    return pq_train(x, m=PQ_M, n_codes=PQ_CODES, iters=PQ_ITERS)


@_tag(bench="extended_r4", scale_gate=True)
def q_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (Jegou et al. 2011): corpus rows
    are m=4 subspace codes (at scale a PRECOMPUTED stored column — the
    scan reads 4 small ints per row instead of the 64-float vector),
    queries broadcast per-subspace lookup tables, score = LUT sums via
    zip_with/aggregate (whole-stage codegen).  The memory half of the
    10^12-row ANN recipe, complementing IVF's file pruning.  Codebooks
    are the pretrained artifact (ORACLE_SF_DIR), embedded in the oracle
    as literals."""
    from pic2vec_spark.ops.knn import pq_adc_topk

    embs = _embeddings(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < KNN_QUERIES)
    return pq_adc_topk(
        embs, queries, _pq_codebooks(ORACLE_SF_DIR), k=KNN_K
    )


@_tag(scale_gate=True)
def q_knn_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition (ops/knn.ivf_pq_topk): the coarse quantizer
    prunes to nprobe cells, PQ codes + broadcast query LUTs score the
    probed candidates (ADC) — the FAISS-style 10^12-row recipe, corpus
    never shuffled.  Same pretrained centroid/codebook artifacts as
    knn_ivf/knn_pq, both embedded in the composed oracle."""
    from pic2vec_spark.ops.knn import ivf_pq_topk

    embs = _embeddings(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < KNN_QUERIES)
    return ivf_pq_topk(
        embs, queries,
        _ivf_centroids(ORACLE_SF_DIR), _pq_codebooks(ORACLE_SF_DIR),
        k=KNN_K, nprobe=IVF_NPROBE,
    )


@_tag(scale_gate=True, eager=True)
def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: corpus assigned to argmax-cosine centroid cell, queries
    probe their nprobe nearest cells, exact re-rank inside the probed
    cells.  Centroids are the pretrained coarse-quantizer artifact
    (see ORACLE_SF_DIR note), embedded as plan literals."""
    from pic2vec_spark.ops.knn import ivf_topk

    embs = _embeddings(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < KNN_QUERIES)
    return ivf_topk(
        embs, queries, _ivf_centroids(ORACLE_SF_DIR), k=KNN_K, nprobe=IVF_NPROBE
    )


@_tag(scale_gate=True, eager=True)
def q_knn_ivf_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over a PERSISTED cell-partitioned index (ops/ivf_store):
    the corpus is written once as a snapshot whose manifest records each
    file's cell range, and the probe prunes files before scanning —
    identical results to knn_ivf (same oracle), but the 10^12-row read
    path: probes open ~nprobe/n_cells of the files, the rest never
    leave storage."""
    import shutil
    import tempfile

    from pic2vec_spark.ops.ivf_store import build_ivf_index, probe_ivf_index

    embs = _embeddings(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < KNN_QUERIES)
    centroids = _ivf_centroids(ORACLE_SF_DIR)
    root = tempfile.mkdtemp(prefix="drv_ivf_")
    try:
        build_ivf_index(embs, centroids, root, spark)
        out = probe_ivf_index(
            root, spark, queries, centroids, k=KNN_K, nprobe=IVF_NPROBE
        )
        # probe reads temp files deleted in finally — land the (small,
        # top-k) result before cleanup
        return spark.createDataFrame(out.toPandas())
    finally:
        shutil.rmtree(root, ignore_errors=True)


@_tag(scale_gate=True, eager=True)
def q_knn_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance: build the index on HALF the
    corpus, append the other half (new cell-partitioned files only —
    the original files are carried forward untouched, digest-verified
    quantizer), probe old+new.  Results must equal knn_ivf over the
    FULL corpus — the same oracle pins build+append == rebuild."""
    import shutil
    import tempfile

    from pic2vec_spark.ops.ivf_store import (
        append_to_ivf_index,
        build_ivf_index,
        probe_ivf_index,
    )

    embs = _embeddings(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < KNN_QUERIES)
    centroids = _ivf_centroids(ORACLE_SF_DIR)
    root = tempfile.mkdtemp(prefix="drv_ivf_app_")
    try:
        build_ivf_index(
            embs.filter(F.col("vec_id") % 2 == 0), centroids, root, spark
        )
        append_to_ivf_index(
            embs.filter(F.col("vec_id") % 2 == 1), centroids, root, spark
        )
        out = probe_ivf_index(
            root, spark, queries, centroids, k=KNN_K, nprobe=IVF_NPROBE
        )
        return spark.createDataFrame(out.toPandas())
    finally:
        shutil.rmtree(root, ignore_errors=True)


@_tag(bench="extended_r3", scale_gate=True, eager=True)
def q_caption_image_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal dedup conflicts — the two modalities of a multimodal
    row disagreeing about duplication: pairs that are near-dups by TEXT
    (n-gram Jaccard over the caption/document text) but NOT by image
    content (embedding cosine), and vice versa.  Composes the existing
    text-dedup and embedding-near-dup operators over the id-aligned
    documents/embeddings tables (doc_id = vec_id: caption + image-
    embedding per row, the input_hint's image+caption pair); over the
    binary image table the same composition runs with compute_phash +
    hamming_neardup_pairs as the image side.  Both member operators are
    scale-safe NEVER-all-pairs paths: shingle buckets on the text side,
    hyperplane-LSH buckets + exact cosine re-rank on the embedding side
    (cosine_neardup_pairs_lsh — the exact O(n^2) path would raise at
    >100k embeddings and dominated the sf0.1 bench at 133 s); the
    conflict joins are pair-keyed anti-joins.

    Recall caveat: at this demo threshold (NEARDUP_COS=0.4, ~66deg —
    LSH-hostile, see q_embedding_neardup_lsh) boundary-pair recall per
    table is low, and an embedding-near pair the LSH misses would be
    MISCLASSIFIED as a text_near_embedding_far conflict.  Two
    mitigations: the composition runs CONFLICTS_LSH_TABLES=16 tables
    (double the standalone query's 8 — miss rate (1-p)^16), and the
    output is documented as relative to the LSH CANDIDATE SET rather
    than true embedding similarity (the oracle mirrors the identical
    plane literals, so the gate pins plan parity, not boundary recall;
    at real near-dup thresholds >=0.9 recall is >0.99 and the
    distinction vanishes)."""
    from pic2vec_spark.ops.dedup import jaccard_pairs
    from pic2vec_spark.ops.knn import cosine_neardup_pairs_lsh

    # both pair sets feed BOTH anti-join branches — materialize them
    # once (localCheckpoint, NOT cache: CacheManager entries outlive
    # the call and leak storage across repeated driver/bench runs,
    # while checkpoint blocks are released when the RDD is GC'd; the
    # materialized frames are the tiny pair lists, not the inputs)
    text_pairs = jaccard_pairs(
        _documents(spark, sf_dir), "doc_id", "text",
        n=JACCARD_N, threshold=JACCARD_THRESHOLD,
    ).select("id1", "id2").localCheckpoint(eager=True)
    emb_pairs = cosine_neardup_pairs_lsh(
        _embeddings(spark, sf_dir), threshold=NEARDUP_COS,
        n_tables=CONFLICTS_LSH_TABLES,
    ).select("id1", "id2").localCheckpoint(eager=True)
    text_only = text_pairs.join(emb_pairs, ["id1", "id2"], "left_anti").select(
        "id1", "id2", F.lit("text_near_embedding_far").alias("conflict")
    )
    emb_only = emb_pairs.join(text_pairs, ["id1", "id2"], "left_anti").select(
        "id1", "id2", F.lit("embedding_near_text_far").alias("conflict")
    )
    return text_only.unionByName(emb_only)


@_tag(scale_gate=True)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pic2vec_spark.ops.knn import cosine_neardup_pairs

    return cosine_neardup_pairs(_embeddings(spark, sf_dir), threshold=NEARDUP_COS)


@_tag(scale_gate=True)
def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for embedding near-dup: hyperplane-LSH bucket
    candidates + exact re-rank via the Arrow pair kernel (never
    all-pairs, never interpreted expression eval).  The plane count is
    corpus-sized (auto_lsh_planes: log2(n/64)) so candidate volume per
    table stays ~n*64 at any scale.  Note the demo threshold (0.4 ~
    66deg, chosen so the synthetic gaussian embeddings yield any pairs
    at all) is LSH-hostile — recall at the boundary is partial and
    rises steeply with cos; at real near-dup thresholds (>=0.9) recall
    is >0.99.  Oracle replicates the same plane literals (the auto rule
    evaluated on the gate corpus), so parity is exact."""
    from pic2vec_spark.ops.knn import cosine_neardup_pairs_lsh

    return cosine_neardup_pairs_lsh(
        _embeddings(spark, sf_dir), threshold=NEARDUP_COS
    )


SEMDEDUP_COS = 0.4


@_tag(bench="extended_r4b", scale_gate=True, eager=True)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means cells over the embedding
    corpus, within-cell cosine, drop rows within SEMDEDUP_COS of a
    higher-ranked cell-mate (rank = centroid cosine DESC, id ASC).
    Cells reuse the pretrained IVF coarse centroids (same artifact,
    same broadcast-literal assignment kernel); the demo threshold
    matches NEARDUP_COS's rationale — synthetic gaussian embeddings
    need a loose cosine to produce any duplicates at all."""
    from pic2vec_spark.ops.knn import semantic_dedup

    return semantic_dedup(
        _embeddings(spark, sf_dir),
        _ivf_centroids(ORACLE_SF_DIR),
        threshold=SEMDEDUP_COS,
    )


@_tag(eager=True)
def q_multi_column_widened(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's multi-image-column flow (O2/O5) + CSV-compat
    widening (S8/P6) through the driver: a table with two image-ref
    columns (with blank and unmatched refs) gains {col}_missing +
    {col}_features; the driver oracle checks the full missing-flag/null
    structure, the widening order/naming + feature values are pinned
    byte-exactly against the reference's golden CSV by
    tests/test_reference_fixtures.py."""
    from pic2vec_spark.featurize import featurize_multi_column
    from pic2vec_spark.plan import FeaturizerPlan
    from pic2vec_spark.synth import synth_images_df

    images = synth_images_df(spark, 32, seed=42)
    # synth ids are deterministic ('img_%09d'), so the ref table is
    # constructed without any driver-side collect; three ref classes:
    # matched, NULL (i%5==0), and unmatched (i%7==3) — the last two must
    # both come back missing=True per the reference's blank semantics.
    rows = [
        (
            i,
            f"img_{i % 32:09d}",
            None
            if i % 5 == 0
            else (f"img_unmatched_{i}" if i % 7 == 3 else f"img_{(i * 7) % 32:09d}"),
        )
        for i in range(64)
    ]
    df = spark.createDataFrame(rows, "row_id long, img_a string, img_b string")
    plan = FeaturizerPlan.build("squeezenet", depth=1, autosample=True)
    wide = featurize_multi_column(df, images, ["img_a", "img_b"], plan)
    # Emit only the SQL-expressible structure (refs + missing flags) so
    # the driver can oracle-check which rows went missing; the CNN
    # feature VALUES stay pinned byte-exactly against the reference's
    # golden CSV by tests/test_reference_fixtures.py + test_multicolumn.py.
    return wide.select(
        "row_id", "img_a", "img_a_missing", "img_b", "img_b_missing"
    )


@functools.cache
def _audio_tone_rows() -> list[tuple[int, bytes]]:
    """The deterministic 64-tone PCM corpus — ONE generator shared by
    q_audio_features and its literal oracle so the tone constants
    (4000 samples @ 8 kHz, 0.4 amplitude, 100+25i Hz) cannot drift
    between the two sides."""
    import numpy as np

    from pic2vec_spark.codecs import encode_wav

    t = np.arange(4000) / 8000.0
    return [
        (i, encode_wav(0.4 * np.sin(2 * np.pi * (100 + 25 * i) * t), 8000))
        for i in range(64)
    ]


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real PCM-WAV audio decode + signal features over a deterministic
    64-tone corpus (the literal oracle recomputes duration/rms/zcr
    through the same decode path; the mel math is pinned by tests
    against closed forms)."""
    from pic2vec_spark.ops.multimodal import audio_features

    df = spark.createDataFrame(_audio_tone_rows(), "clip_id int, bytes binary")
    # mel (array column) is excluded: driver canonicalization sorts all
    # columns and cannot hash array cells (same rule as the flagship)
    return audio_features(df, n_mel=8).select(
        "clip_id", "audio_ok", "sample_rate", "duration_s", "rms", "zcr"
    )


@functools.cache
def _audio_clip_rows() -> list[tuple[int, bytes]]:
    """Deterministic 2-component clip corpus for the audio fingerprint
    family: 32 base clips (clip_id i; a carrier tone plus a slowly
    FM-modulated overtone — distinct clips separate to ~12-52 Hamming
    bits) and, for each, one HALF-VOLUME copy (clip_id 100+i) — the
    canonical audio near-duplicate: the fingerprint's relative-floor
    log makes it gain-invariant by construction, so the copy lands 0
    bits from its source.
    One generator shared by both queries and their literal oracles."""
    import numpy as np

    from pic2vec_spark.codecs import encode_wav

    t = np.arange(4000) / 8000.0
    out = []
    for i in range(32):
        base = 0.4 * np.sin(2 * np.pi * (100 + 25 * i) * t) + 0.1 * np.sin(
            2 * np.pi * (300 + 40 * i) * t * (1 + 0.1 * np.sin(2 * np.pi * 2 * t))
        )
        out.append((i, encode_wav(base, 8000)))
        out.append((100 + i, encode_wav(0.5 * base, 8000)))
    return out


@functools.cache
def _audio_span_rows() -> list[tuple[int, bytes]]:
    """Deterministic speech-shaped clip corpus for activity
    segmentation: 12 clips alternating tone bursts and true silence
    (segment lengths vary by clip id), plus a half-volume copy of
    clip 0 (gain invariance: must segment identically) and a junk
    row."""
    import numpy as np

    from pic2vec_spark.codecs import encode_wav

    rate = 8000
    out = []
    for i in range(12):
        segs = []
        on = True
        for k in range(4 + i % 3):
            dur = 0.12 + 0.04 * ((i + k) % 4)
            n = int(rate * dur)
            t = np.arange(n) / rate
            segs.append(
                0.5 * np.sin(2 * np.pi * (150 + 30 * i + 10 * k) * t)
                if on
                else np.zeros(n)
            )
            on = not on
        x = np.concatenate(segs)
        out.append((i, encode_wav(x, rate)))
        if i == 0:
            out.append((100, encode_wav(0.5 * x, rate)))
    out.append((999, b"not-a-wav"))
    return out


@_tag(bench="extended_r5d")
def q_audio_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity segmentation (ops/multimodal.
    audio_activity_spans): tone bursts and silences merge into
    alternating spans against the gain-invariant relative energy
    floor — clip 100 (half-volume copy of clip 0) MUST segment
    identically, and the junk row vanishes.  One decode pass + the
    clip-keyed window/groupBy shape of video_scenes.  Oracle: the
    per-frame verdicts recomputed driver-side with the same kernel,
    segmented independently in SQL."""
    from pic2vec_spark.ops.multimodal import audio_activity_spans

    df = spark.createDataFrame(_audio_span_rows(), "clip_id int, bytes binary")
    return audio_activity_spans(df)


@functools.cache
def _audio_activity_sql() -> str:
    """Literal oracle for audio_activity: frame verdicts recomputed
    driver-side (same decode_wav + audio_frame_activity kernels), then
    the lag/running-sum span segmentation done independently in SQL."""
    from pic2vec_spark.codecs import decode_wav
    from pic2vec_spark.ops.multimodal import audio_frame_activity

    vals = []
    for cid, data in _audio_span_rows():
        try:
            x, rate = decode_wav(data)
        except Exception:
            continue
        act = audio_frame_activity(x.mean(axis=1), rate)
        for j, a in enumerate(act):
            vals.append(f"({cid}, {j}, {'TRUE' if a else 'FALSE'})")
    lits = (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(clip_id, frame_idx, is_active)"
    )
    return f"""
        WITH fr AS ({lits}),
        l AS (
          SELECT clip_id, frame_idx, is_active,
                 LAG(is_active) OVER (
                   PARTITION BY clip_id ORDER BY frame_idx
                 ) AS prev
          FROM fr
        ),
        s AS (
          SELECT clip_id, frame_idx, is_active,
                 SUM(CASE WHEN prev IS NULL OR prev <> is_active
                          THEN 1 ELSE 0 END) OVER (
                   PARTITION BY clip_id ORDER BY frame_idx
                   ROWS UNBOUNDED PRECEDING
                 ) - 1 AS span_id
          FROM l
        )
        SELECT clip_id, CAST(span_id AS BIGINT) AS span_id,
               BOOL_OR(is_active) AS is_active,
               MIN(frame_idx) AS start_frame,
               MAX(frame_idx) AS end_frame,
               CAST(COUNT(*) AS BIGINT) AS n_frames,
               ROUND(MIN(frame_idx) * 0.02, 6) AS start_s,
               ROUND((MAX(frame_idx) + 1) * 0.02, 6) AS end_s
        FROM s GROUP BY clip_id, span_id
    """


@_tag(bench="extended_r5d")
def q_media_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal MEDIA data card — the release summary for the
    binary modalities, beside the text corpus_datacard: per modality
    one section of (metric, value) rows — counts, decode-failure
    fraction (the quarantine rate an ingest gate reports), format
    shares and mean declared resolution for images, mean clip seconds
    for audio, mean frame count for videos.  One decode pass per
    modality (pHash ok / WAV header / MJV1 frame walk), tiny
    aggregates, long-form union.  Oracle: per-asset verdicts
    recomputed driver-side with the same kernels, aggregated
    independently in SQL."""
    from pic2vec_spark.ops.multimodal import compute_phash, video_frame_phashes

    from pic2vec_spark.synth import synth_images_df

    imgs = synth_images_df(spark, N_FLAGSHIP_IMAGES, seed=42)
    img_ok = compute_phash(imgs)
    n_img = float(N_FLAGSHIP_IMAGES)
    img_rows = img_ok.agg(
        F.round(
            F.sum((~F.col("phash64_ok")).cast("int")) / F.lit(n_img), 6
        ).alias("fail"),
        F.round(F.avg("w"), 6).alias("mw"),
        F.round(F.avg("h"), 6).alias("mh"),
    ).select(
        F.expr(
            f"stack(4, 'n_assets', CAST({n_img} AS DOUBLE),"
            " 'decode_fail_frac', fail, 'mean_w', mw, 'mean_h', mh)"
            " AS (metric, value)"
        )
    ).select(F.lit("image").alias("section"), "metric", "value")
    fmt_rows = (
        imgs.groupBy("fmt")
        .agg(F.round(F.count(F.lit(1)) / F.lit(n_img), 6).alias("value"))
        .select(
            F.lit("image_fmt").alias("section"),
            F.coalesce(F.col("fmt"), F.lit("(none)")).alias("metric"),
            "value",
        )
    )

    from pic2vec_spark.ops.multimodal import audio_features

    clips = spark.createDataFrame(_audio_clip_rows(), "clip_id int, bytes binary")
    au = audio_features(clips)
    n_clip = float(len(_audio_clip_rows()))
    au_rows = au.agg(
        F.round(
            F.sum((~F.col("audio_ok")).cast("int")) / F.lit(n_clip), 6
        ).alias("fail"),
        F.round(F.avg(F.when(F.col("audio_ok"), F.col("duration_s"))), 6).alias(
            "md"
        ),
    ).select(
        F.expr(
            f"stack(3, 'n_assets', CAST({n_clip} AS DOUBLE),"
            " 'decode_fail_frac', fail, 'mean_duration_s', md)"
            " AS (metric, value)"
        )
    ).select(F.lit("audio").alias("section"), "metric", "value")

    vids = spark.createDataFrame(_video_rows(), "video_id string, bytes binary")
    vf = video_frame_phashes(vids)
    n_vid = float(len(_video_rows()))
    vid_rows = vf.agg(
        F.round(
            F.sum((~F.col("video_ok")).cast("int")) / F.lit(n_vid), 6
        ).alias("fail"),
        F.round(
            F.avg(F.when(F.col("video_ok"), F.col("n_frames"))), 6
        ).alias("mf"),
    ).select(
        F.expr(
            f"stack(3, 'n_assets', CAST({n_vid} AS DOUBLE),"
            " 'decode_fail_frac', fail, 'mean_frames', mf)"
            " AS (metric, value)"
        )
    ).select(F.lit("video").alias("section"), "metric", "value")

    return img_rows.unionByName(fmt_rows).unionByName(au_rows).unionByName(
        vid_rows
    )


@functools.cache
def _media_datacard_sql() -> str:
    """Independent oracle for media_datacard: per-asset decode
    verdicts, durations, and frame counts recomputed driver-side with
    the same kernels, embedded as literal tables and aggregated in
    SQL."""
    from pic2vec_spark.codecs import decode_image, decode_video, decode_wav

    img_vals = []
    for r in _flagship_synth_rows():
        try:
            decode_image(r["bytes"], r["fmt"])
            ok = "TRUE"
        except Exception:
            ok = "FALSE"
        fmt = "'(none)'" if r["fmt"] is None else f"'{r['fmt']}'"
        img_vals.append(f"({ok}, {fmt}, {r['w']}, {r['h']})")
    au_vals = []
    for cid, data in _audio_clip_rows():
        try:
            x, rate = decode_wav(data)
            au_vals.append(f"(TRUE, {round(len(x) / rate, 6)!r})")
        except Exception:
            au_vals.append("(FALSE, CAST(NULL AS DOUBLE))")
    vid_vals = []
    for vid, data in _video_rows():
        try:
            vid_vals.append(f"(TRUE, {len(decode_video(data))})")
        except Exception:
            vid_vals.append("(FALSE, CAST(NULL AS INT))")
    return f"""
        WITH img AS (SELECT * FROM (VALUES {", ".join(img_vals)})
                     AS t(ok, fmt, w, h)),
        au AS (SELECT * FROM (VALUES {", ".join(au_vals)})
               AS t(ok, duration_s)),
        vid AS (SELECT * FROM (VALUES {", ".join(vid_vals)})
                AS t(ok, n_frames))
        SELECT 'image' AS section, 'n_assets' AS metric,
               CAST(COUNT(*) AS DOUBLE) AS value FROM img
        UNION ALL SELECT 'image', 'decode_fail_frac',
               ROUND(SUM(CASE WHEN ok THEN 0 ELSE 1 END)
                     / CAST(COUNT(*) AS DOUBLE), 6) FROM img
        UNION ALL SELECT 'image', 'mean_w',
               ROUND(AVG(CAST(w AS DOUBLE)), 6) FROM img
        UNION ALL SELECT 'image', 'mean_h',
               ROUND(AVG(CAST(h AS DOUBLE)), 6) FROM img
        UNION ALL SELECT 'image_fmt', fmt,
               ROUND(COUNT(*) / (SELECT CAST(COUNT(*) AS DOUBLE) FROM img),
                     6)
        FROM img GROUP BY fmt
        UNION ALL SELECT 'audio', 'n_assets',
               CAST(COUNT(*) AS DOUBLE) FROM au
        UNION ALL SELECT 'audio', 'decode_fail_frac',
               ROUND(SUM(CASE WHEN ok THEN 0 ELSE 1 END)
                     / CAST(COUNT(*) AS DOUBLE), 6) FROM au
        UNION ALL SELECT 'audio', 'mean_duration_s',
               ROUND(AVG(CASE WHEN ok THEN duration_s END), 6) FROM au
        UNION ALL SELECT 'video', 'n_assets',
               CAST(COUNT(*) AS DOUBLE) FROM vid
        UNION ALL SELECT 'video', 'decode_fail_frac',
               ROUND(SUM(CASE WHEN ok THEN 0 ELSE 1 END)
                     / CAST(COUNT(*) AS DOUBLE), 6) FROM vid
        UNION ALL SELECT 'video', 'mean_frames',
               ROUND(AVG(CASE WHEN ok THEN CAST(n_frames AS DOUBLE) END), 6)
        FROM vid
    """


@_tag(bench="extended_r5c")
def q_audio_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit robust audio fingerprint (Haitsma-Kalker sign-of-band-
    energy-difference) per WAV clip — one decode, narrow map.  Full
    literal oracle: every fingerprint recomputed driver-side with the
    same decode+mel kernels and embedded as BIGINT literals."""
    from pic2vec_spark.ops.multimodal import compute_audio_fp

    df = spark.createDataFrame(_audio_clip_rows(), "clip_id int, bytes binary")
    return compute_audio_fp(df).select("clip_id", "fp64", "fp_ok")


@_tag(bench="extended_r5c")
def q_audio_fp_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate AUDIO pairs within 4 Hamming bits of the robust
    fingerprint — the half-volume copies planted in the corpus MUST
    surface against their sources.  Reuses the SAME pigeonhole
    chunk-bucket machinery as image pHash and text SimHash (one
    Hamming-ball contract across all three modalities).  Oracle: the
    INDEPENDENT all-pairs bit_count(xor) brute force over the literal
    fingerprint table — pins bucket recall, not just plan parity."""
    from pic2vec_spark.ops.dedup import hamming_neardup_pairs
    from pic2vec_spark.ops.multimodal import compute_audio_fp

    df = spark.createDataFrame(_audio_clip_rows(), "clip_id int, bytes binary")
    fp = (
        compute_audio_fp(df)
        .filter(F.col("fp_ok"))
        .withColumn("clip", F.col("clip_id").cast("string"))
    )
    return hamming_neardup_pairs(
        fp.select("clip", "fp64"), "clip",
        max_distance=4, sig_col="fp64", bits=64,
    )


@functools.cache
def _audio_fp_sql() -> str:
    """Literal oracle for audio_fingerprints: the fingerprint of each
    deterministic clip recomputed driver-side with the SAME decode_wav
    + audio_fp64 kernels the executors run."""
    from pic2vec_spark.codecs import decode_wav
    from pic2vec_spark.ops.multimodal import audio_fp64

    vals = []
    for cid, data in _audio_clip_rows():
        x, rate = decode_wav(data)
        h = audio_fp64(x.mean(axis=1), rate)
        vals.append(f"({cid}, CAST({h} AS BIGINT), TRUE)")
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(clip_id, fp64, fp_ok)"
    )


def _audio_fp_neardup_sql() -> str:
    """Independent all-pairs Hamming brute force over the literal
    fingerprints (clip ids compared as STRINGS, matching the Spark
    side's pair-key normalization)."""
    return f"""
        WITH fp AS ({_audio_fp_sql()})
        SELECT CAST(a.clip_id AS VARCHAR) AS id1,
               CAST(b.clip_id AS VARCHAR) AS id2,
               bit_count(xor(a.fp64, b.fp64)) AS hamming
        FROM fp a JOIN fp b
          ON CAST(a.clip_id AS VARCHAR) < CAST(b.clip_id AS VARCHAR)
        WHERE bit_count(xor(a.fp64, b.fp64)) <= 4
    """


@functools.cache
def _video_rows() -> list[tuple[str, bytes]]:
    """Deterministic MJV1 video corpus: 16 base streams (6 horizontally
    rolled frames of a decodable synth image each, lossless BMP), plus
    the two canonical video reposts — a JPEG-requantized copy of every
    idx % 3 == 0 video (every frame within a few pHash bits, offset-0
    alignment) and a 2-frame head-trimmed copy of every idx % 3 == 1
    video (4 surviving frames at a constant -2 alignment).  One
    generator shared by the queries and their literal oracles."""
    import numpy as np

    from pic2vec_spark.codecs import (
        decode_image,
        encode_image,
        encode_video,
    )

    bases = []
    for r in _flagship_synth_rows():
        try:
            bases.append(decode_image(bytes(r["bytes"]), r["fmt"]))
        except Exception:
            continue
        if len(bases) == 16:
            break
    rows = []
    for i, px in enumerate(bases):
        w = px.shape[1]
        frames = [np.roll(px, (j * w) // 6, axis=1) for j in range(6)]
        rows.append((f"v{i:02d}", encode_video(frames, "bmp")))
        if i % 3 == 0:
            requant = [
                decode_image(encode_image(f, "jpeg"), "jpeg") for f in frames
            ]
            rows.append((f"v{i:02d}_requant", encode_video(requant, "bmp")))
        elif i % 3 == 1:
            rows.append((f"v{i:02d}_trim", encode_video(frames[2:], "bmp")))
    rows.append(("zz_junk", b"not-an-mjv1-stream"))
    return rows


@_tag(bench="extended_r5c")
def q_video_frame_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame perceptual hashes of every MJV1 video — ONE decode
    pass per stream (real from-scratch motion-JPEG-style container
    decode, codecs.decode_video), narrow map, then a posexplode to
    (video_id, frame_idx, fhash64).  The junk row degrades to
    video_ok=False / empty arrays and so vanishes from the exploded
    table, exactly like the oracle.  Full literal oracle: every frame
    hash recomputed driver-side with the same decode+pHash kernels."""
    from pic2vec_spark.ops.multimodal import video_frame_phashes

    df = spark.createDataFrame(_video_rows(), "video_id string, bytes binary")
    return video_frame_phashes(df).select(
        "video_id",
        F.col("frame_idxs").alias("__idxs"),
        F.posexplode("frame_phashes").alias("__pos", "fhash64"),
    ).select(
        "video_id",
        F.element_at(F.col("__idxs"), F.col("__pos") + 1).alias("frame_idx"),
        "fhash64",
    )


@_tag(bench="extended_r5c")
def q_video_reposts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporally-aligned video repost detection: pairs matching >=3
    frames within 4 Hamming bits at one consistent frame offset — the
    planted requant copies MUST surface at offset 0 with all 6 frames
    and the head-trimmed copies at their -2 alignment with 4.  The
    frame-level candidates come from the SAME pigeonhole chunk-bucket
    machinery as the other three modalities; the alignment vote is one
    bounded groupBy + WindowGroupLimit top-1.  Oracle: an INDEPENDENT
    all-pairs bit_count(xor) brute force + offset vote over the literal
    frame-hash table — pins bucket recall AND the alignment/tie-break
    semantics."""
    from pic2vec_spark.ops.multimodal import (
        video_frame_phashes,
        video_repost_pairs,
    )

    df = spark.createDataFrame(_video_rows(), "video_id string, bytes binary")
    return video_repost_pairs(
        video_frame_phashes(df).filter(F.col("video_ok")),
        max_distance=4,
        min_frames=3,
    )


@functools.cache
def _video_frame_hashes_sql() -> str:
    """Literal oracle for video_frame_hashes: each frame hash
    recomputed driver-side with the SAME decode_video + phash64
    kernels the executors run (junk rows decode to nothing and emit no
    literals, matching the engine's empty-array explode)."""
    from pic2vec_spark.codecs import decode_video
    from pic2vec_spark.ops.multimodal import phash64

    vals = []
    for vid, data in _video_rows():
        try:
            frames = decode_video(data)
        except ValueError:
            continue
        for j, f in enumerate(frames):
            vals.append(f"('{vid}', {j}, CAST({phash64(f)} AS BIGINT))")
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(video_id, frame_idx, fhash64)"
    )


def _video_reposts_sql() -> str:
    """Independent brute force for video_reposts: all cross-video frame
    pairs within 4 bits, counted per (pair, offset), best offset per
    pair with the matched-desc / offset-asc tie-break, floor 3."""
    return f"""
        WITH fh AS ({_video_frame_hashes_sql()}),
        cand AS (
          SELECT a.video_id AS vid1, b.video_id AS vid2,
                 b.frame_idx - a.frame_idx AS off, a.frame_idx AS ia
          FROM fh a JOIN fh b ON a.video_id < b.video_id
          WHERE bit_count(xor(a.fhash64, b.fhash64)) <= 4
        ),
        votes AS (
          SELECT vid1, vid2, off, COUNT(DISTINCT ia) AS matched
          FROM cand GROUP BY vid1, vid2, off
        ),
        best AS (
          SELECT vid1, vid2, off, matched,
                 ROW_NUMBER() OVER (
                   PARTITION BY vid1, vid2
                   ORDER BY matched DESC, off ASC
                 ) AS rn
          FROM votes
        )
        SELECT vid1, vid2, off AS "offset",
               CAST(matched AS BIGINT) AS matched_frames
        FROM best WHERE rn = 1 AND matched >= 3
    """


SCENE_CUT_BITS = 12


@functools.cache
def _video_scene_rows() -> list[tuple[str, bytes]]:
    """Deterministic multi-shot MJV1 corpus for scene segmentation: 8
    videos, each cutting between 2–3 DISTINCT base images (shots of
    3 / 2 / 3 frames); within a shot, frames drift by a deterministic
    exposure offset (+4 intensity per frame — pHash median-thresholds
    the DCT block, so uniform brightness shifts cost ~0 bits), across
    a cut the base changes entirely (tens of bits).  One generator
    shared by the query and its literal oracle."""
    import numpy as np

    from pic2vec_spark.codecs import decode_image, encode_video

    bases = []
    for r in _flagship_synth_rows():
        try:
            bases.append(decode_image(bytes(r["bytes"]), r["fmt"]))
        except Exception:
            continue
        if len(bases) == 24:
            break
    rows = []
    for i in range(8):
        shots = [bases[(3 * i + k) % len(bases)] for k in range(3)]
        n_shots = 2 + (i % 2)
        frames = []
        for k in range(n_shots):
            n_frames = 3 if k != 1 else 2
            frames.extend(
                np.clip(shots[k].astype(np.int16) + 4 * j, 0, 255).astype(
                    np.uint8
                )
                for j in range(n_frames)
            )
        rows.append((f"sv{i:02d}", encode_video(frames, "bmp")))
    return rows


@_tag(bench="extended_r5d")
def q_video_scenes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary scene segmentation (ops/multimodal.video_scenes):
    consecutive-frame pHash Hamming distance over the multi-shot synth
    corpus, cut threshold 12 bits — 1-px within-shot rolls stay under
    it, base-image cuts jump far above.  One decode pass, one
    per-video window, one (video, scene) groupBy; no joins.  Oracle:
    the same lag / running-sum segmentation computed INDEPENDENTLY in
    SQL over the literal frame-hash table."""
    from pic2vec_spark.ops.multimodal import video_frame_phashes, video_scenes

    df = spark.createDataFrame(
        _video_scene_rows(), "video_id string, bytes binary"
    )
    return video_scenes(
        video_frame_phashes(df).filter(F.col("video_ok")),
        threshold=SCENE_CUT_BITS,
    )


@functools.cache
def _video_scene_hashes_sql() -> str:
    """Literal frame-hash table for the scene corpus (same
    driver-side recompute contract as _video_frame_hashes_sql)."""
    from pic2vec_spark.codecs import decode_video
    from pic2vec_spark.ops.multimodal import phash64

    vals = []
    for vid, data in _video_scene_rows():
        for j, f in enumerate(decode_video(data)):
            vals.append(f"('{vid}', {j}, CAST({phash64(f)} AS BIGINT))")
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(video_id, frame_idx, fhash64)"
    )


def _video_scenes_sql() -> str:
    """Independent SQL segmentation over the literal frame hashes:
    lag + bit_count(xor) boundary flags + a running-sum scene id."""
    return f"""
        WITH fh AS ({_video_scene_hashes_sql()}),
        l AS (
          SELECT video_id, frame_idx, fhash64,
                 LAG(fhash64) OVER (
                   PARTITION BY video_id ORDER BY frame_idx
                 ) AS prev
          FROM fh
        ),
        b AS (
          SELECT video_id, frame_idx,
                 CASE WHEN prev IS NULL
                        OR bit_count(xor(fhash64, prev)) > {SCENE_CUT_BITS}
                      THEN 1 ELSE 0 END AS is_b
          FROM l
        ),
        s AS (
          SELECT video_id, frame_idx,
                 SUM(is_b) OVER (
                   PARTITION BY video_id ORDER BY frame_idx
                   ROWS UNBOUNDED PRECEDING
                 ) - 1 AS scene_id
          FROM b
        )
        SELECT video_id, CAST(scene_id AS BIGINT) AS scene_id,
               MIN(frame_idx) AS start_frame,
               MAX(frame_idx) AS end_frame,
               CAST(COUNT(*) AS BIGINT) AS n_frames
        FROM s GROUP BY video_id, scene_id
    """


@_tag(bench="extended_r5d")
def q_video_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene keyframe extraction (ops/multimodal.scene_keyframes): the
    temporally middle frame of every detected scene in the multi-shot
    corpus, hash riding along for downstream dedup — the decode-once /
    featurize-one-frame-per-shot reduction.  Same two video-keyed
    shuffles as video_scenes plus one per-scene window.  Oracle: the
    independent SQL segmentation + ROW_NUMBER middle pick."""
    from pic2vec_spark.ops.multimodal import scene_keyframes, video_frame_phashes

    df = spark.createDataFrame(
        _video_scene_rows(), "video_id string, bytes binary"
    )
    return scene_keyframes(
        video_frame_phashes(df).filter(F.col("video_ok")),
        threshold=SCENE_CUT_BITS,
    )


def _video_keyframes_sql() -> str:
    """Independent keyframe oracle: the scene segmentation re-derived
    in SQL with fhash64 carried through, then the floor((n-1)/2)
    middle row per (video, scene)."""
    return f"""
        WITH fh AS ({_video_scene_hashes_sql()}),
        l AS (
          SELECT video_id, frame_idx, fhash64,
                 LAG(fhash64) OVER (
                   PARTITION BY video_id ORDER BY frame_idx
                 ) AS prev
          FROM fh
        ),
        s AS (
          SELECT video_id, frame_idx, fhash64,
                 SUM(CASE WHEN prev IS NULL
                            OR bit_count(xor(fhash64, prev))
                               > {SCENE_CUT_BITS}
                          THEN 1 ELSE 0 END) OVER (
                   PARTITION BY video_id ORDER BY frame_idx
                   ROWS UNBOUNDED PRECEDING
                 ) - 1 AS scene_id
          FROM l
        ),
        r AS (
          SELECT video_id, scene_id, frame_idx, fhash64,
                 ROW_NUMBER() OVER (
                   PARTITION BY video_id, scene_id ORDER BY frame_idx
                 ) AS rn,
                 COUNT(*) OVER (
                   PARTITION BY video_id, scene_id
                 ) AS n_frames
          FROM s
        )
        SELECT video_id, CAST(scene_id AS BIGINT) AS scene_id,
               frame_idx AS keyframe_idx, fhash64,
               CAST(n_frames AS BIGINT) AS n_frames
        FROM r WHERE rn - 1 = FLOOR((n_frames - 1) / 2.0)
    """


@_tag(bench="extended_r5d")
def q_video_image_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-MODAL video→image repost links: which corpus still images
    appear as frames of which videos — the missing edge between the
    image pHash family and the video frame-hash family (the repost
    corpus's base frames are rolls of flagship images, so base and
    requant videos MUST link to their source image).  Video frame
    hashes (composite video␟frame keys) and image pHashes go through
    ONE shared pigeonhole Hamming pair pass; cross-type pairs are then
    parsed and aggregated per (video, image): matched frame count +
    best distance.  Oracle: an INDEPENDENT all-pairs bit_count(xor)
    brute force across the two literal hash tables."""
    from pic2vec_spark.ops.dedup import hamming_neardup_pairs
    from pic2vec_spark.ops.multimodal import (
        _VIDEO_SEP,
        compute_phash,
        video_frame_phashes,
        video_frames_cid,
    )
    from pic2vec_spark.synth import synth_images_df

    vids = spark.createDataFrame(_video_rows(), "video_id string, bytes binary")
    frames = video_frames_cid(
        video_frame_phashes(vids).filter(F.col("video_ok"))
    ).select(F.col("__cid").alias("key"), F.col("__fh").alias("sig"))
    images = (
        compute_phash(synth_images_df(spark, N_FLAGSHIP_IMAGES, seed=42))
        .filter(F.col("phash64_ok"))
        .select(F.col("image_id").alias("key"), F.col("phash64").alias("sig"))
    )
    pairs = hamming_neardup_pairs(
        frames.unionByName(images), "key",
        max_distance=4, sig_col="sig", bits=64,
    )
    is_v1 = F.col("id1").contains(_VIDEO_SEP)
    is_v2 = F.col("id2").contains(_VIDEO_SEP)
    cross = pairs.filter(is_v1 != is_v2).select(
        F.when(is_v1, F.col("id1")).otherwise(F.col("id2")).alias("__vkey"),
        F.when(is_v1, F.col("id2")).otherwise(F.col("id1")).alias("image_id"),
        "hamming",
    )
    return (
        cross.select(
            F.substring_index("__vkey", _VIDEO_SEP, 1).alias("video_id"),
            F.substring_index("__vkey", _VIDEO_SEP, -1)
            .cast("int")
            .alias("__frame"),
            "image_id",
            "hamming",
        )
        .groupBy("video_id", "image_id")
        .agg(
            F.countDistinct("__frame").alias("n_frames_matched"),
            F.min("hamming").alias("best_hamming"),
        )
    )


def _video_image_matches_sql() -> str:
    """Independent cross-modal brute force: every (frame, image) hash
    pair within 4 bits, aggregated per (video, image)."""
    return f"""
        WITH fh AS ({_video_frame_hashes_sql()}),
        ph AS ({_image_phash_sql()}),
        cand AS (
          SELECT f.video_id, f.frame_idx, p.image_id,
                 bit_count(xor(f.fhash64, p.phash64)) AS hamming
          FROM fh f JOIN ph p ON p.phash64_ok
          WHERE bit_count(xor(f.fhash64, p.phash64)) <= 4
        )
        SELECT video_id, image_id,
               CAST(COUNT(DISTINCT frame_idx) AS BIGINT) AS n_frames_matched,
               CAST(MIN(hamming) AS BIGINT) AS best_hamming
        FROM cand GROUP BY video_id, image_id
    """


@_tag(bench="extended_r5c")
def q_video_probe_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time VIDEO repost gate against a persisted frame-hash
    Hamming index: the base videos' per-frame pHashes are committed
    once (composite video+frame keys, pigeonhole chunk buckets,
    file-pruned scans), then the incoming batch — the requant + trim
    copies — is alignment-voted against it with zero corpus
    re-decoding.  Oracle: the INDEPENDENT brute force + offset vote
    over the literal frame-hash table, restricted to pairs with at
    least one batch side (the probe contract: batch-vs-corpus plus
    batch-internal)."""
    import shutil
    import tempfile

    from pic2vec_spark.ops.multimodal import (
        build_video_repost_index,
        probe_video_reposts,
        video_frame_phashes,
    )

    df = spark.createDataFrame(_video_rows(), "video_id string, bytes binary")
    hashed = video_frame_phashes(df).filter(F.col("video_ok"))
    is_batch = F.col("video_id").endswith("_requant") | F.col(
        "video_id"
    ).endswith("_trim")
    root = tempfile.mkdtemp(prefix="drv_video_idx_")
    try:
        build_video_repost_index(hashed.filter(~is_batch), root, spark)
        out = spark.createDataFrame(
            probe_video_reposts(
                root, spark, hashed.filter(is_batch), min_frames=3
            ).toPandas()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def _video_probe_index_sql() -> str:
    """Brute force + offset vote over the literal frame hashes, batch
    side required on at least one end of every pair."""
    return f"""
        WITH fh AS ({_video_frame_hashes_sql()}),
        cand AS (
          SELECT a.video_id AS vid1, b.video_id AS vid2,
                 b.frame_idx - a.frame_idx AS off, a.frame_idx AS ia
          FROM fh a JOIN fh b ON a.video_id < b.video_id
          WHERE bit_count(xor(a.fhash64, b.fhash64)) <= 4
            AND (a.video_id LIKE '%\\_requant' ESCAPE '\\'
                 OR a.video_id LIKE '%\\_trim' ESCAPE '\\'
                 OR b.video_id LIKE '%\\_requant' ESCAPE '\\'
                 OR b.video_id LIKE '%\\_trim' ESCAPE '\\')
        ),
        votes AS (
          SELECT vid1, vid2, off, COUNT(DISTINCT ia) AS matched
          FROM cand GROUP BY vid1, vid2, off
        ),
        best AS (
          SELECT vid1, vid2, off, matched,
                 ROW_NUMBER() OVER (
                   PARTITION BY vid1, vid2
                   ORDER BY matched DESC, off ASC
                 ) AS rn
          FROM votes
        )
        SELECT vid1, vid2, off AS "offset",
               CAST(matched AS BIGINT) AS matched_frames
        FROM best WHERE rn = 1 AND matched >= 3
    """


@_tag(bench="extended_r5c")
def q_media_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE curation recipe across all four modalities — the capstone of
    the shared Hamming-ball dedup contract.  Output: the kept asset
    manifest (modality, asset_id).

    - image+caption: the full multimodal_corpus pipeline (fused
      one-decode quality screen → pHash CC survivors → caption quality
      floor);
    - audio: robust-fingerprint Hamming CC at d=4, keep the min clip
      per cluster (the half-volume copies planted in the clip corpus
      collapse onto their sources);
    - video: temporally-aligned repost pairs at >=3 frames / d=4, drop
      every pair's vid2 (the requant and trim copies collapse onto
      their bases).

    Every branch reuses an already-oracled member kernel, and the
    composed oracle reuses the member LITERAL oracles — the recipe
    cannot drift from the per-stage gates."""
    from pic2vec_spark.ops.dedup import hamming_neardup_pairs, neardup_clusters
    from pic2vec_spark.ops.multimodal import (
        compute_audio_fp,
        image_profile,
        video_frame_phashes,
        video_repost_pairs,
    )
    from pic2vec_spark.ops.text import quality_score
    from pic2vec_spark.synth import synth_images_df

    # image branch — identical stages to q_multimodal_corpus (sans split)
    images = synth_images_df(spark, N_FLAGSHIP_IMAGES, seed=42)
    ph = (
        image_profile(images)
        .filter(
            F.col("stats_ok") & (F.col("entropy") >= 1.0)
            & (F.col("sharpness") >= 1.0) & F.col("phash64_ok")
        )
        .select("image_id", "caption", "phash64")
        .localCheckpoint(eager=False)
    )
    img_pairs = hamming_neardup_pairs(
        ph.select("image_id", "phash64"), "image_id",
        max_distance=4, sig_col="phash64", bits=64,
    )
    img_losers = (
        neardup_clusters(img_pairs, "id1", "id2")
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select(F.col("doc_id").alias("image_id"))
    )
    img_keep = (
        quality_score(
            ph.join(img_losers, "image_id", "left_anti"),
            text_col="caption",
        )
        .filter(
            F.col("caption").isNotNull()
            & (F.col("quality") >= CAPTION_QUALITY_FLOOR)
        )
        .select(
            F.lit("image").alias("modality"),
            F.col("image_id").alias("asset_id"),
        )
    )

    # audio branch — fingerprint CC, min-clip survivor (string compare)
    clips = spark.createDataFrame(
        _audio_clip_rows(), "clip_id int, bytes binary"
    )
    fp = (
        compute_audio_fp(clips)
        .filter(F.col("fp_ok"))
        .select(F.col("clip_id").cast("string").alias("clip"), "fp64")
        .localCheckpoint(eager=False)
    )
    fp_pairs = hamming_neardup_pairs(
        fp, "clip", max_distance=4, sig_col="fp64", bits=64
    )
    fp_losers = (
        neardup_clusters(fp_pairs, "id1", "id2")
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select(F.col("doc_id").alias("clip"))
    )
    audio_keep = fp.join(fp_losers, "clip", "left_anti").select(
        F.lit("audio").alias("modality"), F.col("clip").alias("asset_id")
    )

    # video branch — alignment-voted reposts, drop each pair's vid2
    vids = spark.createDataFrame(
        _video_rows(), "video_id string, bytes binary"
    )
    hashed = video_frame_phashes(vids).filter(F.col("video_ok")).select(
        "video_id", "frame_idxs", "frame_phashes"
    ).localCheckpoint(eager=False)
    reposts = video_repost_pairs(hashed, max_distance=4, min_frames=3)
    video_keep = hashed.join(
        reposts.select(F.col("vid2").alias("video_id")).distinct(),
        "video_id",
        "left_anti",
    ).select(
        F.lit("video").alias("modality"), F.col("video_id").alias("asset_id")
    )

    return img_keep.unionByName(audio_keep).unionByName(video_keep).orderBy(
        "modality", "asset_id"
    )


def _media_corpus_sql() -> str:
    """Composed 4-modality oracle: the image branch reuses the full
    multimodal_corpus composition (minus the split), the audio branch a
    recursive-CTE CC over the literal fingerprint table, the video
    branch the literal brute-force repost vote — all member literal
    oracles, zero drift surface."""
    return f"""
        WITH RECURSIVE img AS (
          SELECT image_id FROM ({_multimodal_corpus_sql()}) t
        ),
        afp AS (
          SELECT CAST(clip_id AS VARCHAR) AS clip, fp64
          FROM ({_audio_fp_sql()}) a WHERE fp_ok
        ),
        apairs AS (
          SELECT a.clip AS id1, b.clip AS id2
          FROM afp a JOIN afp b ON a.clip < b.clip
          WHERE bit_count(xor(a.fp64, b.fp64)) <= 4
        ),
        aedges AS (
          SELECT id1 AS src, id2 AS dst FROM apairs
          UNION SELECT id2, id1 FROM apairs
        ),
        areach(v, label) AS (
          SELECT src, src FROM aedges
          UNION
          SELECT e.src, r.label FROM aedges e JOIN areach r ON e.dst = r.v
        ),
        aclusters AS (
          SELECT v AS clip, MIN(label) AS cluster_id FROM areach GROUP BY v
        ),
        audio_keep AS (
          SELECT clip FROM afp
          WHERE clip NOT IN (
            SELECT clip FROM aclusters WHERE clip <> cluster_id)
        ),
        vrep AS ({_video_reposts_sql()}),
        video_keep AS (
          SELECT DISTINCT video_id
          FROM ({_video_frame_hashes_sql()}) fh
          WHERE video_id NOT IN (SELECT vid2 FROM vrep)
        )
        SELECT 'image' AS modality, image_id AS asset_id FROM img
        UNION ALL
        SELECT 'audio', clip FROM audio_keep
        UNION ALL
        SELECT 'video', video_id FROM video_keep
        ORDER BY modality, asset_id
    """


def q_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-derived DCT perceptual hash per image.  Full literal
    oracle (_image_phash_sql): the hash of each deterministic synth
    image is recomputed driver-side and embedded as BIGINT literals;
    the DCT math is additionally pinned by tests/test_phash.py."""
    from pic2vec_spark.ops.multimodal import compute_phash
    from pic2vec_spark.synth import synth_images_df

    images = synth_images_df(spark, N_FLAGSHIP_IMAGES, seed=42)
    return compute_phash(images).select("image_id", "phash64", "phash64_ok")


def q_image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate image pairs by Hamming distance over the computed
    phash (pigeonhole chunk buckets, never all-pairs).  Oracle is an
    INDEPENDENT all-pairs bit_count(xor) brute force in DuckDB over the
    literal phash table — it pins bucket recall, not just plan parity."""
    from pic2vec_spark.ops.dedup import hamming_neardup_pairs
    from pic2vec_spark.ops.multimodal import compute_phash
    from pic2vec_spark.synth import synth_images_df

    images = synth_images_df(spark, N_FLAGSHIP_IMAGES, seed=42)
    ph = compute_phash(images).filter(F.col("phash64_ok"))
    return hamming_neardup_pairs(
        ph.select("image_id", "phash64"), "image_id",
        max_distance=4, sig_col="phash64", bits=64,
    )


def q_image_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three perceptual fingerprints — DCT pHash, gradient dHash,
    mean aHash — in ONE decode pass (ops.multimodal.compute_fingerprints).
    At 10^12 images the JPEG decode dominates fingerprinting cost, so a
    multi-hash pipeline must never decode once per hash.  Full literal
    oracle (_image_fingerprints_sql): every hash of the deterministic
    synth corpus recomputed driver-side with the same kernels and
    embedded as BIGINT literals — which also pins fused ≡ single-pass
    (the phash64 column must equal _image_phash_sql's values)."""
    from pic2vec_spark.ops.multimodal import compute_fingerprints
    from pic2vec_spark.synth import synth_images_df

    images = synth_images_df(spark, N_FLAGSHIP_IMAGES, seed=42)
    return compute_fingerprints(images).select(
        "image_id", "phash64", "dhash64", "ahash64", "fp_ok"
    )


@_tag(bench="extended_r5c")
def q_image_tile_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-major 2×2 tile pHashes per image, exploded to (image_id,
    tile_id, tile_phash64, tile_ok) — ONE decode pass; whole-image
    pHash misses crops, tile hashes survive any crop preserving a full
    tile.  Full literal oracle (_image_tile_phash_sql): every tile hash
    of the deterministic synth corpus recomputed driver-side with the
    same slice+DCT kernels and embedded as BIGINT literals."""
    from pic2vec_spark.ops.multimodal import compute_tile_phash
    from pic2vec_spark.synth import synth_images_df

    images = synth_images_df(spark, N_FLAGSHIP_IMAGES, seed=42)
    return compute_tile_phash(images).select(
        "image_id",
        F.posexplode("tile_phashes").alias("tile_id", "tile_phash64"),
        "tile_ok",
    )


def q_image_aspect_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SDXL-style aspect-ratio bucket batching over image METADATA
    only (w, h — the payload column is never read): each image goes to
    the bucket minimizing |w/h - bw/bh| (exact-integer numerator, one
    IEEE division, first-lowest-index ties), then deterministic
    fixed-size batches inside each bucket.  The assignment is a
    zero-shuffle codegen projection; at 10^12 rows this is the epoch
    plan a diffusion trainer computes from the catalog before any
    decode.  Oracle: literal (image_id, w, h) table + the identical
    argmin/window arithmetic in SQL."""
    from pic2vec_spark.ops.batching import aspect_bucket_batches
    from pic2vec_spark.synth import synth_images_df

    images = synth_images_df(spark, N_FLAGSHIP_IMAGES, seed=42)
    return aspect_bucket_batches(
        images.select("image_id", "w", "h"), batch_size=16
    )


def q_image_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style byte-budget shard layout: shard_id =
    start_offset div budget over the exclusive prefix sum of encoded
    byte sizes in image_id order.  The global prefix sum is two-phase
    (per-bucket window cumsum + broadcast bucket-prefix join) — no
    single-partition window over the fact table; integer DIV keeps
    offsets exact past 2^53 total bytes.  Oracle: literal (image_id,
    nbytes) table + one window cumsum in SQL."""
    from pic2vec_spark.ops.batching import shard_manifest
    from pic2vec_spark.synth import synth_images_df

    images = synth_images_df(spark, N_FLAGSHIP_IMAGES, seed=42)
    sized = images.filter(F.col("bytes").isNotNull()).select(
        "image_id",
        F.octet_length("bytes").cast("long").alias("nbytes"),
        # order-consistent coarse bucket: the id's embedded index / 32
        (F.substring("image_id", 5, 9).cast("long") / 32)
        .cast("long")
        .alias("bkt"),
    )
    return shard_manifest(
        sized, 65536, id_col="image_id", bytes_col="nbytes", bucket_col="bkt"
    )


@functools.cache
def _image_nbytes_sql() -> str:
    """Literal (image_id, nbytes) payload sizes of the deterministic
    synth corpus for the shard-manifest oracle — rows with a missing
    payload are omitted (the engine filters bytes IS NOT NULL)."""
    vals = ", ".join(
        f"('{r['image_id']}', {len(r['bytes'])})"
        for r in _flagship_synth_rows()
        if r["bytes"] is not None
    )
    return f"SELECT * FROM (VALUES {vals}) AS t(image_id, nbytes)"


def _image_aspect_batches_sql(batch_size: int = 16) -> str:
    """Mirrors ops/batching.aspect_bucket_batches: same bucket list,
    same |w*bh - bw*h|/bh distance (identical exact-int operands, one
    IEEE double division — bit-equal across engines), same
    first-lowest-index tie-break, same per-bucket id-order batching."""
    from pic2vec_spark.ops.batching import DEFAULT_ASPECT_BUCKETS

    buckets = ", ".join(
        f"({i}, {bw}, {bh})"
        for i, (bw, bh) in enumerate(DEFAULT_ASPECT_BUCKETS)
    )
    return f"""
        WITH imgs AS (
          SELECT image_id, w, h FROM ({_image_meta_sql()}) m
          WHERE w IS NOT NULL AND h IS NOT NULL AND w > 0 AND h > 0
        ),
        b(bidx, bw, bh) AS (VALUES {buckets}),
        d AS (
          SELECT image_id, bidx, bw, bh,
                 abs(CAST(w AS DOUBLE) * bh - bw * CAST(h AS DOUBLE))
                   / CAST(bh AS DOUBLE) AS dist
          FROM imgs CROSS JOIN b
        ),
        pick AS (
          SELECT image_id, bidx, bw, bh,
                 row_number() OVER (
                   PARTITION BY image_id ORDER BY dist, bidx) AS rn
          FROM d
        ),
        numbered AS (
          SELECT image_id, bidx, bw, bh,
                 row_number() OVER (
                   PARTITION BY bidx ORDER BY image_id) AS rn2,
                 count(*) OVER (PARTITION BY bidx) AS cnt
          FROM pick WHERE rn = 1
        )
        SELECT image_id,
               CAST(bidx AS INTEGER) AS bucket_idx,
               CAST(bw AS INTEGER) AS bucket_w,
               CAST(bh AS INTEGER) AS bucket_h,
               CAST((rn2 - 1) // {batch_size} AS BIGINT) AS batch_idx,
               ((rn2 - 1) // {batch_size}) < (cnt // {batch_size})
                 AS batch_full
        FROM numbered
        ORDER BY image_id
    """


def _image_shard_manifest_sql(budget: int = 65536) -> str:
    """Mirrors ops/batching.shard_manifest: exclusive prefix sum of
    nbytes in image_id order, integer shard split.  Every numeric
    output is CAST AS BIGINT (the DuckDB HUGEINT->float64 fetchdf
    trap)."""
    return f"""
        WITH sized AS (
          SELECT image_id, nbytes FROM ({_image_nbytes_sql()}) m
        ),
        c AS (
          SELECT image_id, nbytes,
                 sum(nbytes) OVER (
                   ORDER BY image_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) - nbytes AS start
          FROM sized
        )
        SELECT image_id,
               CAST(nbytes AS BIGINT) AS nbytes,
               CAST(start // {budget} AS BIGINT) AS shard_id,
               CAST(start % {budget} AS BIGINT) AS shard_offset
        FROM c
        ORDER BY image_id
    """


@_tag(bench="extended_r5c")
def q_image_crop_reposts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crop-robust repost detection: a deterministic batch of quadrant
    crops (re-encoded BMP — lossless, so the crop's whole-image pHash
    equals the source tile's hash bit-for-bit) joined against the
    corpus's exploded tile-hash table on the exact 64-bit key — a
    bucketed equi-join, never all-pairs.  Oracle
    (_image_crop_reposts_sql): both hash sides recomputed driver-side
    and matched with an INDEPENDENT Python dict join, the full match
    set embedded as literals — pinning recall (the planted quadrant
    crops MUST surface) and precision (any extra hash collision appears
    on both sides identically)."""
    from pic2vec_spark.ops.multimodal import crop_source_matches
    from pic2vec_spark.synth import synth_images_df

    corpus = synth_images_df(spark, N_FLAGSHIP_IMAGES, seed=42)
    crops = spark.createDataFrame(
        [(r["crop_id"], r["bytes"], r["fmt"]) for r in _crop_rows()],
        "crop_id string, bytes binary, fmt string",
    )
    return crop_source_matches(crops, corpus)


@functools.cache
def _crop_rows() -> list[dict]:
    """Deterministic quadrant crops for the crop-repost gate: every
    idx % 10 == 2 decodable synth image is sliced to quadrant
    ``(idx // 10) % 4`` (row-major, the exact integer-arithmetic tile
    bounds of tile_phash64s) and re-encoded as lossless BMP.  Pure
    function of the deterministic corpus; undecodable sources are
    skipped."""
    from pic2vec_spark.codecs import decode_image, encode_image

    out = []
    for i, r in enumerate(_flagship_synth_rows()):
        if i % 10 != 2:
            continue
        try:
            px = decode_image(r["bytes"], r["fmt"])
        except Exception:
            continue
        q = (i // 10) % 4
        h, w = px.shape[:2]
        rr, cc = q // 2, q % 2
        tile = px[
            rr * h // 2 : (rr + 1) * h // 2, cc * w // 2 : (cc + 1) * w // 2
        ]
        out.append({
            "crop_id": f"cr{q}_" + r["image_id"],
            "bytes": encode_image(tile, "bmp"),
            "fmt": "bmp",
        })
    return out


@_tag(bench="extended_r5c")
def q_crop_probe_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time CROP gate against a persisted tile-hash Hamming
    index: the corpus's 2×2 tile pHashes are committed once (pigeonhole
    chunk buckets, file-pruned scans — the phash_index story), then an
    incoming batch of quadrant crops — lossless BMP (0-bit) AND lossy
    JPEG re-encodes (a few bits off their source tile) — is probed
    within a 6-bit Hamming ball with zero corpus re-decoding.  One
    pathological tiny tile lands 32 bits away and is missed BY DESIGN
    (the ball bounds candidate cost); the oracle is the INDEPENDENT
    all-pairs bit_count(xor) brute force over the literal tile + crop
    hash tables, so it pins pigeonhole recall at d=6, not just plan
    parity."""
    import shutil
    import tempfile

    from pic2vec_spark.ops.dedup_store import (
        build_hamming_dedup_index,
        probe_hamming_dedup_index,
    )
    from pic2vec_spark.ops.multimodal import compute_phash, compute_tile_phash
    from pic2vec_spark.synth import synth_images_df

    corpus = synth_images_df(spark, N_FLAGSHIP_IMAGES, seed=42)
    tiles = (
        compute_tile_phash(corpus)
        .filter(F.col("tile_ok"))
        .select(
            "image_id",
            F.posexplode("tile_phashes").alias("tile_id", "tile_phash64"),
        )
        .select(
            F.concat_ws("#", "image_id", "tile_id").alias("tile_key"),
            "tile_phash64",
        )
    )
    crops = spark.createDataFrame(
        [
            (r["crop_id"], r["bytes"], r["fmt"])
            for r in _crop_rows() + _crop_rows_jpeg()
        ],
        "crop_id string, bytes binary, fmt string",
    )
    ph = (
        compute_phash(crops)
        .filter(F.col("phash64_ok"))
        .select("crop_id", "phash64")
    )
    root = tempfile.mkdtemp(prefix="drv_tile_idx_")
    try:
        build_hamming_dedup_index(
            tiles, root, spark,
            id_col="tile_key", sig_col="tile_phash64", max_distance=6,
        )
        pairs = spark.createDataFrame(
            probe_hamming_dedup_index(
                root, spark, ph, id_col="crop_id", sig_col="phash64"
            ).toPandas()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    # keep crop-vs-index hits only (within-batch crop pairs are the
    # ordinary near-dup gate's business, not crop attribution)
    one_tile = F.col("id1").contains("#") != F.col("id2").contains("#")
    tkey = F.when(F.col("id1").contains("#"), F.col("id1")).otherwise(
        F.col("id2")
    )
    cid = F.when(F.col("id1").contains("#"), F.col("id2")).otherwise(
        F.col("id1")
    )
    return pairs.filter(one_tile).select(
        cid.alias("crop_id"),
        F.split(tkey, "#").getItem(0).alias("src_image_id"),
        F.split(tkey, "#").getItem(1).cast("int").alias("tile_id"),
        "hamming",
    )


@functools.cache
def _crop_rows_jpeg() -> list[dict]:
    """Lossy companions of _crop_rows: the same deterministic quadrant
    slices re-encoded as JPEG — perceptually the source tile, byte- and
    (usually) hash-distinct, landing a few Hamming bits away."""
    from pic2vec_spark.codecs import decode_image, encode_image

    out = []
    for i, r in enumerate(_flagship_synth_rows()):
        if i % 10 != 2:
            continue
        try:
            px = decode_image(r["bytes"], r["fmt"])
        except Exception:
            continue
        q = (i // 10) % 4
        h, w = px.shape[:2]
        rr, cc = q // 2, q % 2
        tile = px[
            rr * h // 2 : (rr + 1) * h // 2, cc * w // 2 : (cc + 1) * w // 2
        ]
        out.append({
            "crop_id": f"crj{q}_" + r["image_id"],
            "bytes": encode_image(tile, "jpeg"),
            "fmt": "jpeg",
        })
    return out


@functools.cache
def _crop_probe_index_sql() -> str:
    """Literal oracle for crop_probe_index: all crop pHashes (BMP +
    JPEG batches, recomputed driver-side) brute-forced against the
    literal tile-hash table with bit_count(xor) <= 6 — independent of
    the pigeonhole bucket path."""
    from pic2vec_spark.codecs import decode_image
    from pic2vec_spark.ops.multimodal import phash64

    vals = []
    for c in _crop_rows() + _crop_rows_jpeg():
        h = phash64(decode_image(c["bytes"], c["fmt"]))
        vals.append(f"('{c['crop_id']}', CAST({h} AS BIGINT))")
    return f"""
        WITH tiles AS ({_image_tile_phash_sql()}),
        cr AS (SELECT * FROM (VALUES {", ".join(vals)}) AS c(crop_id, ph))
        SELECT cr.crop_id, t.image_id AS src_image_id, t.tile_id,
               bit_count(xor(cr.ph, t.tile_phash64)) AS hamming
        FROM cr JOIN tiles t
          ON t.tile_ok AND bit_count(xor(cr.ph, t.tile_phash64)) <= 6
    """


@functools.cache
def _image_tile_phash_sql() -> str:
    """Literal oracle for image_tile_phash: the 2×2 tile hashes of each
    deterministic synth image recomputed driver-side with the SAME
    decode_image + tile_phash64s kernels the executors run."""
    from pic2vec_spark.codecs import decode_image
    from pic2vec_spark.ops.multimodal import tile_phash64s

    vals = []
    for r in _flagship_synth_rows():
        try:
            hs, ok = tile_phash64s(decode_image(r["bytes"], r["fmt"])), True
        except Exception:
            hs, ok = [0, 0, 0, 0], False
        for t, h in enumerate(hs):
            vals.append(
                f"('{r['image_id']}', {t}, CAST({h} AS BIGINT), "
                f"{'TRUE' if ok else 'FALSE'})"
            )
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(image_id, tile_id, tile_phash64, tile_ok)"
    )


@functools.cache
def _image_crop_reposts_sql() -> str:
    """Literal oracle for image_crop_reposts: corpus tile hashes and
    crop whole-image pHashes recomputed driver-side, matched with an
    independent Python dict join (hash → [(src, tile)])."""
    from pic2vec_spark.codecs import decode_image
    from pic2vec_spark.ops.multimodal import phash64, tile_phash64s

    by_hash: dict[int, list[tuple[str, int]]] = {}
    for r in _flagship_synth_rows():
        try:
            hs = tile_phash64s(decode_image(r["bytes"], r["fmt"]))
        except Exception:
            continue
        for t, h in enumerate(hs):
            by_hash.setdefault(h, []).append((r["image_id"], t))
    vals = []
    for c in _crop_rows():
        ph = phash64(decode_image(c["bytes"], c["fmt"]))
        for src, t in by_hash.get(ph, []):
            vals.append(f"('{c['crop_id']}', '{src}', {t})")
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(crop_id, src_image_id, tile_id)"
    )


@_tag(bench="extended_r5b")
def q_fingerprint_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consensus near-duplicate image pairs: a pair is reported only
    when >=2 of the 3 structurally different fingerprints (DCT /
    gradient / mean) place it within 4 Hamming bits — the single-hash
    false-positive screen for image dedup at scale.  ONE decode pass
    feeds all three pigeonhole bucket joins (the fused fingerprint
    frame is localCheckpointed: decode is the dominant cost and must
    not be paid 3x), then a pair-keyed vote count.  Oracle: the
    INDEPENDENT all-pairs bit_count(xor) brute force over the literal
    hash table — it pins bucket recall per algo AND the vote logic."""
    from pic2vec_spark.ops.dedup import hamming_neardup_pairs
    from pic2vec_spark.ops.multimodal import compute_fingerprints
    from pic2vec_spark.synth import synth_images_df

    images = synth_images_df(spark, N_FLAGSHIP_IMAGES, seed=42)
    fp = (
        compute_fingerprints(images)
        .filter(F.col("fp_ok"))
        .select("image_id", "phash64", "dhash64", "ahash64")
        .localCheckpoint(eager=False)
    )
    votes = None
    for col in ("phash64", "dhash64", "ahash64"):
        hits = hamming_neardup_pairs(
            fp.select("image_id", col), "image_id",
            max_distance=4, sig_col=col, bits=64,
        ).select(
            "id1", "id2", F.lit(col.replace("64", "")).alias("algo")
        )
        votes = hits if votes is None else votes.unionByName(hits)
    return (
        votes.groupBy("id1", "id2")
        .agg(
            F.count("*").alias("n_algos"),
            F.max(F.col("algo") == "phash").alias("hit_phash"),
            F.max(F.col("algo") == "dhash").alias("hit_dhash"),
            F.max(F.col("algo") == "ahash").alias("hit_ahash"),
        )
        .filter(F.col("n_algos") >= 2)
        .select(
            "id1", "id2", "n_algos", "hit_phash", "hit_dhash", "hit_ahash"
        )
    )


@_tag(bench="extended_r5b", scale_gate=True)
def q_temporal_image_repost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal image repost detection — the axes-A+B cross in one row:
    for every image OBSERVATION on a user's timeline, find the earlier
    observations by the SAME user within the trailing 24 h whose image
    is a perceptual near-duplicate (pHash Hamming <= 4; 'exact' when it
    is literally the same image id, 'near' otherwise).  The canonical
    feed-curation question ("is this user re-posting the same picture
    today?") needs image fingerprints AND windowed point-in-time logic
    together.  Plan: broadcast-enrich observations with the corpus
    fingerprints (bounded dim table; a 10^12-row corpus would carry the
    hash as a column instead), then ops.ranges.range_join — day-bucket
    replication + (user, bucket) EQUI-join, never a per-user cross
    product — then the exact window + Hamming filters.  Oracle: DuckDB
    brute-force self-join over the literal fingerprint table."""
    from pic2vec_spark.ops.multimodal import compute_fingerprints
    from pic2vec_spark.ops.ranges import range_join
    from pic2vec_spark.synth import synth_images_df

    images = synth_images_df(spark, N_FLAGSHIP_IMAGES, seed=42)
    fp = (
        compute_fingerprints(images)
        .filter(F.col("fp_ok"))
        .select("image_id", "phash64")
    )
    obs = (
        _timeline_from_events(spark, sf_dir, N_FLAGSHIP_IMAGES)
        .filter(F.col("kind") == "feature")
        .select("entity_id", "row_id", "ts", "image_id")
        .join(F.broadcast(fp), "image_id")
    )
    earlier = obs.select(
        "entity_id",
        F.col("row_id").alias("id1"),
        F.col("ts").alias("ts1"),
        F.col("image_id").alias("img1"),
        F.col("phash64").alias("ph1"),
    )
    later = obs.select(
        "entity_id",
        F.col("row_id").alias("id2"),
        F.col("ts").alias("ts2"),
        F.col("image_id").alias("img2"),
        F.col("phash64").alias("ph2"),
        (F.col("ts") - F.expr("INTERVAL 24 HOURS")).alias("w_start"),
        F.col("ts").alias("w_end"),
    )
    pairs = range_join(
        earlier, later, ts="ts1", start="w_start", end="w_end",
        on="entity_id", bucket_s=86400.0,
    )
    return (
        pairs.withColumn(
            "hamming",
            F.bit_count(F.col("ph1").bitwiseXOR(F.col("ph2"))).cast("long"),
        )
        .filter(F.col("hamming") <= 4)
        .select(
            F.col("entity_id").alias("user_id"),
            "id1", "id2", "img1", "img2",
            (_us("ts2") - _us("ts1")).alias("gap_us"),
            "hamming",
            F.when(F.col("img1") == F.col("img2"), F.lit("exact"))
            .otherwise(F.lit("near"))
            .alias("kind"),
        )
    )


@_tag(bench="extended_r5b", scale_gate=True)
def q_repost_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free repost FEATURES per observation — the training-side
    consumer of q_temporal_image_repost: for EVERY image observation on
    a user's timeline, how many perceptual near-duplicates (pHash
    Hamming <= 4) did the same user post in the trailing 24 h, how many
    of those were the literally-identical image, and how long ago was
    the most recent one.  All three features look strictly BACKWARD
    (half-open window, ts1 < ts2) — the point-in-time discipline of the
    as-of flagship applied to fingerprint self-similarity, zero
    temporal leakage by construction.  Plan: ONE decode (fingerprints
    broadcast onto the timeline, frame localCheckpointed so the
    earlier/later/output branches share it instead of re-scanning
    events + re-decoding), day-bucket range_join for the pair set
    (never a per-user cross product), map-side-combinable hash
    aggregate on the later-observation id, then a left join back so
    observations with no prior repost keep count 0 / NULL recency.  At
    10^12 rows the checkpoint becomes a persisted snapshot and the
    join-back shuffles on event id — no step is quadratic.  Oracle:
    DuckDB brute-force per-user self-join + the same aggregate over the
    literal fingerprint table."""
    from pic2vec_spark.ops.multimodal import compute_fingerprints
    from pic2vec_spark.ops.ranges import range_join
    from pic2vec_spark.synth import synth_images_df

    images = synth_images_df(spark, N_FLAGSHIP_IMAGES, seed=42)
    fp = (
        compute_fingerprints(images)
        .filter(F.col("fp_ok"))
        .select("image_id", "phash64")
    )
    obs = (
        _timeline_from_events(spark, sf_dir, N_FLAGSHIP_IMAGES)
        .filter(F.col("kind") == "feature")
        .select("entity_id", "row_id", "ts", "image_id")
        .join(F.broadcast(fp), "image_id")
        .localCheckpoint(eager=True)
    )
    earlier = obs.select(
        "entity_id",
        F.col("ts").alias("ts1"),
        F.col("image_id").alias("img1"),
        F.col("phash64").alias("ph1"),
    )
    later = obs.select(
        "entity_id",
        F.col("row_id").alias("id2"),
        F.col("ts").alias("ts2"),
        F.col("image_id").alias("img2"),
        F.col("phash64").alias("ph2"),
        (F.col("ts") - F.expr("INTERVAL 24 HOURS")).alias("w_start"),
        F.col("ts").alias("w_end"),
    )
    pairs = range_join(
        earlier, later, ts="ts1", start="w_start", end="w_end",
        on="entity_id", bucket_s=86400.0,
    ).filter(F.bit_count(F.col("ph1").bitwiseXOR(F.col("ph2"))) <= 4)
    feats = pairs.groupBy("id2").agg(
        F.count(F.lit(1)).alias("prior_neardups_24h"),
        F.sum(
            F.when(F.col("img1") == F.col("img2"), 1).otherwise(0)
        ).alias("prior_exact_24h"),
        F.min(_us("ts2") - _us("ts1")).alias("last_gap_us"),
    )
    return (
        obs.join(feats, obs["row_id"] == feats["id2"], "left")
        .select(
            F.col("entity_id").alias("user_id"),
            F.col("row_id").alias("event_id"),
            _us("ts").alias("ts_us"),
            "image_id",
            F.coalesce("prior_neardups_24h", F.lit(0)).alias(
                "prior_neardups_24h"
            ),
            F.coalesce("prior_exact_24h", F.lit(0)).alias("prior_exact_24h"),
            "last_gap_us",
        )
    )


@_tag(bench="extended_r5b", scale_gate=True)
def q_repost_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-user viral spread, point-in-time safe: for every image
    observation, how many DISTINCT OTHER users had posted a perceptual
    near-duplicate of the same image (pHash Hamming <= 4 connected
    component; unpaired images are their own singleton cluster)
    STRICTLY BEFORE this observation.  The global counterpart of
    q_repost_feature_matrix's per-user features — "how widely had this
    picture already spread when the user posted it" is a training
    feature only if it never peeks forward.  Plan: cluster the bounded
    fingerprint dim (pigeonhole pair buckets → min-label CC) and
    broadcast image→cluster onto the timeline; reduce to one FIRST-POST
    marker per (cluster, user); a single per-cluster cumulative window
    over the union of markers and observations (markers tie-sorted
    AFTER observations, so an equal-timestamp first post is not
    counted — strictly before); subtract the observer's own earlier
    marker with an equi-join.  One window shuffle on cluster_id, one
    join — no per-pair blowup; a hub cluster at 10^12 rows is the same
    skew case as any hot window key (salt or two-pointer range
    partition).  Oracle: recursive-CTE CC over the literal phash table
    + brute-force first-post count join in DuckDB."""
    from pyspark.sql import Window

    from pic2vec_spark.ops.dedup import hamming_neardup_pairs, neardup_clusters
    from pic2vec_spark.ops.multimodal import compute_phash
    from pic2vec_spark.synth import synth_images_df

    images = synth_images_df(spark, N_FLAGSHIP_IMAGES, seed=42)
    ph = (
        compute_phash(images)
        .filter(F.col("phash64_ok"))
        .select("image_id", "phash64")
    )
    pairs = hamming_neardup_pairs(
        ph, "image_id", max_distance=4, sig_col="phash64", bits=64
    )
    clusters = neardup_clusters(pairs).withColumnRenamed("doc_id", "image_id")
    img2cluster = (
        ph.select("image_id")
        .join(clusters, "image_id", "left")
        .select(
            "image_id",
            F.coalesce("cluster_id", "image_id").alias("cluster_id"),
        )
    )
    obs = (
        _timeline_from_events(spark, sf_dir, N_FLAGSHIP_IMAGES)
        .filter(F.col("kind") == "feature")
        .select("entity_id", "row_id", "ts", "image_id")
        .join(F.broadcast(img2cluster), "image_id")
        .localCheckpoint(eager=True)
    )
    first_posts = obs.groupBy("cluster_id", "entity_id").agg(
        F.min("ts").alias("ts")
    )
    markers = first_posts.select(
        "cluster_id",
        "ts",
        F.lit(1).alias("is_marker"),
        F.lit(None).cast("long").alias("row_id"),
        "entity_id",
        F.lit(None).cast("string").alias("image_id"),
    )
    obs_rows = obs.select(
        "cluster_id", "ts", F.lit(0).alias("is_marker"),
        "row_id", "entity_id", "image_id",
    )
    w = (
        Window.partitionBy("cluster_id")
        .orderBy("ts", "is_marker")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        markers.unionByName(obs_rows)
        .withColumn("cum_markers", F.sum("is_marker").over(w))
        .filter(F.col("is_marker") == 0)
    )
    own = first_posts.select(
        "cluster_id", "entity_id", F.col("ts").alias("own_fts")
    )
    return (
        cum.join(own, ["cluster_id", "entity_id"])
        .select(
            F.col("entity_id").alias("user_id"),
            F.col("row_id").alias("event_id"),
            _us("ts").alias("ts_us"),
            "image_id",
            "cluster_id",
            (
                F.col("cum_markers")
                - F.when(F.col("own_fts") < F.col("ts"), 1).otherwise(0)
            ).cast("long").alias("spread_users"),
        )
    )


@_tag(bench="extended_r5b")
def q_cluster_caption_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption consistency per image near-dup cluster — the "same
    picture, different words" screen at the binary-image level (the
    documents/embeddings twin is caption_image_conflicts): for every
    pHash connected component, how many members, how many DISTINCT
    captions, and the minimum pairwise word-set Jaccard between member
    captions — low min-Jaccard on a visually-identical cluster is the
    caption-drift / mislabel signal a curation pipeline screens before
    training a captioner.  Plan: clusters come from the bounded
    fingerprint dim (pigeonhole pairs → min-label CC; only paired
    images are labeled, so every cluster here has >=2 members);
    captions join WITHOUT decoding (caption is a plain column); the
    pairwise Jaccard runs within-cluster only (SemDeDup-style bounded
    cell work — never corpus all-pairs) using JVM-side array_intersect/
    array_union on distinct token arrays.  Oracle: recursive-CTE CC
    over all-pairs Hamming brute force + unnest-join token Jaccard over
    the literal caption table."""
    from pic2vec_spark.ops.dedup import hamming_neardup_pairs, neardup_clusters
    from pic2vec_spark.ops.multimodal import compute_phash
    from pic2vec_spark.synth import synth_images_df

    images = synth_images_df(spark, N_FLAGSHIP_IMAGES, seed=42)
    ph = (
        compute_phash(images)
        .filter(F.col("phash64_ok"))
        .select("image_id", "phash64")
    )
    pairs = hamming_neardup_pairs(
        ph, "image_id", max_distance=4, sig_col="phash64", bits=64
    )
    clusters = neardup_clusters(pairs).withColumnRenamed("doc_id", "image_id")
    members = (
        clusters.join(images.select("image_id", "caption"), "image_id")
        .withColumn(
            "toks",
            F.array_distinct(
                F.split(F.lower(F.trim(F.col("caption"))), r"\s+")
            ),
        )
        .localCheckpoint(eager=True)
    )
    a = members.select(
        "cluster_id", F.col("image_id").alias("id1"), F.col("toks").alias("t1")
    )
    b = members.select(
        "cluster_id", F.col("image_id").alias("id2"), F.col("toks").alias("t2")
    )
    jac = (
        a.join(b, "cluster_id")
        .filter(F.col("id1") < F.col("id2"))
        .select(
            "cluster_id",
            F.round(
                F.size(F.array_intersect("t1", "t2"))
                / F.size(F.array_union("t1", "t2")),
                4,
            ).alias("j"),
        )
        .groupBy("cluster_id")
        .agg(F.min("j").alias("min_caption_jaccard"))
    )
    counts = members.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.countDistinct("caption").alias("n_captions"),
    )
    return counts.join(jac, "cluster_id")


def _flagship_phashes(spark: SparkSession) -> DataFrame:
    """(image_id, phash64, idx) for the deterministic synth corpus —
    the fingerprint input of the persisted Hamming index queries."""
    from pic2vec_spark.ops.multimodal import compute_phash
    from pic2vec_spark.synth import synth_images_df

    images = synth_images_df(spark, N_FLAGSHIP_IMAGES, seed=42)
    return (
        compute_phash(images)
        .filter(F.col("phash64_ok"))
        .select(
            "image_id", "phash64",
            F.substring("image_id", 5, 9).cast("long").alias("idx"),
        )
        # the decode+DCT pass is the whole cost — materialize once so
        # the build/append/probe splits don't re-run it per branch
        .localCheckpoint(eager=True)
    )


@_tag(bench="extended_r5")
def q_phash_index_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted Hamming-ball index over image pHashes: build on the
    even half of the synth corpus, append the odd half (new files only,
    chunk family digest-verified), then emit every <=4-bit pair from
    the stored chunk buckets alone.  Oracle: the INDEPENDENT all-pairs
    bit_count(xor) brute force over the literal phash table — the same
    recall proof as image_phash_neardup, now through the index path."""
    import shutil
    import tempfile

    from pic2vec_spark.ops.dedup_store import (
        append_to_hamming_dedup_index,
        build_hamming_dedup_index,
        neardup_pairs_from_hamming_index,
    )

    ph = _flagship_phashes(spark)
    root = tempfile.mkdtemp(prefix="drv_ph_idx_")
    try:
        build_hamming_dedup_index(
            ph.filter(F.col("idx") % 2 == 0), root, spark,
            max_distance=4, bits=64,
        )
        append_to_hamming_dedup_index(
            ph.filter(F.col("idx") % 2 == 1), root, spark
        )
        return spark.createDataFrame(
            neardup_pairs_from_hamming_index(root, spark).toPandas()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@_tag(bench="extended_r5")
def q_phash_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time IMAGE near-dup gate: probe the incoming odd half
    against the persisted pHash index of the even half — <=4-bit pairs
    touching the batch, computed with zero corpus re-hashing (broadcast
    batch chunks × file-pruned index scan).  Oracle: the all-pairs
    brute force restricted to pairs with an odd side."""
    import shutil
    import tempfile

    from pic2vec_spark.ops.dedup_store import (
        build_hamming_dedup_index,
        probe_hamming_dedup_index,
    )

    ph = _flagship_phashes(spark)
    root = tempfile.mkdtemp(prefix="drv_ph_prb_")
    try:
        build_hamming_dedup_index(
            ph.filter(F.col("idx") % 2 == 0), root, spark,
            max_distance=4, bits=64,
        )
        return spark.createDataFrame(
            probe_hamming_dedup_index(
                root, spark, ph.filter(F.col("idx") % 2 == 1)
            ).toPandas()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@_tag(bench="extended_r5")
def q_image_gate_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-call IMAGE ingest gate: a binary-digest index (exact
    bytes) and a pHash Hamming-ball index built on the committed half
    of the synth corpus (even idx), then the incoming batch (odd idx ∪
    byte-identical re-keyed copies of every idx % 10 == 0 image) is
    classified exact_dup / near_dup / new in one pass — exact wins,
    keep_id = the committed image it duplicates — and survivors are
    appended to both indexes.  The batch also carries format-TRANSCODED
    copies (decode → re-encode BMP) of committed images: perceptually
    identical but (except BMP-source roundtrips) byte-distinct, so they
    gate as near_dup — the canonical image near-duplicate.  Oracle: the
    same classification
    from literal tables — hashlib md5 digests (independent of Spark's
    md5) joined for exact, the literal phash tables brute-forced with
    bit_count(xor) <= 4 for near."""
    import shutil
    import tempfile

    from pic2vec_spark.ops.dedup_store import (
        build_digest_dedup_index,
        build_hamming_dedup_index,
        media_ingest_gate,
    )
    from pic2vec_spark.ops.multimodal import compute_phash
    from pic2vec_spark.synth import synth_images_df

    images = (
        synth_images_df(spark, N_FLAGSHIP_IMAGES, seed=42)
        .withColumn("idx", F.substring("image_id", 5, 9).cast("long"))
        .select("image_id", "bytes", "fmt", "idx")
        # the decode+DCT pass feeds the corpus index build AND the
        # gate's batch probe — materialize the source once
        .localCheckpoint(eager=True)
    )
    corpus = images.filter(F.col("idx") % 2 == 0)
    batch = (
        images.filter(F.col("idx") % 2 == 1)
        .unionByName(
            images.filter(F.col("idx") % 10 == 0).withColumn(
                "image_id", F.concat(F.lit("re_"), F.col("image_id"))
            )
        )
        .select("image_id", "bytes", "fmt")
        .unionByName(
            spark.createDataFrame(
                [(r["image_id"], r["bytes"], r["fmt"])
                 for r in _transcode_rows()],
                "image_id string, bytes binary, fmt string",
            )
        )
    )
    droot = tempfile.mkdtemp(prefix="drv_img_dig_")
    hroot = tempfile.mkdtemp(prefix="drv_img_ham_")
    try:
        build_digest_dedup_index(
            corpus, droot, spark,
            id_col="image_id", text_col="bytes", norm="binary",
        )
        ph = compute_phash(corpus)
        build_hamming_dedup_index(
            ph.filter(F.col("phash64_ok")), hroot, spark,
            max_distance=4, bits=64,
        )
        return spark.createDataFrame(
            media_ingest_gate(batch, droot, hroot, spark).toPandas()
        )
    finally:
        shutil.rmtree(droot, ignore_errors=True)
        shutil.rmtree(hroot, ignore_errors=True)


def q_image_thumbnails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode/resize/re-encode over binary image columns.
    Full literal oracle on the re-encoded thumbnail byte length (the
    SQL-visible projection of the binary output); codec correctness is
    additionally pinned by tests/test_codecs.py round-trips."""
    from pic2vec_spark.ops.multimodal import image_thumbnail
    from pic2vec_spark.synth import synth_images_df

    images = synth_images_df(spark, N_FLAGSHIP_IMAGES, seed=42)
    out = image_thumbnail(images, size=(32, 32))
    return out.select(
        "image_id", "fmt", "thumb_ok", F.length("thumb").alias("thumb_bytes")
    )


def q_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image quality metrics (brightness/contrast/entropy/Laplacian
    sharpness) — the pre-CNN curation screen.  Full literal oracle
    (_image_stats_sql, round-6 metric literals); the kernels are
    additionally closed-form-pinned by tests/test_image_ops.py."""
    from pic2vec_spark.ops.multimodal import image_stats
    from pic2vec_spark.synth import synth_images_df

    images = synth_images_df(spark, N_FLAGSHIP_IMAGES, seed=42)
    return image_stats(images).select(
        "image_id", "fmt", "stats_ok",
        "brightness", "contrast", "dyn_range", "entropy", "sharpness",
    )


@_tag(bench="extended_r5d")
def q_image_color_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image COLOR metrics (ops/multimodal.image_color_stats):
    channel means, mean HSV saturation, Hasler–Süsstrunk colorfulness,
    and the is_grayscale verdict — the de-saturated / monochrome-scan
    screen the grayscale quality stats can't express.  One vectorized
    decode pass, narrow map, no shuffle.  Full literal oracle
    (driver-side recompute with the same kernel, round-6)."""
    from pic2vec_spark.ops.multimodal import image_color_stats
    from pic2vec_spark.synth import synth_images_df

    images = synth_images_df(spark, N_FLAGSHIP_IMAGES, seed=42)
    return image_color_stats(images).select(
        "image_id", "fmt", "color_ok",
        "mean_r", "mean_g", "mean_b", "mean_sat", "colorfulness",
        # NULL booleans render asymmetrically across engines (None vs
        # NaN) in the driver's string compare; undecodable rows carry
        # color_ok=False as the mask, so pin the verdict itself FALSE
        F.coalesce("is_grayscale", F.lit(False)).alias("is_grayscale"),
    )


@functools.cache
def _image_color_stats_sql() -> str:
    """Literal oracle for image_color_stats: the color kernel
    recomputed driver-side over the same deterministic synth corpus,
    embedded as round-6 DOUBLE literals (decode failures embed NULL
    metrics + color_ok=FALSE, NULL verdict)."""
    from pic2vec_spark.codecs import decode_image
    from pic2vec_spark.ops.multimodal import (
        _COLOR_COLS,
        GRAYSCALE_SAT_FLOOR,
        image_color_metrics,
    )

    vals = []
    for r in _flagship_synth_rows():
        fmt = "NULL" if r["fmt"] is None else f"'{r['fmt']}'"
        try:
            s = image_color_metrics(decode_image(r["bytes"], r["fmt"]))
            metrics = ", ".join(repr(round(s[c], 6)) for c in _COLOR_COLS)
            gray = (
                "TRUE"
                if round(s["mean_sat"], 6) < GRAYSCALE_SAT_FLOOR
                else "FALSE"
            )
            ok = "TRUE"
        except Exception:
            metrics = ", ".join(["CAST(NULL AS DOUBLE)"] * len(_COLOR_COLS))
            gray = "FALSE"
            ok = "FALSE"
        vals.append(f"('{r['image_id']}', {fmt}, {ok}, {metrics}, {gray})")
    cols = ", ".join(_COLOR_COLS)
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + f") AS t(image_id, fmt, color_ok, {cols}, is_grayscale)"
    )


def q_image_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-row augmentation (md5-keyed op choice —
    reproducible under retries/repartitioning).  Full literal oracle
    sharing the engine's augment_pick; kernels and lossless round-trips
    additionally pinned by tests/test_image_ops.py."""
    from pic2vec_spark.ops.multimodal import augment_images
    from pic2vec_spark.synth import synth_images_df

    images = synth_images_df(spark, N_FLAGSHIP_IMAGES, seed=42)
    return augment_images(images, seed=AUGMENT_SEED).select(
        "image_id", "fmt", "aug_op", "aug_ok", F.length("aug").alias("aug_bytes")
    )


@_tag(bench="extended_r5b")
def q_image_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused single-decode-pass curation profile: quality metrics AND
    the DCT perceptual hash from one decode of each image — at 10^12
    images decode dominates curation cost, so any pipeline needing both
    must not pay it twice.  Full oracle: the image_stats ⨝ image_phash
    literal tables (the fused pass must be column-identical to the
    two-pass composition — also pinned by tests/test_image_ops.py)."""
    from pic2vec_spark.ops.multimodal import image_profile
    from pic2vec_spark.synth import synth_images_df

    images = synth_images_df(spark, N_FLAGSHIP_IMAGES, seed=42)
    return image_profile(images).select(
        "image_id", "fmt", "stats_ok",
        "brightness", "contrast", "dyn_range", "entropy", "sharpness",
        "phash64", "phash64_ok",
    )


@_tag(bench="extended_r5b")
def q_image_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-rule pass/fail suite for images (the pixel-side
    mirror of doc_gopher_rules): decode / resolution / aspect /
    brightness band / entropy / sharpness / dynamic-range screens, each
    its own boolean column so a curation run reports WHICH screen
    failed.  Full oracle: the rule thresholds re-applied in SQL over
    the image_stats literals joined to the (image_id, w, h) metadata
    literals."""
    from pic2vec_spark.ops.multimodal import IMAGE_RULE_COLS, image_quality_rules
    from pic2vec_spark.synth import synth_images_df

    images = synth_images_df(spark, N_FLAGSHIP_IMAGES, seed=42)
    return image_quality_rules(images).select(
        "image_id", *IMAGE_RULE_COLS, "passes"
    )


GOPHER_RULE_ORDER = [
    "rule_word_count", "rule_mean_word_len", "rule_symbol_ratio",
    "rule_bullet", "rule_ellipsis", "rule_alpha", "rule_stopwords",
]


@_tag(bench="extended_r5b")
def q_doc_rule_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rules attrition report over the documents table: per rule
    the independent pass count AND the cumulative survivor count — the
    Gopher paper's per-screen removal accounting, computed in ONE
    aggregation pass (never a scan per rule).  Oracle re-derives the
    funnel in SQL over the doc_gopher_rules oracle."""
    from pic2vec_spark.ops.quality import rule_funnel
    from pic2vec_spark.ops.text import gopher_quality_flags

    return rule_funnel(
        gopher_quality_flags(_documents(spark, sf_dir)), GOPHER_RULE_ORDER
    )


@_tag(bench="extended_r5b")
def q_image_rule_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-side rule attrition: the same one-pass funnel over the
    image_quality_rules booleans (decode → resolution → aspect →
    brightness → entropy → sharpness → dyn-range) — which screen drops
    how much of the corpus, and the survivor curve through the
    pipeline.  Oracle re-derives the funnel over the rules literals."""
    from pic2vec_spark.ops.multimodal import IMAGE_RULE_COLS, image_quality_rules
    from pic2vec_spark.ops.quality import rule_funnel
    from pic2vec_spark.synth import synth_images_df

    images = synth_images_df(spark, N_FLAGSHIP_IMAGES, seed=42)
    return rule_funnel(image_quality_rules(images), list(IMAGE_RULE_COLS))


@_tag(bench="extended_r5b")
def q_image_neardup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked canonical selection over pHash near-dup clusters:
    one decode pass (fused profile), pigeonhole Hamming pairs, min-label
    CC, then per-cluster rank by sharpness → entropy → pixel count →
    id, keeping the BEST member instead of an arbitrary min-id.  Full
    oracle: recursive-CTE CC over the literal phash table + the window
    rank over the literal stats/metadata — an all-pairs brute force
    that also re-pins bucket recall."""
    from pic2vec_spark.ops.multimodal import image_neardup_survivors
    from pic2vec_spark.synth import synth_images_df

    images = synth_images_df(spark, N_FLAGSHIP_IMAGES, seed=42)
    return image_neardup_survivors(images, max_distance=4)


def q_neardup_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the simhash near-dup pair graph — the
    dedup-health diagnostic (a fat tail = hub documents = a template or
    boilerplate family worth a targeted rule).  Composes the
    simhash_neardup member query; oracle composes its oracle."""
    pairs = q_simhash_neardup(spark, sf_dir)
    deg = (
        pairs.select(F.col("id1").alias("doc_id"))
        .unionAll(pairs.select(F.col("id2").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_docs"))


@_tag(bench="extended_r5b", eager=True)
def q_multimodal_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal (image+caption) corpus construction — the
    image-side mirror of training_corpus: decode-quality screen
    (stats_ok, entropy/sharpness floors drop blanks and blurred rows) →
    phash near-dup survivors (one image per Hamming CC cluster) →
    caption quality floor → deterministic split.  Screen + phash come
    from the fused one-decode-pass image_profile.  Full composed oracle
    (_multimodal_corpus_sql) reusing the member literal oracles inside a
    recursive-CTE connected-components; every member kernel is
    additionally pinned by its own tests."""
    from pic2vec_spark.ops.dedup import hamming_neardup_pairs, neardup_clusters
    from pic2vec_spark.ops.multimodal import image_profile
    from pic2vec_spark.ops.sampling import hash_split
    from pic2vec_spark.ops.text import quality_score
    from pic2vec_spark.synth import synth_images_df

    images = synth_images_df(spark, N_FLAGSHIP_IMAGES, seed=42)
    # ONE decode pass (fused profile) for the quality screen AND the
    # phash — the old image_stats→compute_phash composition decoded
    # every surviving image twice, and decode dominates at corpus
    # scale.  The binary column is dropped before the checkpoint so it
    # never shuffles; the checkpoint materializes the decode once for
    # both consumers (the pair join and the survivor anti-join).
    ph = (
        image_profile(images)
        .filter(
            F.col("stats_ok") & (F.col("entropy") >= 1.0)
            & (F.col("sharpness") >= 1.0) & F.col("phash64_ok")
        )
        .select("image_id", "caption", "phash64")
        .localCheckpoint(eager=False)
    )
    pairs = hamming_neardup_pairs(
        ph.select("image_id", "phash64"), "image_id",
        max_distance=4, sig_col="phash64", bits=64,
    )
    clusters = neardup_clusters(pairs, "id1", "id2")
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias("image_id")
    )
    survivors = ph.join(losers, "image_id", "left_anti")
    # captions are short fragments — they score lower than documents on
    # the composite (length term), so the floor is caption-calibrated
    capq = quality_score(survivors, text_col="caption").filter(
        F.col("caption").isNotNull() & (F.col("quality") >= CAPTION_QUALITY_FLOOR)
    )
    return hash_split(capq.select("image_id"), "image_id", test_pct=10).orderBy(
        "image_id"
    )


# --------------------------------------------------------------------------
# product-analytics layer (round 3b): funnel, transitions, cohorts, overlap
# join, cube, robust stats, corpus bigrams, inverted index
# --------------------------------------------------------------------------

FUNNEL_STEPS = ["view", "click", "purchase"]


@_tag(bench="extended_r3b")
def q_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view->click->purchase: chained conditional MIN
    aggregations (each step's scan filtered by event_type, stage table
    entity-level and broadcast back) — no per-entity collect_list."""
    from pic2vec_spark.ops.funnel import funnel_stages

    return funnel_stages(_events(spark, sf_dir), FUNNEL_STEPS)


@_tag(bench="extended_r3b")
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix (lag over entity
    timeline, grouped count, per-prev probability)."""
    from pic2vec_spark.ops.funnel import event_transitions

    return event_transitions(_events(spark, sf_dir))


@_tag(bench="extended_r3b")
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention triangle (engine-neutral week buckets:
    floor(days since 2024-01-01 / 7))."""
    from pic2vec_spark.ops.cohort import cohort_retention

    return cohort_retention(_events(spark, sf_dir))


@_tag(bench="extended_r3b")
def q_session_incident_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval × interval overlap join: per-user sessions vs global
    error-burst incidents (≥3 errors within the session gap), via the
    bucketed overlap join — equi-join on time bucket + canonical-bucket
    dedup, never a NestedLoop."""
    from pic2vec_spark.ops.ranges import interval_overlap_join
    from pic2vec_spark.ops.windows import sessionize

    ev = _events(spark, sf_dir)
    s = sessionize(ev, gap_s=SESSION_GAP_S, on="user_id", ts="ts", tiebreak="event_id")
    left = s.groupBy("user_id", "session_id").agg(
        F.unix_micros(F.min("ts").cast("timestamp")).alias("s_start_us"),
        F.unix_micros(F.max("ts").cast("timestamp")).alias("s_end_us"),
    )
    errs = ev.filter(F.col("event_type") == "error").withColumn("g", F.lit(1))
    inc = sessionize(errs, gap_s=SESSION_GAP_S, on="g", ts="ts", tiebreak="event_id")
    right = (
        inc.groupBy("session_id")
        .agg(
            F.unix_micros(F.min("ts").cast("timestamp")).alias("i_start_us"),
            F.unix_micros(F.max("ts").cast("timestamp")).alias("i_end_us"),
            F.count(F.lit(1)).alias("i_n"),
        )
        .filter(F.col("i_n") >= 3)
        .withColumnRenamed("session_id", "incident_id")
    )
    # bounds are epoch-µs bigints, so bucket_s is in µs (1 hour)
    return interval_overlap_join(
        left, right, "s_start_us", "s_end_us", "i_start_us", "i_end_us",
        bucket_s=3600.0 * 1e6,
    ).select(
        "user_id", "session_id", "incident_id",
        (
            F.least("s_end_us", "i_end_us") - F.greatest("s_start_us", "i_start_us")
        ).alias("overlap_us"),
    )


@_tag(bench="extended_r3b")
def q_event_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, day-of-week): all 4 grouping sets with
    grouping_id, decimal-exact value sums (completes the grouping-sets
    operator class next to pricing_rollup's ROLLUP and the pivot).
    Day-of-week is engine-neutral: days-since-2024-01-01 mod 7."""
    ev = _events(spark, sf_dir)
    return (
        ev.withColumn(
            "dow",
            F.pmod(
                F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")),
                F.lit(7),
            ),
        )
        .cube("event_type", "dow")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("sum_value"),
            F.grouping_id().alias("gid"),
        )
        .select(
            F.coalesce("event_type", F.lit("<all>")).alias("event_type"),
            F.coalesce(F.col("dow").cast("string"), F.lit("<all>")).alias("dow"),
            "n",
            "sum_value",
            "gid",
        )
    )


@_tag(bench="extended_r3b")
def q_value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier screen: exact median, median absolute
    deviation, and |v − med| > 3·MAD counts."""
    from pic2vec_spark.ops.stats import mad_outliers

    return mad_outliers(_events(spark, sf_dir), on="event_type", value="value", cutoff=3.0)


@_tag(bench="extended_r3b")
def q_corpus_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 bigrams over documents (posexplode + doc-keyed
    lag + grouped count; final top-k sorts the aggregated bigram table)."""
    from pic2vec_spark.ops.text import top_bigrams

    return top_bigrams(_documents(spark, sf_dir), k=20)


@_tag(bench="extended_r3b")
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token -> sorted postings-list index (df ≥ 5): distinct (term,doc)
    shuffle + grouped sort_array(collect_list); postings zero-padded so
    lexicographic == numeric order on both engines."""
    from pic2vec_spark.ops.text import inverted_index

    return inverted_index(_documents(spark, sf_dir), min_df=5)


# --------------------------------------------------------------------------
# feature-encoding layer (round 3c): target/LOO/count encoding, quantile
# bins, standard scaling, exact-sum correlations, hashed crosses
# --------------------------------------------------------------------------

TE_SMOOTHING = 20.0
N_VALUE_BINS = 8
N_CROSS_BUCKETS = 64


def q_event_type_target_enc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed mean target encoding map for event_type against value
    (dimension-sized output; rows get it via broadcast join)."""
    from pic2vec_spark.ops.encode import target_encode

    return target_encode(
        _events(spark, sf_dir), "event_type", "value", smoothing=TE_SMOOTHING
    )


def q_event_value_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row leave-one-out target encoding (each event's category mean
    excludes its own value — the anti-leakage form)."""
    from pic2vec_spark.ops.encode import loo_target_encode

    return loo_target_encode(
        _events(spark, sf_dir), "event_type", "value", smoothing=TE_SMOOTHING
    ).select("event_id", "event_type", "loo")


def q_value_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency binning of event values (exact interpolated
    boundaries), summarized per bin so the check covers every row's
    assignment without emitting the full table."""
    from pic2vec_spark.ops.encode import quantile_bins

    binned = quantile_bins(_events(spark, sf_dir), "value", N_VALUE_BINS)
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 4).alias("lo"),
        F.round(F.max("value"), 4).alias("hi"),
    )


def q_event_value_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global z-score of event values from exact decimal sums (the
    bit-stable fit+transform; per-row output pins every assignment)."""
    from pic2vec_spark.ops.encode import standard_scale

    return standard_scale(_events(spark, sf_dir), "value").select(
        "event_id", F.round("z", 6).alias("z")
    )


LINEITEM_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_lineitem_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations over lineitem numerics from exact
    decimal sums in one aggregation pass (feature-selection screen)."""
    from pic2vec_spark.ops.encode import corr_pairs

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return corr_pairs(li, LINEITEM_CORR_COLS)


def q_event_cross_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed feature cross of (event_type × hour-of-day) into 64
    buckets (md5-portable hashing trick), reported as bucket counts."""
    from pic2vec_spark.ops.encode import feature_cross

    ev = _events(spark, sf_dir).withColumn("hr", F.hour("ts"))
    crossed = feature_cross(ev, ["event_type", "hr"], N_CROSS_BUCKETS)
    return crossed.groupBy("cross_bucket").agg(F.count(F.lit(1)).alias("n"))


# --------------------------------------------------------------------------
# tokenizer-training / vocabulary / batching (round 5)
# --------------------------------------------------------------------------

BPE_N_MERGES = 12


@_tag(bench="extended_r5c", scale_gate=True)
def q_doc_word_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus word-frequency table (lowercase alpha runs) — the working
    set for tokenizer training.  One shuffle; output = |distinct words|."""
    from pic2vec_spark.ops.text import word_freqs

    return word_freqs(_documents(spark, sf_dir))


@_tag(bench="extended_r5c", scale_gate=True)
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich 2016) over the
    deterministic flagship caption corpus: each merge round is one
    small shuffle over the WORD-frequency table (never the corpus) plus
    a 1-row argmax collect.  Oracle (_bpe_merges_sql) is an INDEPENDENT
    sequential reference implementation run driver-side over the same
    captions and embedded as literals — it pins merge choice, tie-break
    order, and pair counts, not just plan parity."""
    from pic2vec_spark.ops.text import bpe_train
    from pic2vec_spark.synth import synth_images_df

    caps = synth_images_df(spark, N_FLAGSHIP_IMAGES, seed=42).select(
        F.col("caption").alias("text")
    )
    return bpe_train(caps, n_merges=BPE_N_MERGES, min_freq=2)


@_tag(bench="extended_r5c", scale_gate=True)
def q_doc_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus top-V
    vocabulary: one corpus shuffle builds the vocab, then the re-scan
    joins against the BROADCAST vocab (bounded at V rows) — no second
    corpus-sized shuffle."""
    from pic2vec_spark.ops.text import vocab_coverage

    return vocab_coverage(_documents(spark, sf_dir), vocab_size=10)


@_tag(bench="extended_r5c", scale_gate=True)
def q_doc_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-interleaved curriculum schedule: per-source quality
    ntile stages + round-robin rank within (stage, source).  Every
    window is partitioned (no global sort exists at 100 TB); the
    training order is the emitted sort key."""
    from pic2vec_spark.ops.text import curriculum_order

    return curriculum_order(
        _documents(spark, sf_dir),
        quality_col="n_chars",
        source_col="source",
        id_col="doc_id",
        n_stages=4,
    ).select("doc_id", "source", "stage", "rr")


@_tag(bench="extended_r5c", scale_gate=True)
def q_doc_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed dynamic batching with per-batch padding waste:
    sort-by-length within each source shard, fixed-size cut, report
    (n_docs, max_len, sum_tokens, pad_frac) per batch."""
    from pic2vec_spark.ops.text import length_bucketed_batches

    return length_bucketed_batches(
        _documents(spark, sf_dir),
        len_col="n_chars",
        group_col="source",
        id_col="doc_id",
        batch_size=32,
    )


@_tag(bench="extended_r5c", scale_gate=True)
def q_bpe_token_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end tokenizer loop: TRAIN merges on the deterministic
    caption corpus (bpe_train), then ENCODE the same corpus with the
    learned merges (bpe_encode — zero-shuffle narrow projection, the
    merge list folded in as literals) and report the post-merge token
    frequency table.  Oracle = the independent sequential reference
    (train + encode) run driver-side, frequencies embedded as
    literals — pins the full train→encode round trip, not just the
    merge table."""
    from pic2vec_spark.ops.text import bpe_encode, bpe_train
    from pic2vec_spark.synth import synth_images_df

    caps = synth_images_df(spark, N_FLAGSHIP_IMAGES, seed=42).select(
        F.col("caption").alias("text")
    )
    merges = [
        (r["pair_left"], r["pair_right"])
        for r in bpe_train(caps, n_merges=BPE_N_MERGES, min_freq=2)
        .orderBy("rank")
        .collect()
    ]
    return (
        bpe_encode(caps, merges)
        .select(F.explode("bpe_tokens").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _py_bpe_reference(
    texts: list[str], n_merges: int, min_freq: int = 2
) -> tuple[list[tuple], list[list[str]]]:
    """Independent sequential BPE (train + encode) — the textbook
    dict-of-words loop, nothing shared with the distributed
    Catalyst-fold implementation.  Returns (merges, per-text tokens)."""
    from collections import Counter

    wf: Counter = Counter()
    for t in texts:
        wf.update(_re.findall(r"[a-z]+", t.lower()))
    words: dict[tuple, int] = {}
    for w, f in wf.items():
        if len(w) >= 2:
            words[tuple(w)] = words.get(tuple(w), 0) + f
    merges: list[tuple] = []
    for rank in range(1, n_merges + 1):
        pc: Counter = Counter()
        for syms, f in words.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += f
        if not pc:
            break
        (a, b), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < min_freq:
            break
        merges.append((rank, a, b, a + b, n))
        nxt: dict[tuple, int] = {}
        for syms, f in words.items():
            out: list[str] = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            if len(out) >= 2:
                key = tuple(out)
                nxt[key] = nxt.get(key, 0) + f
        words = nxt

    def enc(word: str) -> list[str]:
        out = list(word)
        for _, a, b, _m, _n in merges:
            nxt2: list[str] = []
            for x in out:
                if nxt2 and nxt2[-1] == a and x == b:
                    nxt2[-1] = a + b
                else:
                    nxt2.append(x)
            out = nxt2
        return out

    encoded = [
        [tok for w in _re.findall(r"[a-z]+", t.lower()) for tok in enc(w)]
        for t in texts
    ]
    return merges, encoded


@functools.cache
def _bpe_token_freqs_sql() -> str:
    """Literal oracle for bpe_token_freqs: sequential train+encode over
    the same deterministic captions, token frequencies as literals."""
    from collections import Counter

    texts = [r["caption"] for r in _flagship_synth_rows()]
    _, encoded = _py_bpe_reference(texts, BPE_N_MERGES)
    tf: Counter = Counter()
    for toks in encoded:
        tf.update(toks)
    vals = [
        f"('{t}', CAST({n} AS BIGINT))" for t, n in sorted(tf.items())
    ]
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(token, freq)"
    )


@functools.cache
def _bpe_merges_sql() -> str:
    """Literal oracle for bpe_merges: an independent SEQUENTIAL BPE
    (dict-of-words loop, the textbook Sennrich algorithm — nothing
    shared with the distributed Catalyst-fold implementation) run over
    the same deterministic captions, merges embedded as literals."""
    texts = [r["caption"] for r in _flagship_synth_rows()]
    merges, _ = _py_bpe_reference(texts, BPE_N_MERGES)
    vals = [
        f"(CAST({rk} AS BIGINT), '{a}', '{b}', '{m}', CAST({n} AS BIGINT))"
        for rk, a, b, m, n in merges
    ]
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(rank, pair_left, pair_right, merged, freq)"
    )


@_tag(bench="extended_r5c", scale_gate=True)
def q_doc_bigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-LM perplexity under the corpus's own add-1
    smoothed bigram model (CCNet-style fluency, one order above
    doc_unigram_logprob).  One corpus scan feeds the checkpointed
    bigram frame; count tables are vocabulary-sized; per-bigram lp is
    the order-proof DECIMAL(18,8) sum.  The mean is aliased
    mean_logprob (not avg_*) so the unique bit-stable doc_id leads the
    driver's alphabetical sort: the round-6 mean can land on a
    half-boundary where the engines' last digit differs by 1e-6 —
    within the value tolerance, but fatal to row alignment if a float
    column sorts first."""
    from pic2vec_spark.ops.text import bigram_logprob

    return bigram_logprob(_documents(spark, sf_dir)).select(
        "doc_id",
        "n_bigrams",
        F.col("avg_logprob").alias("mean_logprob"),
        "ppl",
    )


@_tag(bench="extended_r5c", scale_gate=True)
def q_doc_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail quality split over bigram perplexity:
    tertile thresholds from ONE tiny exact-percentile aggregate
    broadcast back, bucket = 1 + #{thresholds < ppl} (the parity-proven
    strictly-less rule from encode.quantile_bins) — no global sort."""
    from pic2vec_spark.ops.text import bigram_logprob, perplexity_buckets

    ppl = bigram_logprob(_documents(spark, sf_dir))
    return perplexity_buckets(ppl).select(
        "doc_id", "ppl", "bucket_id", "bucket"
    )


_BIGRAM_LP_CTE = r"""
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
          FROM documents
        ), bg0 AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(toks)), i -> toks[i]))
                   AS w1,
                 unnest(list_transform(range(1, len(toks)), i -> toks[i+1]))
                   AS w2
          FROM t
        ), b AS (
          SELECT * FROM bg0 WHERE length(w1) > 0 AND length(w2) > 0
        ), cnt AS (
          SELECT w1, w2, COUNT(*) AS c FROM b GROUP BY 1, 2
        ), ctx AS (
          SELECT w1, SUM(c) AS ctxn FROM cnt GROUP BY 1
        ), v AS (
          SELECT COUNT(DISTINCT tok) AS v FROM (
            SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
            FROM documents
          ) WHERE length(tok) > 0
        ), lp AS (
          SELECT b.doc_id,
                 CAST(ROUND(LN((c.c + 1.0)
                               / (x.ctxn + 1.0 * (SELECT v FROM v))), 6)
                      AS DECIMAL(18,8)) AS lp
          FROM b JOIN cnt c USING (w1, w2) JOIN ctx x USING (w1)
        ), p AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                 ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_logprob,
                 ROUND(EXP(-ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6)), 6)
                   AS ppl
          FROM lp GROUP BY 1
        )
"""

_DOC_BIGRAM_PPL_SQL = _BIGRAM_LP_CTE + """
        SELECT doc_id, n_bigrams, avg_logprob AS mean_logprob, ppl FROM p
"""

_DOC_PPL_BUCKETS_SQL = _BIGRAM_LP_CTE + """
        , th AS (
          SELECT quantile_cont(ppl, 1.0/3.0) AS t1,
                 quantile_cont(ppl, 2.0/3.0) AS t2
          FROM p
        )
        SELECT doc_id, ppl,
               CAST(1 + (CASE WHEN t1 < ppl THEN 1 ELSE 0 END)
                      + (CASE WHEN t2 < ppl THEN 1 ELSE 0 END) AS INT)
                 AS bucket_id,
               CASE WHEN t2 < ppl THEN 'tail'
                    WHEN t1 < ppl THEN 'middle'
                    ELSE 'head' END AS bucket
        FROM p, th
"""


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_pit_featurize_asof(spark, "/root/testdata/sf0.001")


def _registered() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every module-level ``q_<name>`` function under ``<name>``, in
    definition order: defining the function registers the query."""
    return {
        n[2:]: f for n, f in globals().items()
        if n.startswith("q_") and callable(f)
    }


def _last_gated_round() -> dict[str, int]:
    """Query name -> the newest round whose committed driver artifact
    (``CORRECTNESS_r<NN>.json`` next to this file) names it."""
    last: dict[str, int] = {}
    for p in Path(__file__).resolve().parent.glob("CORRECTNESS_r*.json"):
        m = _re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name)
        if m:
            for name in json.loads(p.read_text()):
                last[name] = max(last.get(name, 0), int(m.group(1)))
    return last


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The registry, ordered for the round driver's correctness gate,
    which checks only the FIRST 50 entries: queries never named in a
    committed CORRECTNESS artifact lead, then the oldest last-gated
    round; ties keep definition order.  Each round's gate thus covers
    the least recently verified queries."""
    last = _last_gated_round()
    reg = _registered()
    return {n: reg[n] for n in sorted(reg, key=lambda n: last.get(n, 0))}


def tagged(tag: str) -> dict[str, object]:
    """``{name: value}`` of the registered queries carrying ``tag`` (one
    of ``QUERY_TAGS``), in definition order."""
    assert tag in QUERY_TAGS, f"unknown query tag: {tag}"
    return {
        n: f.tags[tag] for n, f in _registered().items()
        if tag in getattr(f, "tags", {})
    }


_ASOF_ORACLE = """
WITH f AS (
  SELECT user_id, ts, event_id, value, 0 AS side
  FROM events WHERE event_type <> 'purchase'
), q AS (
  SELECT user_id, ts, event_id, CAST(NULL AS DOUBLE) AS value, 1 AS side
  FROM events WHERE event_type = 'purchase'
), u AS (
  SELECT * FROM f UNION ALL SELECT * FROM q
), m AS (
  SELECT u.*,
    last_value(CASE WHEN side = 0 THEN value END IGNORE NULLS) OVER w AS value_asof,
    last_value(CASE WHEN side = 0 THEN ts END IGNORE NULLS) OVER w AS fts
  FROM u
  WINDOW w AS (
    PARTITION BY user_id ORDER BY ts, side, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  )
)
SELECT event_id, user_id, epoch_us(ts) AS ts_us, {val} AS value_asof,
       {fts} AS feature_ts_us
FROM m WHERE side = 1
"""


# shared SQL fragments for the document-dedup oracles -----------------------

_SQL_TOKS = (
    "SELECT doc_id, regexp_split_to_array(trim(lower(trim(text))), '\\s+') AS t "
    "FROM documents"
)
_SQL_SHINGLES = f"""
  toks AS ({_SQL_TOKS}),
  pos AS (
    SELECT doc_id, t, unnest(generate_series(1, len(t) - {JACCARD_N - 1})) AS i
    FROM toks WHERE len(t) >= {JACCARD_N}
  ),
  sh AS (
    SELECT DISTINCT doc_id,
      CAST('0x' || substr(md5(array_to_string(t[i:i+{JACCARD_N - 1}], ' ')), 1, 15) AS BIGINT) AS sh
    FROM pos
  )
"""


def _minhash_sql() -> str:
    from pic2vec_spark.ops.dedup import MERSENNE_P, _perm_constants

    mins = ", ".join(
        f"MIN(((sh % {MERSENNE_P}) * {a} + {b}) % {MERSENNE_P}) AS h{i}"
        for i, (a, b) in enumerate(_perm_constants(MINHASH_K))
    )
    return f"sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id)"


def _minhash_lsh_sql() -> str:
    rows = MINHASH_K // MINHASH_BANDS
    bands = "\n    UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5(concat_ws('_', {cols})) AS band_sig FROM sig".format(
            b=b, cols=", ".join(f"h{b * rows + r}" for r in range(rows))
        )
        for b in range(MINHASH_BANDS)
    )
    return f"""
    WITH {_SQL_SHINGLES}, {_minhash_sql()},
    bands AS ({bands})
    SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    """


def _simhash_sql() -> str:
    sums = ", ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(60)
    )
    fp = " + ".join(f"CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(60))
    return f"""
    WITH toks AS ({_SQL_TOKS}),
    tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    th AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM tok),
    bits AS (SELECT doc_id, {sums} FROM th GROUP BY doc_id)
    SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM bits
    """


_SQL_COS = (
    "ROUND(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
)


def _simhash_pairs_sql() -> str:
    """Oracle for simhash_neardup: direct all-pairs Hamming filter over
    the simhash signatures (the Spark side uses pigeonhole chunk buckets,
    which is guaranteed to find exactly the same pair set)."""
    return f"""
    WITH sig AS ({_simhash_sql()})
    SELECT a.doc_id AS id1, b.doc_id AS id2,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAXDIST}
    """


def _knn_lsh_sql() -> str:
    """Oracle for knn_lsh: replicate the hyperplane bucket candidate
    generation with the SAME plane constants embedded as literals, then
    the exact cosine re-rank (identical double-precision folds)."""
    from pic2vec_spark.ops.knn import _hyperplanes

    planes = _hyperplanes(64, 4, 8, 13)  # (tables, planes, dim)

    def sig_expr(vec: str, t: int) -> str:
        terms = []
        for j in range(planes.shape[1]):
            arr = ", ".join(repr(float(v)) for v in planes[t, j])
            terms.append(
                f"CASE WHEN list_dot_product({vec}, [{arr}]::DOUBLE[]) >= 0 "
                f"THEN {1 << j} ELSE 0 END"
            )
        return " + ".join(terms)

    buckets = "\n      UNION ALL ".join(
        f"SELECT vec_id, e, {t} AS tbl, {sig_expr('e', t)} AS bucket FROM v"
        for t in range(planes.shape[0])
    )
    return f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), b AS ({buckets}),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, q.e AS qvec,
                      c.vec_id AS neighbor_id, c.e AS cvec
      FROM b q JOIN b c ON q.tbl = c.tbl AND q.bucket = c.bucket
      WHERE q.vec_id < {KNN_QUERIES} AND c.vec_id <> q.vec_id
    ), s AS (
      SELECT query_id, neighbor_id,
             {_SQL_COS.format(a='qvec', b='cvec')} AS cos
      FROM cand
    ), r AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      FROM s
    )
    SELECT query_id, neighbor_id, cos, rk FROM r WHERE rk <= {KNN_K}
    """


@functools.cache
def _multi_column_widened_sql() -> str:
    """Oracle for multi_column_widened: the ref-table construction is
    pure arithmetic over row_id, and the missing flag adds the synth
    generator's deterministic decode failures (gif/corrupt/empty rows of
    the 32-image table — a fixed artifact of (seed=42, n=32), computed
    here once and embedded as literals, same technique as the IVF
    centroids).  missing=True iff the ref is NULL, unmatched, or points
    at an undecodable image (reference decode-failure semantics,
    feature_preprocessing.py:318-323)."""
    from pic2vec_spark.codecs import decode_image
    from pic2vec_spark.synth import synth_image_row

    bad = []
    for i in range(32):
        r = synth_image_row(i, 32, 42)
        try:
            if not r["bytes"]:
                raise ValueError("empty")
            decode_image(r["bytes"], r["fmt"])
        except Exception:
            bad.append(i)
    bad_list = ", ".join(str(i) for i in bad) or "-1"
    return f"""
        SELECT row_id,
               'img_' || lpad((row_id % 32)::VARCHAR, 9, '0') AS img_a,
               (row_id % 32) IN ({bad_list}) AS img_a_missing,
               CASE WHEN row_id % 5 = 0 THEN NULL
                    WHEN row_id % 7 = 3 THEN 'img_unmatched_' || row_id::VARCHAR
                    ELSE 'img_' || lpad(((row_id * 7) % 32)::VARCHAR, 9, '0')
               END AS img_b,
               (row_id % 5 = 0 OR row_id % 7 = 3
                OR ((row_id * 7) % 32) IN ({bad_list})) AS img_b_missing
        FROM (SELECT unnest(generate_series(0, 63)) AS row_id)
    """


def _dup_spans_sql() -> str:
    """Oracle for doc_dup_spans (and reused as a CTE by doc_dup_frac):
    same window digests, dup-count filter, and island merge as
    ops/dedup.duplicate_substring_spans."""
    return f"""
            WITH t AS (
              SELECT doc_id,
                     regexp_split_to_array(trim(lower(trim(text))), '\\s+')
                       AS toks
              FROM documents
            ), occ AS (
              SELECT doc_id, i - 1 AS pos,
                     CAST('0x' || substr(md5(array_to_string(
                       toks[i:i+{DUP_SPAN_W - 1}], ' ')), 1, 15) AS BIGINT)
                       AS wh
              FROM (
                SELECT doc_id, toks,
                       unnest(generate_series(1, len(toks) - {DUP_SPAN_W - 1}))
                         AS i
                FROM t WHERE len(toks) >= {DUP_SPAN_W}
              )
            ), dup AS (
              SELECT wh FROM occ GROUP BY wh HAVING COUNT(*) >= 2
            ), d AS (
              SELECT occ.doc_id, occ.pos FROM occ JOIN dup USING (wh)
            ), m AS (
              SELECT doc_id, pos,
                     CASE WHEN lag(pos) OVER w IS NULL
                            OR pos - lag(pos) OVER w > {DUP_SPAN_W}
                          THEN 1 ELSE 0 END AS ni
              FROM d WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ), isl AS (
              SELECT doc_id, pos,
                     SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos)
                       AS island
              FROM m
            )
            SELECT doc_id,
                   MIN(pos) AS span_start,
                   MAX(pos) + {DUP_SPAN_W - 1} AS span_end,
                   MAX(pos) + {DUP_SPAN_W - 1} - MIN(pos) + 1 AS span_len,
                   CAST(COUNT(*) AS BIGINT) AS n_dup_windows
            FROM isl GROUP BY doc_id, island
    """


@functools.cache
def _flagship_synth_rows() -> list[dict]:
    """The flagship synthetic image corpus, recomputed driver-side —
    a pure function of (seed=42, i, N_FLAGSHIP_IMAGES), identical to
    what synth_images_df hands the executors."""
    from pic2vec_spark.synth import synth_image_row

    return [
        synth_image_row(i, N_FLAGSHIP_IMAGES, 42)
        for i in range(N_FLAGSHIP_IMAGES)
    ]


@functools.cache
def _transcode_rows() -> list[dict]:
    """Format-converted duplicates for the image gate: every idx % 10
    == 4 committed (even) synth image decoded and re-encoded as BMP —
    perceptually identical (same pixels → same pHash), the canonical
    image near-dup.  Sources that were already BMP roundtrip
    byte-identically and so gate as exact_dup instead — both paths are
    exercised.  Pure function of the deterministic corpus; undecodable
    sources (gif/corrupt/empty) are skipped."""
    from pic2vec_spark.codecs import decode_image, encode_image

    out = []
    for i, r in enumerate(_flagship_synth_rows()):
        if i % 10 != 4:
            continue
        try:
            px = decode_image(r["bytes"], r["fmt"])
        except Exception:
            continue
        out.append({
            "image_id": "tc_" + r["image_id"],
            "bytes": encode_image(px, "bmp"),
            "fmt": "bmp",
        })
    return out


@functools.cache
def _image_transcode_sql() -> str:
    """Literal table for the transcoded batch slice: (image_id, fp,
    phash64) with the digest from hashlib and the pHash recomputed over
    the re-encoded bytes (NOT copied from the source image) — the
    oracle proves, rather than assumes, that transcoding preserves the
    perceptual hash."""
    import hashlib as _hl

    from pic2vec_spark.codecs import decode_image
    from pic2vec_spark.ops.multimodal import phash64

    vals = []
    for r in _transcode_rows():
        fp = _hl.md5(r["bytes"]).hexdigest()
        h = phash64(decode_image(r["bytes"], r["fmt"]))
        vals.append(f"('{r['image_id']}', '{fp}', CAST({h} AS BIGINT))")
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(image_id, fp, phash64)"
    )


@functools.cache
def _image_digest_sql() -> str:
    """Literal digest table for the image-gate oracle: the md5 of each
    deterministic synth image's raw bytes, computed driver-side with
    hashlib (an md5 implementation independent of Spark's ``F.md5``)
    and embedded as literals alongside the numeric idx."""
    import hashlib as _hl

    vals = [
        f"('{r['image_id']}', {i}, '{_hl.md5(r['bytes']).hexdigest()}')"
        for i, r in enumerate(_flagship_synth_rows())
    ]
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(image_id, idx, fp)"
    )


@functools.cache
def _image_phash_sql() -> str:
    """Literal oracle for image_phash (the pit_asof_alignment pattern):
    the DCT perceptual hash of each deterministic synth image is a pure
    function of (seed, i, n), recomputed here driver-side with the SAME
    decode_image + phash64 kernels the executors run and embedded as
    BIGINT literals — so the driver gate pins the distributed plumbing
    (mapInPandas batching, schema, failure semantics) value-exactly."""
    from pic2vec_spark.codecs import decode_image
    from pic2vec_spark.ops.multimodal import phash64

    vals = []
    for r in _flagship_synth_rows():
        try:
            h, ok = phash64(decode_image(r["bytes"], r["fmt"])), True
        except Exception:
            h, ok = 0, False
        vals.append(
            f"('{r['image_id']}', CAST({h} AS BIGINT), {'TRUE' if ok else 'FALSE'})"
        )
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(image_id, phash64, phash64_ok)"
    )


@functools.cache
def _image_fingerprints_sql() -> str:
    """Literal oracle for image_fingerprints: all three perceptual
    hashes of each deterministic synth image recomputed driver-side
    with the SAME decode_image + phash64/dhash64/ahash64 kernels the
    fused one-decode UDF runs, embedded as BIGINT literals — pinning
    the mapInPandas plumbing AND fused ≡ single-pass equality."""
    from pic2vec_spark.codecs import decode_image
    from pic2vec_spark.ops.multimodal import ahash64, dhash64, phash64

    vals = []
    for r in _flagship_synth_rows():
        try:
            img = decode_image(r["bytes"], r["fmt"])
            p, d, a, ok = phash64(img), dhash64(img), ahash64(img), True
        except Exception:
            p, d, a, ok = 0, 0, 0, False
        vals.append(
            f"('{r['image_id']}', CAST({p} AS BIGINT), CAST({d} AS BIGINT),"
            f" CAST({a} AS BIGINT), {'TRUE' if ok else 'FALSE'})"
        )
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(image_id, phash64, dhash64, ahash64, fp_ok)"
    )


def _fingerprint_consensus_sql() -> str:
    """Oracle for fingerprint_consensus: INDEPENDENT all-pairs
    bit_count(xor) brute force per algo over the literal fingerprint
    table, then the same >=2-of-3 vote — re-pins pigeonhole bucket
    recall for every hash and the consensus logic itself."""
    return f"""
        WITH fp AS ({_image_fingerprints_sql()}),
        ok AS (SELECT * FROM fp WHERE fp_ok),
        pairs AS (
          SELECT a.image_id AS id1, b.image_id AS id2,
                 (bit_count(xor(a.phash64, b.phash64)) <= 4) AS hit_phash,
                 (bit_count(xor(a.dhash64, b.dhash64)) <= 4) AS hit_dhash,
                 (bit_count(xor(a.ahash64, b.ahash64)) <= 4) AS hit_ahash
          FROM ok a JOIN ok b ON a.image_id < b.image_id
        )
        SELECT id1, id2,
               CAST(CAST(hit_phash AS INT) + CAST(hit_dhash AS INT)
                    + CAST(hit_ahash AS INT) AS BIGINT) AS n_algos,
               hit_phash, hit_dhash, hit_ahash
        FROM pairs
        WHERE CAST(hit_phash AS INT) + CAST(hit_dhash AS INT)
              + CAST(hit_ahash AS INT) >= 2
    """


def _temporal_image_repost_sql() -> str:
    """Oracle for temporal_image_repost: brute-force per-user self-join
    with the exact half-open trailing-24h predicate over the literal
    fingerprint table — independent of the engine's day-bucket
    replication, so it re-pins range-join recall too."""
    return f"""
        WITH fp AS ({_image_fingerprints_sql()}),
        ok AS (SELECT image_id, phash64 FROM fp WHERE fp_ok),
        obs AS (
          SELECT e.user_id, e.event_id, epoch_us(e.ts) AS ts_us,
                 'img_' || lpad(CAST(e.event_id % {N_FLAGSHIP_IMAGES}
                                     AS VARCHAR), 9, '0') AS image_id
          FROM events e WHERE e.event_type <> 'purchase'
        ),
        enr AS (SELECT o.*, f.phash64 FROM obs o JOIN ok f USING (image_id))
        SELECT a.user_id, a.event_id AS id1, b.event_id AS id2,
               a.image_id AS img1, b.image_id AS img2,
               b.ts_us - a.ts_us AS gap_us,
               CAST(bit_count(xor(a.phash64, b.phash64)) AS BIGINT)
                 AS hamming,
               CASE WHEN a.image_id = b.image_id THEN 'exact'
                    ELSE 'near' END AS kind
        FROM enr a JOIN enr b
          ON a.user_id = b.user_id
         AND b.ts_us - 86400000000 <= a.ts_us AND a.ts_us < b.ts_us
        WHERE bit_count(xor(a.phash64, b.phash64)) <= 4
    """


def _repost_feature_matrix_sql() -> str:
    """Oracle for repost_feature_matrix: the same brute-force per-user
    self-join aggregated per later-observation, LEFT-joined back to the
    full observation set so zero-prior rows are value-pinned too (the
    engine's COALESCE defaults and NULL recency, not just the matched
    rows).  COUNT/SUM cast to BIGINT up front — DuckDB SUM yields
    HUGEINT, which pandas renders as float64 and the driver hash would
    mis-compare against Spark's int64 (the doc_packing trap)."""
    return f"""
        WITH fp AS ({_image_fingerprints_sql()}),
        ok AS (SELECT image_id, phash64 FROM fp WHERE fp_ok),
        obs AS (
          SELECT e.user_id, e.event_id, epoch_us(e.ts) AS ts_us,
                 'img_' || lpad(CAST(e.event_id % {N_FLAGSHIP_IMAGES}
                                     AS VARCHAR), 9, '0') AS image_id
          FROM events e WHERE e.event_type <> 'purchase'
        ),
        enr AS (SELECT o.*, f.phash64 FROM obs o JOIN ok f USING (image_id)),
        pairs AS (
          SELECT b.event_id AS id2,
                 b.ts_us - a.ts_us AS gap_us,
                 CASE WHEN a.image_id = b.image_id THEN 1 ELSE 0
                   END AS is_exact
          FROM enr a JOIN enr b
            ON a.user_id = b.user_id
           AND b.ts_us - 86400000000 <= a.ts_us AND a.ts_us < b.ts_us
          WHERE bit_count(xor(a.phash64, b.phash64)) <= 4
        ),
        agg AS (
          SELECT id2,
                 CAST(COUNT(*) AS BIGINT) AS prior_neardups_24h,
                 CAST(SUM(is_exact) AS BIGINT) AS prior_exact_24h,
                 CAST(MIN(gap_us) AS BIGINT) AS last_gap_us
          FROM pairs GROUP BY id2
        )
        SELECT o.user_id, o.event_id, o.ts_us, o.image_id,
               COALESCE(g.prior_neardups_24h, 0) AS prior_neardups_24h,
               COALESCE(g.prior_exact_24h, 0) AS prior_exact_24h,
               g.last_gap_us
        FROM enr o LEFT JOIN agg g ON o.event_id = g.id2
    """


def _repost_spread_sql() -> str:
    """Oracle for repost_spread: recursive-CTE min-label connected
    components over an ALL-PAIRS Hamming brute force on the literal
    phash table (independent of the engine's pigeonhole buckets AND its
    iterative propagation), then per-observation count of distinct
    other users whose cluster first-post is strictly earlier — a plain
    first-post join, independent of the engine's cumulative-window
    formulation."""
    return f"""
        WITH RECURSIVE ph AS ({_image_phash_sql()}),
        ok AS (SELECT image_id, phash64 FROM ph WHERE phash64_ok),
        pairs AS (
          SELECT a.image_id AS id1, b.image_id AS id2
          FROM ok a JOIN ok b ON a.image_id < b.image_id
          WHERE bit_count(xor(a.phash64, b.phash64)) <= 4
        ),
        edges AS (
          SELECT id1 AS src, id2 AS dst FROM pairs
          UNION SELECT id2, id1 FROM pairs
        ),
        reach(v, label) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.v
        ),
        clusters AS (
          SELECT v AS image_id, MIN(label) AS cluster_id FROM reach GROUP BY v
        ),
        i2c AS (
          SELECT o.image_id, COALESCE(c.cluster_id, o.image_id) AS cluster_id
          FROM ok o LEFT JOIN clusters c USING (image_id)
        ),
        obs AS (
          SELECT e.user_id, e.event_id, epoch_us(e.ts) AS ts_us,
                 'img_' || lpad(CAST(e.event_id % {N_FLAGSHIP_IMAGES}
                                     AS VARCHAR), 9, '0') AS image_id
          FROM events e WHERE e.event_type <> 'purchase'
        ),
        enr AS (SELECT o.*, c.cluster_id FROM obs o JOIN i2c c USING (image_id)),
        fp AS (
          SELECT cluster_id, user_id, MIN(ts_us) AS fts
          FROM enr GROUP BY cluster_id, user_id
        )
        SELECT o.user_id, o.event_id, o.ts_us, o.image_id, o.cluster_id,
               CAST(COUNT(f.user_id) AS BIGINT) AS spread_users
        FROM enr o LEFT JOIN fp f
          ON f.cluster_id = o.cluster_id
         AND f.fts < o.ts_us AND f.user_id <> o.user_id
        GROUP BY o.user_id, o.event_id, o.ts_us, o.image_id, o.cluster_id
    """


@functools.cache
def _cluster_caption_profile_sql() -> str:
    """Oracle for cluster_caption_profile: recursive-CTE CC over
    all-pairs Hamming brute force (independent of pigeonhole buckets
    and the iterative propagation), then word-set Jaccard via
    unnest+equi-join token counts over the literal caption table —
    |A∪B| derived as |A|+|B|−|∩| (equal for sets), independent of the
    engine's array_intersect/array_union formulation."""
    caps = ", ".join(
        "('{}', '{}')".format(
            r["image_id"], r["caption"].replace("'", "''")
        )
        for r in _flagship_synth_rows()
    )
    return f"""
        WITH RECURSIVE ph AS ({_image_phash_sql()}),
        ok AS (SELECT image_id, phash64 FROM ph WHERE phash64_ok),
        pairs AS (
          SELECT a.image_id AS id1, b.image_id AS id2
          FROM ok a JOIN ok b ON a.image_id < b.image_id
          WHERE bit_count(xor(a.phash64, b.phash64)) <= 4
        ),
        edges AS (
          SELECT id1 AS src, id2 AS dst FROM pairs
          UNION SELECT id2, id1 FROM pairs
        ),
        reach(v, label) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.v
        ),
        clusters AS (
          SELECT v AS image_id, MIN(label) AS cluster_id FROM reach GROUP BY v
        ),
        caps AS (SELECT * FROM (VALUES {caps}) AS c(image_id, caption)),
        mem AS (
          SELECT cl.image_id, cl.cluster_id, c.caption
          FROM clusters cl JOIN caps c USING (image_id)
        ),
        tok AS (
          SELECT image_id, cluster_id,
                 unnest(list_distinct(
                   regexp_split_to_array(lower(trim(caption)), '\\s+')
                 )) AS tk
          FROM mem
        ),
        sz AS (SELECT image_id, COUNT(*) AS n FROM tok GROUP BY image_id),
        pr AS (
          SELECT a.cluster_id, a.image_id AS id1, b.image_id AS id2
          FROM mem a JOIN mem b
            ON a.cluster_id = b.cluster_id AND a.image_id < b.image_id
        ),
        inter AS (
          SELECT t1.image_id AS id1, t2.image_id AS id2, COUNT(*) AS c
          FROM tok t1 JOIN tok t2
            ON t1.tk = t2.tk AND t1.cluster_id = t2.cluster_id
           AND t1.image_id < t2.image_id
          GROUP BY t1.image_id, t2.image_id
        ),
        jac AS (
          SELECT pr.cluster_id,
                 ROUND(COALESCE(i.c, 0)
                   / CAST(s1.n + s2.n - COALESCE(i.c, 0) AS DOUBLE), 4) AS j
          FROM pr
          LEFT JOIN inter i ON pr.id1 = i.id1 AND pr.id2 = i.id2
          JOIN sz s1 ON pr.id1 = s1.image_id
          JOIN sz s2 ON pr.id2 = s2.image_id
        )
        SELECT m.cluster_id,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(COUNT(DISTINCT m.caption) AS BIGINT) AS n_captions,
               j.j AS min_caption_jaccard
        FROM mem m
        JOIN (SELECT cluster_id, MIN(j) AS j FROM jac GROUP BY cluster_id) j
          USING (cluster_id)
        GROUP BY m.cluster_id, j.j
    """


@functools.cache
def _image_stats_sql() -> str:
    """Literal oracle for image_stats: closed-form brightness/contrast/
    entropy/sharpness of the deterministic synth corpus, recomputed
    driver-side with the same image_quality_stats kernel (round-6, the
    UDF's own rounding) and embedded as DOUBLE literals; decode
    failures embed NULL metrics + stats_ok=FALSE."""
    from pic2vec_spark.codecs import decode_image
    from pic2vec_spark.ops.multimodal import _STAT_COLS, image_quality_stats

    vals = []
    for r in _flagship_synth_rows():
        fmt = "NULL" if r["fmt"] is None else f"'{r['fmt']}'"
        try:
            s = image_quality_stats(decode_image(r["bytes"], r["fmt"]))
            metrics = ", ".join(repr(round(s[c], 6)) for c in _STAT_COLS)
            ok = "TRUE"
        except Exception:
            metrics = ", ".join(["CAST(NULL AS DOUBLE)"] * len(_STAT_COLS))
            ok = "FALSE"
        vals.append(f"('{r['image_id']}', {fmt}, {ok}, {metrics})")
    cols = ", ".join(_STAT_COLS)
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + f") AS t(image_id, fmt, stats_ok, {cols})"
    )


@functools.cache
def _image_meta_sql() -> str:
    """Literal (image_id, w, h) metadata of the deterministic synth
    corpus — the table columns the image rule suite reads without
    decoding (resolution / aspect screens)."""
    vals = ", ".join(
        f"('{r['image_id']}', {r['w']}, {r['h']})"
        for r in _flagship_synth_rows()
    )
    return f"SELECT * FROM (VALUES {vals}) AS t(image_id, w, h)"


@functools.cache
def _image_profile_sql() -> str:
    """Oracle for image_profile: the fused one-decode-pass profile must
    be column-identical to the two-pass image_stats ⨝ image_phash
    composition, so the oracle IS that join of the member literal
    tables — it cannot drift from the per-stage gates."""
    return f"""
        SELECT s.image_id, s.fmt, s.stats_ok,
               s.brightness, s.contrast, s.dyn_range, s.entropy,
               s.sharpness, p.phash64, p.phash64_ok
        FROM ({_image_stats_sql()}) s
        JOIN ({_image_phash_sql()}) p USING (image_id)
    """


@functools.cache
def _image_quality_rules_sql() -> str:
    """Oracle for image_quality_rules: the default thresholds re-applied
    in SQL over the image_stats literals joined to the (w, h) metadata
    literals, with the same NULL→FALSE coalescing as the engine."""
    rules = {
        "rule_decodes": "s.stats_ok",
        "rule_resolution": "CAST(m.w AS BIGINT) * m.h >= 1024",
        "rule_aspect": "GREATEST(m.w, m.h) <= LEAST(m.w, m.h) * 3.0",
        "rule_brightness": "s.brightness BETWEEN 10.0 AND 245.0",
        "rule_entropy": "s.entropy >= 1.0",
        "rule_sharpness": "s.sharpness >= 1.0",
        "rule_dyn_range": "s.dyn_range >= 16.0",
    }
    cols = ",\n               ".join(
        f"COALESCE({expr}, FALSE) AS {name}" for name, expr in rules.items()
    )
    all_pass = " AND ".join(f"COALESCE({e}, FALSE)" for e in rules.values())
    return f"""
        SELECT s.image_id,
               {cols},
               ({all_pass}) AS passes
        FROM ({_image_stats_sql()}) s
        JOIN ({_image_meta_sql()}) m USING (image_id)
    """


@functools.cache
def _image_neardup_survivors_sql() -> str:
    """Oracle for image_neardup_survivors: all-pairs bit_count(xor)
    Hamming brute force over the literal phash table (independent of
    the engine's pigeonhole buckets — re-pins recall), recursive-CTE
    min-label connected components (the neardup_clusters proof shape),
    then the identical quality-rank window over the literal sharpness/
    entropy/pixel-count columns."""
    return f"""
        WITH RECURSIVE ph AS ({_image_phash_sql()}),
        stats AS ({_image_stats_sql()}),
        meta AS ({_image_meta_sql()}),
        prof AS (
          SELECT p.image_id, p.phash64, s.sharpness, s.entropy,
                 CAST(m.w AS BIGINT) * m.h AS px
          FROM ph p
          JOIN stats s USING (image_id)
          JOIN meta m USING (image_id)
          WHERE p.phash64_ok
        ),
        pairs AS (
          SELECT a.image_id AS id1, b.image_id AS id2
          FROM prof a JOIN prof b ON a.image_id < b.image_id
          WHERE bit_count(xor(a.phash64, b.phash64)) <= 4
        ),
        edges AS (
          SELECT id1 AS src, id2 AS dst FROM pairs
          UNION SELECT id2, id1 FROM pairs
        ),
        reach(v, label) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.v
        ),
        clusters AS (
          SELECT v AS image_id, MIN(label) AS cluster_id FROM reach GROUP BY v
        ),
        labeled AS (
          SELECT pr.image_id,
                 COALESCE(c.cluster_id, pr.image_id) AS cluster_id,
                 pr.sharpness, pr.entropy, pr.px
          FROM prof pr LEFT JOIN clusters c USING (image_id)
        ),
        ranked AS (
          SELECT image_id, cluster_id,
                 CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS INTEGER)
                   AS n_members,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY cluster_id
                   ORDER BY sharpness DESC, entropy DESC,
                            px DESC NULLS LAST, image_id ASC
                 ) AS INTEGER) AS quality_rank
          FROM labeled
        )
        SELECT image_id, cluster_id, n_members, quality_rank,
               (quality_rank = 1) AS kept
        FROM ranked
    """


def _rule_funnel_sql(base_sql: str, rule_cols: list[str]) -> str:
    """Funnel oracle generator: per-rule independent pass counts and
    cumulative AND-chain survivor counts re-derived in SQL over any
    rule-suite oracle (doc_gopher_rules / image_quality_rules), with
    explicit BIGINT casts so DuckDB's HUGEINT sums can't render as
    float64 (the dtype trap the oracle lint test guards)."""
    parts = []
    for i, c in enumerate(rule_cols):
        cum = " AND ".join(rule_cols[: i + 1])
        parts.append(f"""
          SELECT '{c}' AS rule, {i + 1} AS rule_order,
                 CAST(COUNT(*) AS BIGINT) AS n_total,
                 CAST(COALESCE(SUM(CASE WHEN {c} THEN 1 ELSE 0 END), 0)
                   AS BIGINT) AS n_pass,
                 CAST(COALESCE(SUM(CASE WHEN {cum} THEN 1 ELSE 0 END), 0)
                   AS BIGINT) AS n_survive
          FROM base""")
    union = " UNION ALL ".join(parts)
    return f"""
        WITH base AS ({base_sql}),
        f AS ({union})
        SELECT rule, rule_order, n_total, n_pass, n_survive,
               CASE WHEN n_total > 0
                 THEN ROUND(n_pass * 1.0 / n_total, 6) END AS pass_rate,
               CASE WHEN n_total > 0
                 THEN ROUND(n_survive * 1.0 / n_total, 6) END AS survive_rate
        FROM f
    """


@functools.cache
def _image_thumbnails_sql() -> str:
    """Literal oracle for image_thumbnails: the PNG re-encode of the
    deterministic synth corpus is a pure function of (seed, i, n), so
    the thumbnail byte LENGTH (the query's SQL-visible projection of
    the binary output) is recomputed driver-side with the same
    decode→resize_nearest→encode_png kernels and embedded."""
    from pic2vec_spark.codecs import decode_image, encode_png
    from pic2vec_spark.preprocess import resize_nearest

    vals = []
    for r in _flagship_synth_rows():
        fmt = "NULL" if r["fmt"] is None else f"'{r['fmt']}'"
        try:
            tb = encode_png(resize_nearest(decode_image(r["bytes"], r["fmt"]), (32, 32)))
            ok, nb = "TRUE", f"CAST({len(tb)} AS INTEGER)"
        except Exception:
            ok, nb = "FALSE", "CAST(NULL AS INTEGER)"
        vals.append(f"('{r['image_id']}', {fmt}, {ok}, {nb})")
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(image_id, fmt, thumb_ok, thumb_bytes)"
    )


@functools.cache
def _image_augment_sql() -> str:
    """Literal oracle for image_augment: the md5-keyed op choice and the
    re-encoded augmented byte length are pure functions of (image_id,
    seed=7, corpus), recomputed driver-side with the same pick/kernel/
    encode path."""
    from pic2vec_spark.codecs import decode_image, encode_image
    from pic2vec_spark.ops.multimodal import (
        AUGMENT_OPS,
        _augment_kernel,
        augment_pick,
    )

    vals = []
    for r in _flagship_synth_rows():
        op = augment_pick(r["image_id"], AUGMENT_SEED, AUGMENT_OPS)
        fmt = "NULL" if r["fmt"] is None else f"'{r['fmt']}'"
        try:
            blob = encode_image(
                _augment_kernel(decode_image(r["bytes"], r["fmt"]), op),
                r["fmt"],
            )
            ok, nb = "TRUE", f"CAST({len(blob)} AS INTEGER)"
        except Exception:
            ok, nb = "FALSE", "CAST(NULL AS INTEGER)"
        vals.append(f"('{r['image_id']}', {fmt}, '{op}', {ok}, {nb})")
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(image_id, fmt, aug_op, aug_ok, aug_bytes)"
    )


@functools.cache
def _audio_features_sql() -> str:
    """Literal oracle for audio_features: the 64-tone PCM corpus is
    generated inline by the query itself, so duration/rms/zcr are pure
    closed-ish functions of the tone index — recomputed driver-side
    through the same encode_wav→decode_wav round trip and the same
    round-6 reductions the Arrow UDF applies."""
    import numpy as np

    from pic2vec_spark.codecs import decode_wav

    vals = []
    for i, data in _audio_tone_rows():
        x, rate = decode_wav(data)
        mono = x.mean(axis=1)
        dur = round(len(mono) / rate, 6)
        rms = round(float(np.sqrt((mono.astype(np.float64) ** 2).mean())), 6)
        zcr = round(float((np.diff(np.signbit(mono)) != 0).mean()), 6)
        vals.append(
            f"({i}, TRUE, CAST({rate} AS INTEGER), {dur!r}, {rms!r}, {zcr!r})"
        )
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(clip_id, audio_ok, sample_rate, duration_s, rms, zcr)"
    )


@functools.cache
def _image_phash_neardup_sql() -> str:
    """Oracle for image_phash_neardup: an INDEPENDENT all-pairs Hamming
    join in DuckDB (bit_count(xor)) over the literal phash table — this
    checks the pigeonhole chunk-bucket path against brute force, the
    same proof shape as the simhash_neardup oracle."""
    return f"""
        WITH ph AS ({_image_phash_sql()})
        SELECT a.image_id AS id1, b.image_id AS id2,
               bit_count(xor(a.phash64, b.phash64)) AS hamming
        FROM ph a JOIN ph b ON a.image_id < b.image_id
        WHERE a.phash64_ok AND b.phash64_ok
          AND bit_count(xor(a.phash64, b.phash64)) <= 4
    """


@functools.cache
def _multimodal_corpus_sql() -> str:
    """Composed oracle for multimodal_corpus, reusing the member literal
    oracles (image_stats floors + image_phash) so this gate cannot
    drift from the per-stage gates: quality screen → all-pairs Hamming
    CC min-label survivors (recursive CTE, the neardup_clusters proof
    shape) → caption quality floor (the doc_quality formula over the
    literal caption table) → md5 hash split."""
    caps = ", ".join(
        "('{}', '{}')".format(
            r["image_id"], r["caption"].replace("'", "''")
        )
        for r in _flagship_synth_rows()
    )
    return f"""
        WITH RECURSIVE stats AS ({_image_stats_sql()}),
        ph AS ({_image_phash_sql()}),
        caps AS (
          SELECT * FROM (VALUES {caps}) AS c(image_id, caption)
        ),
        ok AS (
          SELECT image_id FROM stats
          WHERE stats_ok AND entropy >= 1.0 AND sharpness >= 1.0
        ),
        phok AS (
          SELECT p.image_id, p.phash64 FROM ph p
          JOIN ok USING (image_id) WHERE p.phash64_ok
        ),
        pairs AS (
          SELECT a.image_id AS id1, b.image_id AS id2
          FROM phok a JOIN phok b ON a.image_id < b.image_id
          WHERE bit_count(xor(a.phash64, b.phash64)) <= 4
        ),
        edges AS (
          SELECT id1 AS src, id2 AS dst FROM pairs
          UNION SELECT id2, id1 FROM pairs
        ),
        reach(v, label) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.v
        ),
        clusters AS (
          SELECT v AS image_id, MIN(label) AS cluster_id FROM reach GROUP BY v
        ),
        survivors AS (
          SELECT image_id FROM phok
          WHERE image_id NOT IN (
            SELECT image_id FROM clusters WHERE image_id <> cluster_id)
        ),
        q AS (
          SELECT s.image_id,
                 len(regexp_split_to_array(trim(c.caption), '\\s+')) AS n_tokens,
                 length(c.caption) AS n_chars,
                 length(c.caption) - length(regexp_replace(c.caption, '[^\\w\\s]', '', 'g')) AS punct,
                 len(list_filter(regexp_split_to_array(trim(c.caption), '\\s+'),
                     tk -> tk IN ('the','a','and','of','to','in','is','for'))) AS stop
          FROM survivors s JOIN caps c USING (image_id)
          WHERE c.caption IS NOT NULL
        ),
        capq AS (
          SELECT image_id FROM q
          WHERE ROUND(
              least(n_tokens / 100.0, 1.0) * 0.4
              + least(stop / CAST(n_tokens AS DOUBLE) * 5.0, 1.0) * 0.4
              + (1.0 - least(punct / CAST(n_chars AS DOUBLE) * 10.0, 1.0)) * 0.2,
            4) >= {CAPTION_QUALITY_FLOOR}
        )
        SELECT image_id,
               CASE WHEN CAST('0x' || substr(md5('split' || image_id), 1, 8)
                         AS BIGINT) % 100 < 10
                    THEN 'test' ELSE 'train' END AS split
        FROM capq ORDER BY image_id
    """


@functools.cache
def _pit_alignment_sql() -> str:
    """Oracle for pit_asof_alignment: the as-of window mirrors
    _ASOF_ORACLE's (ts, side, event_id) tiebreak; the missing flag needs
    the set of flagship synth images that fail decode (~5% corrupt/empty/
    gif planted by synth_image_row), which is a pure function of
    (seed=42, i, 256) — recomputed here driver-side with the same
    decode_image the executors run and embedded as literals."""
    from pic2vec_spark.codecs import decode_image

    bad = []
    for r in _flagship_synth_rows():
        ok = r["bytes"] is not None
        if ok:
            try:
                decode_image(r["bytes"], r["fmt"] or "")
            except Exception:
                ok = False
        if not ok:
            bad.append(r["image_id"])
    bad_list = ", ".join(f"'{b}'" for b in bad) or "''"
    return f"""
        WITH f AS (
          SELECT user_id, ts, event_id,
                 'img_' || lpad(CAST(event_id % {N_FLAGSHIP_IMAGES}
                                     AS VARCHAR), 9, '0') AS img,
                 0 AS side
          FROM events WHERE event_type <> 'purchase'
        ), q AS (
          SELECT user_id, ts, event_id, CAST(NULL AS VARCHAR) AS img,
                 1 AS side
          FROM events WHERE event_type = 'purchase'
        ), u AS (
          SELECT * FROM f UNION ALL SELECT * FROM q
        ), m AS (
          SELECT u.*,
            last_value(CASE WHEN side = 0 THEN img END IGNORE NULLS)
              OVER w AS image_id_asof
          FROM u
          WINDOW w AS (
            PARTITION BY user_id ORDER BY ts, side, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
          )
        )
        SELECT event_id, user_id, epoch_us(ts) AS ts_us, image_id_asof,
               (image_id_asof IS NULL
                OR image_id_asof IN ({bad_list})) AS missing_asof
        FROM m WHERE side = 1
    """


@functools.cache
def _pit_curated_asof_sql() -> str:
    """Oracle for pit_curated_asof: the flagship alignment window with
    the image-rules literals filtering the feature side — a feature row
    whose image fails any screen never becomes observable, so the
    window's last passing observation is the only legal match."""
    img_expr = (
        f"'img_' || lpad(CAST(event_id % {N_FLAGSHIP_IMAGES} "
        "AS VARCHAR), 9, '0')"
    )
    return f"""
        WITH rules AS ({_image_quality_rules_sql()}),
        f AS (
          SELECT user_id, ts, event_id, {img_expr} AS img, 0 AS side
          FROM events
          WHERE event_type <> 'purchase'
            AND {img_expr} IN (SELECT image_id FROM rules WHERE passes)
        ), q AS (
          SELECT user_id, ts, event_id, CAST(NULL AS VARCHAR) AS img,
                 1 AS side
          FROM events WHERE event_type = 'purchase'
        ), u AS (
          SELECT * FROM f UNION ALL SELECT * FROM q
        ), m AS (
          SELECT u.*,
            last_value(CASE WHEN side = 0 THEN img END IGNORE NULLS)
              OVER w AS image_id_asof
          FROM u
          WINDOW w AS (
            PARTITION BY user_id ORDER BY ts, side, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
          )
        )
        SELECT event_id, user_id, epoch_us(ts) AS ts_us, image_id_asof
        FROM m WHERE side = 1
    """


def _embedding_neardup_lsh_sql(n_tables: int = 8) -> str:
    """Oracle for embedding_neardup_lsh: the same hyperplane constants
    as the Spark plan, candidate pairs sharing any (table, bucket),
    exact round-6 double cosine + threshold.  The plane COUNT is the
    corpus-sized auto rule evaluated on the gate corpus (ORACLE_SF_DIR
    row count) — identical to what the Spark query computes from the
    same input, so parity holds; at bench/scale SFs the query re-sizes
    itself and no oracle runs there.  ``n_tables`` must match the Spark
    side (8 for the standalone query; CONFLICTS_LSH_TABLES for the
    cross-modal conflict composition)."""
    import pyarrow.parquet as _pq

    from pic2vec_spark.ops.knn import _hyperplanes, auto_lsh_planes

    n_rows = _pq.read_metadata(
        f"{ORACLE_SF_DIR}/embeddings.parquet"
    ).num_rows
    planes = _hyperplanes(64, auto_lsh_planes(n_rows), n_tables, 13)

    def sig_expr(vec: str, t: int) -> str:
        terms = []
        for j in range(planes.shape[1]):
            arr = ", ".join(repr(float(v)) for v in planes[t, j])
            terms.append(
                f"CASE WHEN list_dot_product({vec}, [{arr}]::DOUBLE[]) >= 0 "
                f"THEN {1 << j} ELSE 0 END"
            )
        return " + ".join(terms)

    buckets = "\n      UNION ALL ".join(
        f"SELECT vec_id, e, {t} AS tbl, {sig_expr('e', t)} AS bucket FROM v"
        for t in range(planes.shape[0])
    )
    return f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), b AS ({buckets}),
    cand AS (
      SELECT DISTINCT a.vec_id AS id1, a.e AS v1, c.vec_id AS id2, c.e AS v2
      FROM b a JOIN b c ON a.tbl = c.tbl AND a.bucket = c.bucket
      WHERE a.vec_id < c.vec_id
    )
    SELECT id1, id2, cos FROM (
      SELECT id1, id2, {_SQL_COS.format(a='v1', b='v2')} AS cos FROM cand
    ) WHERE cos >= {NEARDUP_COS}
    """


def _pq_sql_parts() -> tuple[str, str, str]:
    """Shared SQL fragments for the PQ oracles (knn_pq / knn_ivf_pq):
    codebooks as literals; per-subspace squared-L2 lists rounded to 9
    decimals BEFORE argmin/lookup (the Spark UDF rounds identically, so
    encode ties and ADC sums agree exactly); 1-based list_indexof ==
    the UDF's 1-based codes.  Returns (codes, luts, adc) expression
    text over a double-list column ``e``."""
    cb = _pq_codebooks(ORACLE_SF_DIR)
    m, n_codes, dsub = cb.shape

    def cb_lit(j: int) -> str:
        rows = ", ".join(
            "[" + ", ".join(repr(float(x)) for x in cb[j, c]) + "]"
            for c in range(n_codes)
        )
        return f"[{rows}]::DOUBLE[][]"

    def dists(j: int) -> str:
        off = j * dsub
        return (
            f"list_transform({cb_lit(j)}, c -> ROUND(list_sum("
            f"list_transform(range(1, {dsub + 1}), "
            f"i -> (e[{off} + i] - c[i]) * (e[{off} + i] - c[i]))), 9))"
        )

    codes = ", ".join(
        f"list_indexof({dists(j)}, list_aggregate({dists(j)}, 'min'))"
        for j in range(m)
    )
    luts = ", ".join(dists(j) for j in range(m))
    adc = " + ".join(f"lut[{j + 1}][code[{j + 1}]]" for j in range(m))
    return codes, luts, adc


def _knn_pq_sql() -> str:
    codes, luts, adc = _pq_sql_parts()
    return f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), corp AS (
      SELECT vec_id AS neighbor_id, [{codes}] AS code FROM v
    ), q AS (
      SELECT vec_id AS query_id, [{luts}] AS lut FROM v
      WHERE vec_id < {KNN_QUERIES}
    ), s AS (
      SELECT query_id, neighbor_id, ROUND({adc}, 6) AS adc
      FROM corp, q WHERE neighbor_id <> query_id
    ), r AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC) AS rk
      FROM s
    )
    SELECT query_id, neighbor_id, adc, rk FROM r WHERE rk <= {KNN_K}
    """


def _knn_ivf_pq_sql() -> str:
    """Oracle for knn_ivf_pq: the knn_ivf cell-assignment/probe SQL
    composed with the knn_pq code/LUT fragments — same centroid and
    codebook literals as the Spark plan."""
    centroids = _ivf_centroids(ORACLE_SF_DIR)
    codes, luts, adc = _pq_sql_parts()

    def cos_lit(vec: str, c) -> str:
        arr = "[" + ", ".join(repr(float(v)) for v in c) + "]::DOUBLE[]"
        return (
            f"ROUND(list_dot_product({vec}, {arr}) / "
            f"(sqrt(list_dot_product({vec}, {vec})) * "
            f"sqrt(list_dot_product({arr}, {arr}))), 6)"
        )

    cl = "[" + ", ".join(cos_lit("e", c) for c in centroids) + "]"
    return f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), ca AS (
      SELECT vec_id, e, {cl} AS cl FROM v
    ), corp AS (
      SELECT vec_id AS neighbor_id,
             list_indexof(cl, list_aggregate(cl, 'max')) AS cell,
             [{codes}] AS code
      FROM ca
    ), qp0 AS (
      SELECT vec_id AS query_id, cl, [{luts}] AS lut,
             unnest(generate_series(1, {IVF_CENTROIDS})) AS cell
      FROM ca WHERE vec_id < {KNN_QUERIES}
    ), qp1 AS (
      SELECT query_id, lut, cell,
             row_number() OVER (
               PARTITION BY query_id ORDER BY cl[cell] DESC, cell ASC
             ) AS prk
      FROM qp0
    ), cand AS (
      SELECT p.query_id, p.lut, c.neighbor_id, c.code
      FROM qp1 p JOIN corp c USING (cell)
      WHERE p.prk <= {IVF_NPROBE} AND c.neighbor_id <> p.query_id
    ), s AS (
      SELECT query_id, neighbor_id, ROUND({adc}, 6) AS adc FROM cand
    ), r AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC) AS rk
      FROM s
    )
    SELECT query_id, neighbor_id, adc, rk FROM r WHERE rk <= {KNN_K}
    """


def _knn_ivf_sql() -> str:
    """Oracle for knn_ivf: same centroids (trained from the sf0.01
    parquet by the identical deterministic recipe) embedded as literals;
    cell assignment, probe ranking, and re-rank replicated with the same
    round-6 double-precision cosine folds."""
    centroids = _ivf_centroids(ORACLE_SF_DIR)

    def cos_lit(vec: str, c) -> str:
        arr = "[" + ", ".join(repr(float(v)) for v in c) + "]::DOUBLE[]"
        return (
            f"ROUND(list_dot_product({vec}, {arr}) / "
            f"(sqrt(list_dot_product({vec}, {vec})) * "
            f"sqrt(list_dot_product({arr}, {arr}))), 6)"
        )

    cl = "[" + ", ".join(cos_lit("e", c) for c in centroids) + "]"
    return f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), ca AS (
      SELECT vec_id, e, {cl} AS cl FROM v
    ), corp AS (
      SELECT vec_id AS neighbor_id, e AS cvec,
             list_indexof(cl, list_aggregate(cl, 'max')) AS cell
      FROM ca
    ), qp0 AS (
      SELECT vec_id AS query_id, e AS qvec, cl,
             unnest(generate_series(1, {IVF_CENTROIDS})) AS cell
      FROM ca WHERE vec_id < {KNN_QUERIES}
    ), qp1 AS (
      SELECT query_id, qvec, cell, cl[cell] AS ccos,
             row_number() OVER (
               PARTITION BY query_id ORDER BY cl[cell] DESC, cell ASC) AS prk
      FROM qp0
    ), cand AS (
      SELECT p.query_id, p.qvec, c.neighbor_id, c.cvec
      FROM qp1 p JOIN corp c USING (cell)
      WHERE p.prk <= {IVF_NPROBE} AND c.neighbor_id <> p.query_id
    ), s AS (
      SELECT query_id, neighbor_id,
             {_SQL_COS.format(a='qvec', b='cvec')} AS cos
      FROM cand
    ), r AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      FROM s
    )
    SELECT query_id, neighbor_id, cos, rk FROM r WHERE rk <= {KNN_K}
    """


def _semantic_dedup_sql() -> str:
    """Oracle for semantic_dedup: same IVF centroid literals, same
    round-6 cosine folds, same (centroid_cos DESC, id ASC) rank rule —
    dropped = any higher-ranked cell-mate within SEMDEDUP_COS."""
    centroids = _ivf_centroids(ORACLE_SF_DIR)

    def cos_lit(vec: str, c) -> str:
        arr = "[" + ", ".join(repr(float(v)) for v in c) + "]::DOUBLE[]"
        return (
            f"ROUND(list_dot_product({vec}, {arr}) / "
            f"(sqrt(list_dot_product({vec}, {vec})) * "
            f"sqrt(list_dot_product({arr}, {arr}))), 6)"
        )

    cl = "[" + ", ".join(cos_lit("e", c) for c in centroids) + "]"
    return f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), ca AS (
      SELECT vec_id, e, {cl} AS cl FROM v
    ), a AS (
      SELECT vec_id, e,
             list_indexof(cl, list_aggregate(cl, 'max')) AS cell,
             list_aggregate(cl, 'max') AS ccos
      FROM ca
    ), p AS (
      SELECT h.vec_id AS hid, l.vec_id AS lid,
             {_SQL_COS.format(a='h.e', b='l.e')} AS pcos
      FROM a h JOIN a l ON h.cell = l.cell
       AND (h.ccos > l.ccos OR (h.ccos = l.ccos AND h.vec_id < l.vec_id))
    ), d AS (
      SELECT DISTINCT lid FROM p WHERE pcos >= {SEMDEDUP_COS}
    )
    SELECT a.vec_id, a.cell, a.ccos AS centroid_cos,
           (d.lid IS NULL) AS keep
    FROM a LEFT JOIN d ON a.vec_id = d.lid
    """


def _doc_gopher_sql() -> str:
    """Mirrors ops/text.gopher_quality_flags: same whitespace
    tokenization, newline line-split, round-4 fractions, and the exact
    thresholds (imported, so they cannot drift)."""
    from pic2vec_spark.ops.text import (
        GOPHER_MAX_BULLET_FRAC,
        GOPHER_MAX_ELLIPSIS_FRAC,
        GOPHER_MAX_MEAN_WORD_LEN,
        GOPHER_MAX_SYMBOL_RATIO,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_ALPHA_FRAC,
        GOPHER_MIN_MEAN_WORD_LEN,
        GOPHER_MIN_STOPWORDS,
        GOPHER_MIN_WORDS,
        GOPHER_STOPS,
    )

    stops = ", ".join(f"'{s}'" for s in GOPHER_STOPS)
    return rf"""
        WITH x AS (
          SELECT doc_id, text,
                 regexp_split_to_array(trim(text), '\s+') AS toks,
                 string_split(text, chr(10)) AS lines
          FROM documents
        ), m AS (
          SELECT doc_id,
                 len(toks) AS n_words,
                 ROUND(CAST(list_sum(list_transform(toks, t -> len(t)))
                            AS DOUBLE) / len(toks), 4) AS mean_word_len,
                 ROUND(len(regexp_extract_all(text, '(#|\.\.\.)', 1))
                       / CAST(len(toks) AS DOUBLE), 4) AS symbol_ratio,
                 ROUND(len(list_filter(lines,
                         l -> regexp_matches(l, '^\s*[-*•]')))
                       / CAST(len(lines) AS DOUBLE), 4) AS bullet_frac,
                 ROUND(len(list_filter(lines,
                         l -> regexp_matches(l, '\.\.\.\s*$')))
                       / CAST(len(lines) AS DOUBLE), 4) AS ellipsis_frac,
                 ROUND(len(list_filter(toks,
                         t -> regexp_matches(t, '[A-Za-z]')))
                       / CAST(len(toks) AS DOUBLE), 4) AS alpha_frac,
                 len(list_intersect(
                       list_distinct(list_transform(toks, t -> lower(t))),
                       [{stops}])) AS n_stopwords
          FROM x
        )
        SELECT *,
               (rule_word_count AND rule_mean_word_len AND
                rule_symbol_ratio AND rule_bullet AND rule_ellipsis AND
                rule_alpha AND rule_stopwords) AS gopher_keep
        FROM (
          SELECT doc_id, n_words, mean_word_len, symbol_ratio,
                 bullet_frac, ellipsis_frac, alpha_frac, n_stopwords,
                 (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
                   AS rule_word_count,
                 (mean_word_len BETWEEN {GOPHER_MIN_MEAN_WORD_LEN}
                   AND {GOPHER_MAX_MEAN_WORD_LEN}) AS rule_mean_word_len,
                 (symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}) AS rule_symbol_ratio,
                 (bullet_frac <= {GOPHER_MAX_BULLET_FRAC}) AS rule_bullet,
                 (ellipsis_frac <= {GOPHER_MAX_ELLIPSIS_FRAC}) AS rule_ellipsis,
                 (alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}) AS rule_alpha,
                 (n_stopwords >= {GOPHER_MIN_STOPWORDS}) AS rule_stopwords
          FROM m
        )
    """


def _doc_repetition_sql() -> str:
    """Mirrors ops/text.repetition_stats: same tokenization, same
    chr(31)-joined n-grams, same ROUND(exact_int / exact_int, 6)
    fractions, same keep thresholds (imported, so they cannot drift)."""
    from pic2vec_spark.ops.text import (
        REPETITION_MAX_DUP_TRIGRAM,
        REPETITION_MAX_TOP_BIGRAM,
        REPETITION_MIN_TTR,
    )

    return rf"""
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
          FROM documents
        ), g AS (
          SELECT doc_id, toks, len(toks) AS n,
                 list_transform(range(1, len(toks)),
                   i -> toks[i] || chr(31) || toks[i+1]) AS bi,
                 list_transform(range(1, len(toks) - 1),
                   i -> toks[i] || chr(31) || toks[i+1] || chr(31) || toks[i+2]) AS tri
          FROM t
        ), tc AS (
          SELECT doc_id, max(c) AS top_tok FROM (
            SELECT doc_id, tk, count(*) AS c
            FROM (SELECT doc_id, unnest(toks) AS tk FROM g)
            GROUP BY doc_id, tk
          ) GROUP BY doc_id
        ), bc AS (
          SELECT doc_id, max(c) AS top_bi FROM (
            SELECT doc_id, b, count(*) AS c
            FROM (SELECT doc_id, unnest(bi) AS b FROM g)
            GROUP BY doc_id, b
          ) GROUP BY doc_id
        ), m AS (
          SELECT g.doc_id, n AS n_tokens,
                 ROUND(len(list_distinct(toks)) / CAST(n AS DOUBLE), 6) AS ttr,
                 ROUND(tc.top_tok / CAST(n AS DOUBLE), 6) AS top_token_frac,
                 CASE WHEN len(bi) > 0
                      THEN ROUND(bc.top_bi / CAST(len(bi) AS DOUBLE), 6)
                 END AS top_bigram_frac,
                 CASE WHEN len(tri) > 0
                      THEN ROUND((len(tri) - len(list_distinct(tri)))
                                 / CAST(len(tri) AS DOUBLE), 6)
                 END AS dup_trigram_frac
          FROM g JOIN tc USING (doc_id) LEFT JOIN bc USING (doc_id)
        )
        SELECT doc_id, n_tokens, ttr, top_token_frac, top_bigram_frac,
               dup_trigram_frac,
               (ttr >= {REPETITION_MIN_TTR}
                AND COALESCE(top_bigram_frac <= {REPETITION_MAX_TOP_BIGRAM}, TRUE)
                AND COALESCE(dup_trigram_frac <= {REPETITION_MAX_DUP_TRIGRAM}, TRUE))
                 AS repetition_keep
        FROM m
    """


def _doc_shared_ngrams_sql(n: int = 8) -> str:
    """Mirrors ops/text.shared_ngram_stats at the same n: distinct
    chr(31)-joined token n-grams per doc, shared = gram appears in
    >= 2 docs.  SUM casts to BIGINT (DuckDB HUGEINT renders as float
    in fetchdf — the purchase_props_json lesson)."""
    return rf"""
        WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
          FROM documents
        ), g AS (
          SELECT doc_id,
                 unnest(list_distinct(list_transform(
                   range(1, len(toks) - {n - 2}),
                   i -> list_aggregate(toks[i:i+{n - 1}], 'string_agg', chr(31))
                 ))) AS gram
          FROM t
        ), d AS (
          SELECT gram, count(*) AS c FROM g GROUP BY gram
        ), s AS (
          SELECT g.doc_id, count(*) AS n_grams,
                 CAST(SUM(CASE WHEN d.c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_shared
          FROM g JOIN d USING (gram) GROUP BY g.doc_id
        )
        SELECT t.doc_id,
               COALESCE(s.n_grams, 0) AS n_grams,
               CAST(COALESCE(s.n_shared, 0) AS BIGINT) AS n_shared,
               CASE WHEN s.n_grams > 0
                    THEN ROUND(s.n_shared / CAST(s.n_grams AS DOUBLE), 6)
               END AS shared_frac
        FROM t LEFT JOIN s USING (doc_id)
    """


def _lineitem_corr_sql() -> str:
    """Textually mirrors ops/encode.corr_pairs: exact decimal sums in
    one pass, then the same double-arithmetic corr expression shape."""
    import itertools

    cols = LINEITEM_CORR_COLS
    notnull = " AND ".join(f"{c} IS NOT NULL" for c in cols)
    sums = ",\n               ".join(
        f"CAST(SUM(CAST({c} AS DECIMAL(28,4))) AS DOUBLE) AS s_{c}"
        for c in cols
    )
    prods = ",\n               ".join(
        f"CAST(SUM(CAST({a} * {b} AS DECIMAL(38,8))) AS DOUBLE) AS p_{a}_{b}"
        for a, b in itertools.combinations_with_replacement(cols, 2)
    )
    parts = []
    for a, b in itertools.combinations(cols, 2):
        num = f"(CAST(n AS DOUBLE) * p_{a}_{b} - s_{a} * s_{b})"
        den = (
            f"sqrt((CAST(n AS DOUBLE) * p_{a}_{a} - s_{a} * s_{a})"
            f" * (CAST(n AS DOUBLE) * p_{b}_{b} - s_{b} * s_{b}))"
        )
        parts.append(
            f"SELECT '{a}' AS col_a, '{b}' AS col_b,\n"
            f"       ROUND(CASE WHEN {den} > 0 THEN {num} / {den} END, 6) AS corr\n"
            f"FROM s"
        )
    union = "\nUNION ALL\n".join(parts)
    return (
        f"WITH s AS (SELECT COUNT(*) AS n,\n               {sums},\n"
        f"               {prods}\n        FROM lineitem WHERE {notnull})\n{union}"
    )


def _encode_oracle_sql() -> dict[str, str]:
    """Oracles for the feature-encoding layer.  Each mirrors the engine
    expression SHAPE exactly (see ops/encode module docstring): decimal
    per-row casts make the sums order-proof; the derived statistics are
    then identical IEEE double arithmetic on both engines."""
    m = TE_SMOOTHING
    fracs = ", ".join(str(i / N_VALUE_BINS) for i in range(1, N_VALUE_BINS))
    return {
        "event_type_target_enc": f"""
            WITH r AS (
              SELECT event_type, CAST(value AS DECIMAL(28,4)) AS t
              FROM events WHERE event_type IS NOT NULL
            ),
            g AS (SELECT CAST(SUM(t) AS DOUBLE) / COUNT(t) AS prior FROM r)
            SELECT event_type, COUNT(t) AS n,
                   ROUND((CAST(SUM(t) AS DOUBLE) + {m} * prior)
                         / (COUNT(t) + {m}), 6) AS te
            FROM r CROSS JOIN g GROUP BY event_type, prior
        """,
        "event_value_loo": f"""
            WITH r AS (
              SELECT event_id, event_type, CAST(value AS DECIMAL(28,4)) AS t
              FROM events WHERE event_type IS NOT NULL
            ),
            g AS (SELECT CAST(SUM(t) AS DOUBLE) / COUNT(t) AS prior FROM r),
            c AS (SELECT event_type, COUNT(t) AS n_cat,
                         CAST(SUM(t) AS DOUBLE) AS sum_cat
                  FROM r GROUP BY event_type)
            SELECT r.event_id, r.event_type,
                   ROUND(CASE
                     WHEN t IS NULL
                       THEN (sum_cat + {m} * prior) / (n_cat + {m})
                     WHEN (n_cat - 1 + {m}) > 0
                       THEN (sum_cat - CAST(t AS DOUBLE) + {m} * prior)
                            / (n_cat - 1 + {m})
                     ELSE prior END, 6) AS loo
            FROM r JOIN c ON r.event_type = c.event_type CROSS JOIN g
        """,
        "value_quantile_bins": f"""
            WITH b AS (SELECT list_transform(quantile_cont(value, [{fracs}]),
                                             x -> round(x, 6)) AS bnds
                       FROM events),
            r AS (SELECT value,
                         CASE WHEN value IS NOT NULL
                              THEN 1 + len(list_filter(bnds, x -> value > x))
                         END AS bin
                  FROM events CROSS JOIN b)
            SELECT bin, COUNT(*) AS n,
                   ROUND(MIN(value), 4) AS lo, ROUND(MAX(value), 4) AS hi
            FROM r GROUP BY bin
        """,
        "event_value_scaled": """
            WITH s AS (SELECT COUNT(value) AS n,
                              CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sm,
                              CAST(SUM(CAST(value * value AS DECIMAL(38,8))) AS DOUBLE) AS ssq
                       FROM events)
            SELECT event_id,
                   ROUND(CASE WHEN n > 1 AND (ssq - sm * sm / n) / (n - 1) > 0
                              THEN (value - sm / n)
                                   / sqrt((ssq - sm * sm / n) / (n - 1))
                         END, 6) AS z
            FROM events CROSS JOIN s
        """,
        "lineitem_corr": _lineitem_corr_sql(),
        "event_cross_hash": f"""
            SELECT CAST('0x' || substr(md5('cross'
                     || COALESCE(event_type, chr(1)) || chr(31)
                     || COALESCE(CAST(hour(ts) AS VARCHAR), chr(1))), 1, 8)
                   AS BIGINT) % {N_CROSS_BUCKETS} AS cross_bucket,
                   COUNT(*) AS n
            FROM events GROUP BY 1
        """,
    }


def oracle_sql() -> dict[str, str]:
    d = _oracle_sql_base()
    d.update(_encode_oracle_sql())
    # composition oracle: reuse the three member oracles as subqueries
    # (DuckDB supports CTEs inside derived tables), so the consensus
    # check can never drift from the member checks
    # connected components over the simhash pairs: recursive min-label
    # reachability (terminates under UNION set semantics); reuses the
    # member pair oracle so the cluster check can never drift from it
    cc = f"""
        WITH RECURSIVE edges AS (
          SELECT id1 AS src, id2 AS dst FROM ({d['simhash_neardup']})
          UNION
          SELECT id2 AS src, id1 AS dst FROM ({d['simhash_neardup']})
        ),
        reach(v, label) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.v
        )
        SELECT v AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY v
    """
    d["neardup_clusters"] = cc
    d["dedup_shard_assign"] = f"""
        WITH cc AS ({cc})
        SELECT d.doc_id,
               CAST('0x' || substr(md5('shard'
                      || CAST(COALESCE(cc.cluster_id, d.doc_id)
                              AS VARCHAR)), 1, 8) AS BIGINT)
                 % {DEDUP_N_SHARDS} AS shard_id
        FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id
    """
    d["contrastive_triplets"] = f"""
        WITH cc AS ({cc}),
        pool AS (
          SELECT doc_id AS cand,
                 ROW_NUMBER() OVER (
                   ORDER BY md5('neg' || doc_id::VARCHAR), doc_id
                 ) - 1 AS slot
          FROM documents
          ORDER BY md5('neg' || doc_id::VARCHAR), doc_id
          LIMIT {TRIPLET_POOL}
        ),
        t AS (
          SELECT p.id1 AS anchor, p.id2 AS positive, j.j AS neg_slot,
                 CAST('0x' || substr(md5('neg' || p.id1::VARCHAR
                        || chr(31) || j.j::VARCHAR), 1, 8) AS BIGINT)
                   % {TRIPLET_POOL} AS slot
          FROM ({d['simhash_neardup']}) p
          CROSS JOIN (SELECT unnest(generate_series(0,
                        {TRIPLET_N_NEG - 1})) AS j) j
        ),
        drawn AS (
          SELECT t.anchor, t.positive, pool.cand AS negative, t.neg_slot
          FROM t JOIN pool ON pool.slot = t.slot
          WHERE pool.cand <> t.anchor AND pool.cand <> t.positive
        )
        SELECT d.anchor, d.positive, d.negative,
               CAST(d.neg_slot AS INT) AS neg_slot
        FROM drawn d
        LEFT JOIN cc a ON a.doc_id = d.anchor
        LEFT JOIN cc n ON n.doc_id = d.negative
        WHERE a.cluster_id IS NULL OR n.cluster_id IS NULL
           OR a.cluster_id <> n.cluster_id
    """
    d["dedup_survivors"] = f"""
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (
          SELECT doc_id FROM ({cc}) WHERE doc_id <> cluster_id
        )
    """
    d["cluster_safe_split"] = f"""
        WITH c AS ({cc}),
        rep AS (
          SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS rep
          FROM documents d LEFT JOIN c ON d.doc_id = c.doc_id
        )
        SELECT doc_id, rep,
               CASE WHEN CAST('0x' || substr(md5('split' || rep::VARCHAR), 1, 8)
                         AS BIGINT) % 100 < 10
                    THEN 'test' ELSE 'train' END AS split
        FROM rep
    """
    d["doc_tfidf"] = """
        WITH terms AS (
          SELECT doc_id,
                 unnest(regexp_extract_all(lower(text), '([a-z]+)', 1)) AS term
          FROM documents
        ), tf AS (
          SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
        ), idf AS (
          SELECT term,
                 ln((SELECT COUNT(DISTINCT doc_id) FROM documents)::DOUBLE
                    / COUNT(*)) AS idf
          FROM tf GROUP BY term
        ), s AS (
          SELECT tf.doc_id, tf.term, tf.tf,
                 ROUND(tf.tf * idf.idf, 6) AS score
          FROM tf JOIN idf USING (term)
        ), r AS (
          SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, term) AS rk
          FROM s
        )
        SELECT doc_id, term, tf, score, rk FROM r WHERE rk <= 3
    """
    wf_folds = ", ".join(
        f"({i}, epoch_us(TIMESTAMP '{WF_CUTS[i]}'), "
        f"epoch_us(TIMESTAMP '{WF_CUTS[i + 1]}'))"
        for i in range(len(WF_CUTS) - 1)
    )
    d["walk_forward_splits"] = f"""
        WITH f(fold, start_us, end_us) AS (VALUES {wf_folds}),
        e AS (SELECT event_id, epoch_us(ts) AS ts_us FROM events),
        a AS (
          SELECT f.fold, e.ts_us,
                 CASE WHEN ts_us >= start_us AND ts_us < end_us THEN 'test'
                      WHEN ts_us < start_us - {int(WF_PURGE_S * 1e6)}
                        OR ts_us >= end_us + {int(WF_EMBARGO_S * 1e6)}
                        THEN 'train'
                 END AS role
          FROM e CROSS JOIN f
        )
        SELECT fold, role, COUNT(*) AS n_rows,
               MIN(ts_us) AS min_ts_us, MAX(ts_us) AS max_ts_us
        FROM a WHERE role IS NOT NULL GROUP BY fold, role
    """
    d["data_quality"] = """
        SELECT 'not_null(event_id)' AS check_name, COUNT(*) AS n_rows,
               CAST(COUNT(*) - COUNT(event_id) AS BIGINT) AS n_violations,
               COUNT(*) - COUNT(event_id) = 0 AS pass
        FROM events
        UNION ALL
        SELECT 'not_null(value)', COUNT(*),
               CAST(COUNT(*) - COUNT(value) AS BIGINT),
               COUNT(*) - COUNT(value) = 0
        FROM events
        UNION ALL
        SELECT 'in_range(value,0,300)', COUNT(*),
               CAST(SUM(CASE WHEN value IS NOT NULL
                              AND (value < 0 OR value > 300)
                             THEN 1 ELSE 0 END) AS BIGINT),
               SUM(CASE WHEN value IS NOT NULL AND (value < 0 OR value > 300)
                        THEN 1 ELSE 0 END) = 0
        FROM events
        UNION ALL
        SELECT 'matches(event_type)', COUNT(*),
               CAST(SUM(CASE WHEN event_type IS NOT NULL
                              AND NOT regexp_matches(event_type, '^[a-z_]+$')
                             THEN 1 ELSE 0 END) AS BIGINT),
               SUM(CASE WHEN event_type IS NOT NULL
                         AND NOT regexp_matches(event_type, '^[a-z_]+$')
                        THEN 1 ELSE 0 END) = 0
        FROM events
        UNION ALL
        SELECT 'unique(event_id)', COUNT(*),
               CAST(COUNT(event_id) - COUNT(DISTINCT event_id) AS BIGINT),
               COUNT(event_id) - COUNT(DISTINCT event_id) = 0
        FROM events
        UNION ALL
        SELECT 'foreign_key(user_id)',
               (SELECT COUNT(*) FROM events),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM events e
                LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
                  ON e.user_id = c.c_custkey
                WHERE e.user_id IS NOT NULL AND c.c_custkey IS NULL),
               (SELECT COUNT(*) FROM events e
                LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
                  ON e.user_id = c.c_custkey
                WHERE e.user_id IS NOT NULL AND c.c_custkey IS NULL) = 0
    """
    d["value_imputed"] = """
        WITH d AS (
          SELECT event_id, event_type,
                 CASE WHEN event_id % 11 = 0 THEN NULL ELSE value END AS value
          FROM events
        ),
        f AS (
          SELECT event_type,
                 ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                       / COUNT(value), 6) AS fill
          FROM d GROUP BY 1
        )
        SELECT d.event_id, d.event_type, d.value,
               d.value IS NULL AS value_was_null,
               COALESCE(d.value, f.fill) AS value_imputed
        FROM d LEFT JOIN f USING (event_type)
    """
    d["temperature_sample"] = """
        WITH d AS (
          SELECT doc_id,
                 CASE WHEN doc_id < 300 THEN 'big' ELSE source END AS source
          FROM documents
        ),
        c AS (SELECT source, COUNT(*) AS n FROM d GROUP BY 1),
        z AS (SELECT SUM(POW(n, 0.5)) AS z FROM c),
        caps AS (
          SELECT source,
                 LEAST(n, CAST(FLOOR(ROUND(200.0 * POW(n, 0.5)
                                           / (SELECT z FROM z), 6))
                               AS BIGINT)) AS cap
          FROM c
        ),
        r AS (
          SELECT doc_id, source,
                 ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5('temp' || doc_id::VARCHAR), doc_id
                 ) AS rk
          FROM d
        )
        SELECT r.doc_id, r.source
        FROM r JOIN caps USING (source) WHERE rk <= cap
    """
    d["domain_mixture_plan"] = f"""
        WITH t AS (
          SELECT source,
                 CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+')))
                      AS BIGINT) AS n_tokens
          FROM documents GROUP BY 1
        ),
        s AS (
          SELECT CAST(SUM(n_tokens) AS DOUBLE) AS tot,
                 SUM(POW(CAST(n_tokens AS DOUBLE), {MIXTURE_ALPHA})) AS z
          FROM t
        )
        SELECT source, n_tokens,
               ROUND(n_tokens / (SELECT tot FROM s), 6) AS raw_share,
               ROUND(POW(CAST(n_tokens AS DOUBLE), {MIXTURE_ALPHA})
                     / (SELECT z FROM s), 6) AS weight,
               CAST(FLOOR(ROUND({float(MIXTURE_BUDGET)}
                                * POW(CAST(n_tokens AS DOUBLE),
                                      {MIXTURE_ALPHA})
                                / (SELECT z FROM s), 6)) AS BIGINT)
                 AS target_tokens,
               ROUND({float(MIXTURE_BUDGET)}
                     * POW(CAST(n_tokens AS DOUBLE), {MIXTURE_ALPHA})
                     / (SELECT z FROM s) / n_tokens, 6) AS epochs
        FROM t
    """
    d["mixture_sampled_corpus"] = rf"""
        WITH d AS (
          SELECT doc_id, source,
                 CAST(len(regexp_split_to_array(trim(text), '\s+'))
                      AS BIGINT) AS n_tok
          FROM documents
        ),
        t AS (
          SELECT source, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
          FROM d GROUP BY 1
        ),
        s AS (
          SELECT SUM(POW(CAST(n_tokens AS DOUBLE), {MIXTURE_ALPHA})) AS z
          FROM t
        ),
        plan AS (
          SELECT source,
                 CAST(FLOOR(ROUND({float(MIXTURE_SAMPLE_BUDGET)}
                                  * POW(CAST(n_tokens AS DOUBLE),
                                        {MIXTURE_ALPHA})
                                  / (SELECT z FROM s), 6)) AS BIGINT)
                   AS budget
          FROM t
        ),
        r AS (
          SELECT d.doc_id, d.source, d.n_tok,
                 SUM(d.n_tok) OVER (
                   PARTITION BY d.source
                   ORDER BY md5('budget' || d.doc_id::VARCHAR), d.doc_id
                   ROWS UNBOUNDED PRECEDING
                 ) AS run,
                 p.budget
          FROM d JOIN plan p USING (source)
        )
        SELECT doc_id, source, n_tok FROM r WHERE run <= budget
    """
    d["corpus_datacard"] = _datacard_sql("TRUE")
    d["doc_zipf"] = r"""
        WITH w AS (
          SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
          FROM documents
        ),
        fr AS (
          SELECT w, COUNT(*) AS n FROM w WHERE w <> '' GROUP BY w
        ),
        rk AS (
          SELECT ln(CAST(n AS DOUBLE)) AS ln_f,
                 ln(CAST(ROW_NUMBER() OVER (ORDER BY n DESC, w ASC)
                         AS DOUBLE)) AS ln_r
          FROM fr
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
               ROUND(regr_slope(ln_f, ln_r), 6) AS zipf_slope,
               ROUND(regr_intercept(ln_f, ln_r), 6) AS zipf_intercept
        FROM rk
    """
    d["epoch_schedule"] = rf"""
        WITH d AS (
          SELECT doc_id, source,
                 CAST(len(regexp_split_to_array(trim(text), '\s+'))
                      AS BIGINT) AS n_tok
          FROM documents
        ),
        t AS (
          SELECT source, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
          FROM d GROUP BY 1
        ),
        s AS (
          SELECT SUM(POW(CAST(n_tokens AS DOUBLE), {MIXTURE_ALPHA})) AS z
          FROM t
        ),
        plan AS (
          SELECT source, n_tokens,
                 CAST(FLOOR(ROUND({float(MIXTURE_BUDGET)}
                                  * POW(CAST(n_tokens AS DOUBLE),
                                        {MIXTURE_ALPHA})
                                  / (SELECT z FROM s), 6)) AS BIGINT)
                   AS target
          FROM t
        ),
        f AS (
          SELECT source, n_tokens,
                 CAST(FLOOR(target / n_tokens) AS BIGINT) AS fullp,
                 target - CAST(FLOOR(target / n_tokens) AS BIGINT)
                          * n_tokens AS rem
          FROM plan
        ),
        r AS (
          SELECT doc_id, source, n_tok,
                 SUM(n_tok) OVER (
                   PARTITION BY source
                   ORDER BY md5('budget' || doc_id::VARCHAR), doc_id
                   ROWS UNBOUNDED PRECEDING
                 ) AS run
          FROM d
        ),
        pm AS (
          SELECT r.source, CAST(SUM(r.n_tok) AS BIGINT) AS etok
          FROM r JOIN f ON r.source = f.source
          WHERE f.rem > 0 AND r.run <= f.rem
          GROUP BY r.source
        )
        SELECT source,
               CAST(unnest(generate_series(0, fullp - 1)) AS BIGINT)
                 AS epoch_idx,
               n_tokens AS epoch_tokens, FALSE AS is_partial
        FROM f WHERE fullp > 0
        UNION ALL
        SELECT pm.source, f.fullp AS epoch_idx, pm.etok, TRUE
        FROM pm JOIN f ON pm.source = f.source
    """
    d["touch_attribution"] = """
        WITH c AS (
          SELECT user_id, ts, event_id, value FROM events
          WHERE event_type = 'purchase' AND ts IS NOT NULL
        ),
        t AS (
          SELECT user_id, ts, event_id, event_type FROM events
          WHERE event_type <> 'purchase' AND ts IS NOT NULL
        ),
        j AS (
          SELECT c.event_id AS cid, t.event_type,
                 ROW_NUMBER() OVER (
                   PARTITION BY c.event_id
                   ORDER BY t.ts ASC, t.event_id ASC) AS rf,
                 ROW_NUMBER() OVER (
                   PARTITION BY c.event_id
                   ORDER BY t.ts DESC, t.event_id DESC) AS rl
          FROM c JOIN t ON t.user_id = c.user_id
           AND (t.ts < c.ts OR (t.ts = c.ts AND t.event_id < c.event_id))
        ),
        att AS (
          SELECT c.event_id, c.value,
                 COALESCE(f.event_type, '(none)') AS first_touch,
                 COALESCE(l.event_type, '(none)') AS last_touch
          FROM c
          LEFT JOIN (SELECT cid, event_type FROM j WHERE rf = 1) f
            ON f.cid = c.event_id
          LEFT JOIN (SELECT cid, event_type FROM j WHERE rl = 1) l
            ON l.cid = c.event_id
        )
        SELECT first_touch AS channel,
               CAST(COUNT(*) AS BIGINT) AS n_conversions,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
                 AS attributed_value,
               'first' AS model
        FROM att GROUP BY first_touch
        UNION ALL
        SELECT last_touch, CAST(COUNT(*) AS BIGINT),
               ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6),
               'last'
        FROM att GROUP BY last_touch
    """
    d["datacard_diff"] = f"""
        WITH a AS ({_datacard_sql("doc_id % 2 = 0")}),
        b AS ({_datacard_sql("doc_id % 2 = 1")})
        SELECT COALESCE(a.section, b.section) AS section,
               COALESCE(a.metric, b.metric) AS metric,
               ROUND(COALESCE(a.value, 0.0), 6) AS value_a,
               ROUND(COALESCE(b.value, 0.0), 6) AS value_b,
               ROUND(COALESCE(b.value, 0.0) - COALESCE(a.value, 0.0), 6)
                 AS delta
        FROM a FULL OUTER JOIN b
          ON a.section = b.section AND a.metric = b.metric
    """
    d["calendar_features"] = """
        SELECT event_id,
               CAST(hour(ts) AS INT) AS cal_hour,
               CAST(isodow(ts) AS INT) AS cal_dow,
               CAST(day(ts) AS INT) AS cal_dom,
               CAST(month(ts) AS INT) AS cal_month,
               isodow(ts) >= 6 AS cal_is_weekend
        FROM events
    """
    d["rfm_features"] = f"""
        WITH a AS (
          SELECT user_id,
                 ROUND((epoch_us(TIMESTAMP '{RFM_AS_OF}')
                        - MAX(epoch_us(ts))) / 1000000.0, 6) AS recency_s,
                 COUNT(*) AS frequency,
                 ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
                   AS monetary
          FROM events
          WHERE ts IS NOT NULL AND ts <= TIMESTAMP '{RFM_AS_OF}'
          GROUP BY 1
        )
        SELECT user_id, frequency, monetary, recency_s,
               CAST(6 - ntile(5) OVER (ORDER BY recency_s, user_id)
                    AS INT) AS r_score,
               CAST(6 - ntile(5) OVER (ORDER BY frequency DESC, user_id)
                    AS INT) AS f_score,
               CAST(6 - ntile(5) OVER (ORDER BY monetary DESC, user_id)
                    AS INT) AS m_score
        FROM a
    """
    # same injection schedule as _pii_text / q_boilerplate_strip
    _pii_t = (
        "text"
        " || CASE WHEN doc_id % 7 = 0"
        "         THEN ' mail user' || doc_id::VARCHAR || '@example.com'"
        "         ELSE '' END"
        " || CASE WHEN doc_id % 5 = 0 THEN ' call +1 (415) 555-0199' ELSE '' END"
        " || CASE WHEN doc_id % 4 = 0 THEN ' host 192.168.1.77' ELSE '' END"
        " || CASE WHEN doc_id % 9 = 0 THEN ' id 123-45-6789' ELSE '' END"
    )
    _pats = {
        "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
        "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
        "phone": r"\+?[0-9][0-9()\-\s]{7,}[0-9]",
    }
    _clean = "t"
    for _k, _p in _pats.items():
        _esc = _p.replace("'", "''")
        _clean = (
            f"regexp_replace({_clean}, '{_esc}', '<{_k.upper()}>', 'g')"
        )
    _cnt = ", ".join(
        f"CAST(len(regexp_extract_all(t, '{p}')) AS BIGINT) AS pii_{k}"
        for k, p in _pats.items()
    )
    d["pii_scrub"] = f"""
        WITH d AS (SELECT doc_id, {_pii_t} AS t FROM documents)
        SELECT doc_id, {_cnt},
               CAST(len(regexp_extract_all(t, '{_pats["email"]}'))
                  + len(regexp_extract_all(t, '{_pats["ssn"]}'))
                  + len(regexp_extract_all(t, '{_pats["ipv4"]}'))
                  + len(regexp_extract_all(t, '{_pats["phone"]}'))
                    AS BIGINT) AS pii_total,
               {_clean} AS text_clean
        FROM d
    """
    d["boilerplate_strip"] = """
        WITH d AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0
                      THEN 'ACCEPT COOKIES TO CONTINUE' || chr(10) ELSE '' END
                 || text
                 || CASE WHEN doc_id % 4 = 0
                         THEN chr(10) || 'COPYRIGHT FOOTER 2024' ELSE '' END
                   AS t
          FROM documents WHERE text IS NOT NULL
        ),
        n AS (
          SELECT GREATEST(1, CAST(FLOOR(COUNT(*) * 0.05) AS INT)) AS cut
          FROM d
        ),
        l AS (
          SELECT doc_id,
                 unnest(generate_series(1, len(string_split(t, chr(10)))))
                   AS pos,
                 unnest(string_split(t, chr(10))) AS line
          FROM d
        ),
        fr AS (
          SELECT line FROM (
            SELECT DISTINCT doc_id, line FROM l
            WHERE length(trim(line)) >= 1
          ) GROUP BY line HAVING COUNT(*) > (SELECT cut FROM n)
        ),
        kept AS (
          SELECT * FROM l WHERE line NOT IN (SELECT line FROM fr)
        ),
        stripped AS (
          SELECT doc_id,
                 CAST(SUM(CASE WHEN line IN (SELECT line FROM fr)
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_stripped
          FROM l GROUP BY doc_id
        )
        SELECT k.doc_id,
               string_agg(k.line, chr(10) ORDER BY k.pos) AS text_clean,
               COUNT(*) AS n_lines,
               MAX(s.n_stripped) AS n_stripped
        FROM kept k JOIN stripped s USING (doc_id)
        GROUP BY k.doc_id
    """
    d["source_quota_sample"] = """
        WITH r AS (
          SELECT doc_id, source,
                 ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5('quota' || doc_id::VARCHAR), doc_id
                 ) AS rk
          FROM documents
        )
        SELECT doc_id, source FROM r WHERE rk <= 15
    """
    d["value_winsorized"] = """
        WITH b AS (
          SELECT event_type,
                 quantile_cont(value, 0.05) AS lo,
                 quantile_cont(value, 0.95) AS hi
          FROM events GROUP BY 1
        )
        SELECT e.event_id, e.event_type, e.value,
               CASE WHEN e.value IS NOT NULL
                    THEN ROUND(LEAST(GREATEST(e.value, b.lo), b.hi), 6)
               END AS value_wins
        FROM events e JOIN b USING (event_type)
    """
    d["key_skew_profile"] = """
        WITH c AS (
          SELECT user_id, COUNT(*) AS c FROM events GROUP BY 1
        ),
        r AS (
          SELECT c, user_id,
                 ROW_NUMBER() OVER (ORDER BY c, user_id ASC NULLS FIRST) AS i,
                 ROW_NUMBER() OVER (ORDER BY c DESC, user_id ASC NULLS LAST)
                   AS rr
          FROM c
        )
        SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
               COUNT(*) AS n_keys,
               CAST(MAX(c) AS BIGINT) AS max_key_rows,
               ROUND(MAX(c) / (CAST(SUM(c) AS BIGINT) / COUNT(*)), 6)
                 AS skew_ratio,
               ROUND(CAST(SUM(CASE WHEN rr <= 10 THEN c ELSE 0 END) AS BIGINT)
                     / CAST(SUM(c) AS BIGINT), 6) AS top_share,
               ROUND((2 * CAST(SUM(i * c) AS BIGINT))
                       / (COUNT(*) * CAST(SUM(c) AS BIGINT))
                     - (COUNT(*) + 1) / COUNT(*), 6) AS gini
        FROM r
    """
    d["asof_staleness"] = (
        "WITH j AS ("
        + _ASOF_ORACLE.format(val="value_asof", fts="epoch_us(fts)")
        + """)
        SELECT user_id,
               COUNT(*) AS n_events,
               COUNT(feature_ts_us) AS n_matched,
               ROUND(MAX(ts_us - feature_ts_us) / 1000000.0, 6)
                 AS max_staleness_s,
               CASE WHEN COUNT(feature_ts_us) > 0 THEN
                 ROUND(CAST(SUM(ts_us - feature_ts_us) AS BIGINT)
                       / COUNT(feature_ts_us) / 1000000.0, 6)
               END AS avg_staleness_s,
               ROUND(quantile_cont(ts_us - feature_ts_us, 0.95) / 1000000.0, 6)
                 AS p95_staleness_s
        FROM j GROUP BY user_id
    """
    )
    d["decontamination"] = _decontamination_sql()
    # centroid components: double -> DECIMAL(25,8) -> exact SUM -> one
    # double division (the order-proof-sum pattern); cosine = sequential
    # double folds on both engines, rounded to 6
    d["embedding_quality"] = f"""
        WITH d AS (
          SELECT vec_id,
                 CASE
                   WHEN vec_id % 13 = 0 THEN NULL
                   WHEN vec_id % 17 = 0 THEN
                     list_transform(embedding, x -> 'NaN'::DOUBLE)
                   WHEN vec_id % 19 = 0 THEN
                     list_transform(embedding, x -> 0.0)
                   WHEN vec_id % 23 = 0 THEN
                     list_transform(embedding[1:len(embedding)-2],
                                    x -> CAST(x AS DOUBLE))
                   ELSE list_transform(embedding, x -> CAST(x AS DOUBLE))
                 END AS ve
          FROM embeddings
        ),
        m AS (
          SELECT vec_id, ve,
                 ROUND(sqrt(list_dot_product(ve, ve)), 6) AS norm,
                 COALESCE(len(list_filter(ve, x -> isnan(x))) > 0, FALSE)
                   AS has_nan
          FROM d
        )
        SELECT vec_id,
               CAST(CASE WHEN ve IS NULL THEN -1 ELSE len(ve) END AS INT)
                 AS dim,
               norm,
               has_nan,
               COALESCE(norm = 0.0, FALSE) AS is_zero_norm,
               COALESCE(len(ve) = {EMBED_DIM}, FALSE) AS dim_ok,
               ve IS NOT NULL AND COALESCE(len(ve) = {EMBED_DIM}, FALSE)
                 AND NOT has_nan AND NOT COALESCE(norm = 0.0, FALSE)
                 AS vec_ok
        FROM m
    """
    d["embedding_outliers"] = """
        WITH ex AS (
          SELECT label,
                 unnest(generate_series(1, len(embedding))) AS pos,
                 unnest(list_transform(embedding,
                        x -> CAST(CAST(x AS DOUBLE) AS DECIMAL(25,8)))) AS vd
          FROM embeddings WHERE embedding IS NOT NULL
        ),
        comp AS (
          SELECT label, pos,
                 CAST(SUM(vd) AS DOUBLE) / COUNT(*) AS m
          FROM ex GROUP BY 1, 2
        ),
        cent AS (
          SELECT label, list(m ORDER BY pos) AS centroid
          FROM comp GROUP BY 1
        )
        SELECT e.vec_id, e.label,
               ROUND(
                 list_dot_product(list_transform(e.embedding,
                                                 x -> CAST(x AS DOUBLE)),
                                  c.centroid)
                 / (sqrt(list_dot_product(list_transform(e.embedding,
                                           x -> CAST(x AS DOUBLE)),
                                          list_transform(e.embedding,
                                           x -> CAST(x AS DOUBLE))))
                    * sqrt(list_dot_product(c.centroid, c.centroid))),
                 6) AS cos_centroid,
               ROUND(
                 list_dot_product(list_transform(e.embedding,
                                                 x -> CAST(x AS DOUBLE)),
                                  c.centroid)
                 / (sqrt(list_dot_product(list_transform(e.embedding,
                                           x -> CAST(x AS DOUBLE)),
                                          list_transform(e.embedding,
                                           x -> CAST(x AS DOUBLE))))
                    * sqrt(list_dot_product(c.centroid, c.centroid))),
                 6) < 0.2 AS is_outlier
        FROM embeddings e JOIN cent c USING (label)
        WHERE e.embedding IS NOT NULL
    """
    # every column is arithmetic on the events row count: 25 input
    # files (1 big of 600 rows + 24 round-robin appends of the rest,
    # each under target = max(500, n//20)); the 600-row file is carried
    # forward only while it is itself >= target
    d["snapshot_compaction"] = """
        WITH t AS (
          SELECT COUNT(*) AS n,
                 GREATEST(500, COUNT(*) // 20) AS target
          FROM events
        )
        SELECT CAST(25 AS BIGINT) AS files_before,
               CAST(CASE WHEN 600 >= target
                         THEN 1 + CEIL((n - 600) / CAST(target AS DOUBLE))
                         ELSE CEIL(n / CAST(target AS DOUBLE))
                    END AS BIGINT) AS files_after,
               n AS rows_before,
               n AS rows_after,
               TRUE AS data_equal
        FROM t
    """
    d["snapshot_expiry"] = """
        SELECT CAST(1 AS BIGINT) AS manifests_expired,
               CAST(5 AS BIGINT) AS files_deleted,  -- 4 + 1 orphan
               CAST(2 AS BIGINT) AS retained,
               CAST(100 AS BIGINT) AS rows_current,
               CAST(100 AS BIGINT) AS rows_prev,
               TRUE AS data_equal
    """
    d["doc_hashed_features"] = r"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          FROM documents WHERE doc_id % 10 = 0
        ),
        t AS (
          SELECT doc_id,
                 CAST('0x' || substr(md5('htf' || tok), 1, 8) AS BIGINT)
                   % 1024 AS feature_idx,
                 1 - 2 * (CAST('0x' || substr(md5('htf-sgn' || tok), 1, 8)
                               AS BIGINT) % 2) AS sgn
          FROM toks WHERE length(tok) > 0
        )
        SELECT doc_id, feature_idx, CAST(SUM(sgn) AS BIGINT) AS weight
        FROM t GROUP BY 1, 2 HAVING SUM(sgn) <> 0
    """
    d["doc_unigram_logprob"] = r"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          FROM documents
        ),
        t AS (SELECT doc_id, tok FROM toks WHERE length(tok) > 0),
        vocab AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY 1),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM vocab),
        lp AS (
          SELECT t.doc_id,
                 CAST(ROUND(LN(v.cnt / (SELECT tot FROM tot)), 6)
                      AS DECIMAL(18,8)) AS lp
          FROM t JOIN vocab v USING (tok)
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_logprob
        FROM lp GROUP BY 1
    """
    # PSI formula shared by both drift oracles: smoothed (cnt+0.5) /
    # (n + 0.5*k) proportions over observed bins, ln on the final ratio.
    d["value_drift_psi"] = """
        WITH rows_ AS (
          SELECT event_type,
                 CASE WHEN value < 0 THEN 0
                      WHEN value >= 300 THEN 13
                      ELSE LEAST(CAST(FLOOR((value - 0.0) / 25.0) AS INT) + 1, 12)
                 END AS bin,
                 (ts >= TIMESTAMP '2024-01-16') AS cur
          FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
        ),
        counts AS (
          SELECT event_type, bin,
                 CAST(SUM(CASE WHEN cur THEN 0 ELSE 1 END) AS BIGINT) AS ref,
                 CAST(SUM(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT) AS curn
          FROM rows_ GROUP BY 1, 2
        ),
        p AS (
          SELECT event_type, ref, curn,
                 SUM(ref) OVER w AS nref, SUM(curn) OVER w AS ncur,
                 COUNT(*) OVER w AS k
          FROM counts WINDOW w AS (PARTITION BY event_type)
        )
        SELECT event_type,
               CAST(MAX(nref) AS BIGINT) AS n_ref,
               CAST(MAX(ncur) AS BIGINT) AS n_cur,
               CAST(MAX(k) AS BIGINT) AS n_bins,
               ROUND(SUM(((curn + 0.5) / (ncur + 0.5 * k)
                          - (ref + 0.5) / (nref + 0.5 * k))
                         * LN(((curn + 0.5) / (ncur + 0.5 * k))
                              / ((ref + 0.5) / (nref + 0.5 * k)))), 6) AS psi
        FROM p GROUP BY 1
    """
    d["event_type_drift"] = """
        WITH rows_ AS (
          SELECT COALESCE(event_type, '<null>') AS bin,
                 (ts >= TIMESTAMP '2024-01-16') AS cur
          FROM events WHERE ts IS NOT NULL
        ),
        counts AS (
          SELECT bin,
                 CAST(SUM(CASE WHEN cur THEN 0 ELSE 1 END) AS BIGINT) AS ref,
                 CAST(SUM(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT) AS curn
          FROM rows_ GROUP BY 1
        ),
        p AS (
          SELECT ref, curn,
                 SUM(ref) OVER () AS nref, SUM(curn) OVER () AS ncur,
                 COUNT(*) OVER () AS k
          FROM counts
        )
        SELECT CAST(MAX(nref) AS BIGINT) AS n_ref,
               CAST(MAX(ncur) AS BIGINT) AS n_cur,
               CAST(MAX(k) AS BIGINT) AS n_bins,
               ROUND(SUM(((curn + 0.5) / (ncur + 0.5 * k)
                          - (ref + 0.5) / (nref + 0.5 * k))
                         * LN(((curn + 0.5) / (ncur + 0.5 * k))
                              / ((ref + 0.5) / (nref + 0.5 * k)))), 6) AS psi
        FROM p
    """
    d["heavy_hitters_cms"] = """
        WITH seeds AS (SELECT UNNEST([0, 1, 2, 3]) AS seed),
        ev AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
        cms AS (
          SELECT seed,
                 CAST('0x' || substr(md5('cms' || seed::VARCHAR || ':'
                                         || user_id::VARCHAR), 1, 8)
                      AS BIGINT) % 512 AS idx,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM ev CROSS JOIN seeds GROUP BY 1, 2
        ),
        truth AS (
          SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_cnt
          FROM ev GROUP BY 1 ORDER BY true_cnt DESC, user_id LIMIT 20
        ),
        probe AS (
          SELECT t.user_id, s.seed,
                 CAST('0x' || substr(md5('cms' || s.seed::VARCHAR || ':'
                                         || t.user_id::VARCHAR), 1, 8)
                      AS BIGINT) % 512 AS idx
          FROM truth t CROSS JOIN seeds s
        ),
        est AS (
          SELECT p.user_id, MIN(COALESCE(c.cnt, 0)) AS est_cnt
          FROM probe p LEFT JOIN cms c ON c.seed = p.seed AND c.idx = p.idx
          GROUP BY 1
        )
        SELECT t.user_id, t.true_cnt, e.est_cnt,
               e.est_cnt >= t.true_cnt AS no_underestimate
        FROM truth t JOIN est e USING (user_id)
    """
    d["part_name_matches"] = """
        WITH p AS (
          SELECT DISTINCT p_name, split_part(p_name, ' ', -1) AS blk
          FROM part
        )
        SELECT a.p_name AS id1, b.p_name AS id2,
               levenshtein(a.p_name, b.p_name) AS dist
        FROM p a JOIN p b ON a.blk = b.blk AND a.p_name < b.p_name
        WHERE abs(len(a.p_name) - len(b.p_name)) <= 2
          AND levenshtein(a.p_name, b.p_name) <= 2
    """
    d["train_test_split"] = """
        SELECT doc_id,
               CASE WHEN CAST('0x' || substr(md5('split' || doc_id::VARCHAR), 1, 8)
                         AS BIGINT) % 100 < 10
                    THEN 'test' ELSE 'train' END AS split
        FROM documents
    """
    d["kfold_splits"] = """
        SELECT doc_id,
               CAST('0x' || substr(md5('fold' || doc_id::VARCHAR), 1, 8)
                    AS BIGINT) % 5 AS fold
        FROM documents
    """
    d["kfold_group_user"] = """
        SELECT event_id, user_id,
               CAST('0x' || substr(md5('fold' || user_id::VARCHAR), 1, 8)
                    AS BIGINT) % 5 AS fold
        FROM events
    """
    d["stratified_sample"] = """
        WITH r AS (
          SELECT doc_id, source,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5('sample' || doc_id::VARCHAR), doc_id) AS rk,
                 COUNT(*) OVER (PARTITION BY source) AS n
          FROM documents
        )
        SELECT doc_id, source FROM r WHERE rk <= ceil(0.2 * n)
    """
    d["weighted_sample"] = """
        WITH u AS (
          SELECT doc_id, source, n_chars,
                 (CAST('0x' || substr(md5('wsample' || doc_id::VARCHAR), 1, 15)
                       AS BIGINT)::DOUBLE + 0.5)
                   / 1152921504606846976.0 AS uu
          FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
        ), r AS (
          SELECT doc_id, source, n_chars,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY -ln(uu) / n_chars::DOUBLE, doc_id) AS sample_rank
          FROM u
        )
        SELECT doc_id, source, n_chars, sample_rank
        FROM r WHERE sample_rank <= 10
    """
    d["doc_packing"] = r"""
        SELECT doc_id, source,
               len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
               CAST(FLOOR(
                 (SUM(len(regexp_split_to_array(trim(text), '\s+'))) OVER w
                  - len(regexp_split_to_array(trim(text), '\s+'))) / 1024.0
               ) AS BIGINT) AS seq_id,
               CAST(
                 (SUM(len(regexp_split_to_array(trim(text), '\s+'))) OVER w
                  - len(regexp_split_to_array(trim(text), '\s+'))) % 1024
               AS BIGINT) AS seq_offset
        FROM documents
        WINDOW w AS (PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """
    # corpus construction = composition of the MEMBER oracles (reused
    # verbatim, so this gate can never drift from the per-stage gates):
    # split assignment ∩ exact-dup keepers ∩ near-dup survivors ∩
    # quality floor ∩ language filter
    d["training_corpus"] = f"""
        SELECT doc_id, split FROM ({d['train_test_split']})
        WHERE doc_id IN (SELECT keep_id FROM ({d['dedup_exact']}))
          AND doc_id IN (SELECT doc_id FROM ({d['dedup_survivors']}))
          AND doc_id IN (
                SELECT doc_id FROM ({d['doc_quality']})
                WHERE quality >= {QUALITY_FLOOR}
              )
          AND doc_id IN (
                SELECT doc_id FROM ({d['doc_lang_id']})
                WHERE lang_pred = 'en'
              )
    """
    d["training_corpus_v2"] = f"""
        SELECT doc_id, split FROM ({d['train_test_split']})
        WHERE doc_id IN (SELECT keep_id FROM ({d['dedup_exact']}))
          AND doc_id IN (SELECT doc_id FROM ({d['dedup_survivors']}))
          AND doc_id IN (
                SELECT vec_id FROM ({d['semantic_dedup']}) WHERE keep
              )
          AND doc_id IN (
                SELECT doc_id FROM ({d['doc_gopher_rules']})
                WHERE rule_word_count AND rule_mean_word_len
                  AND rule_symbol_ratio AND rule_alpha
              )
          AND doc_id IN (
                SELECT doc_id FROM ({d['doc_repetition']})
                WHERE repetition_keep
              )
    """
    d["training_corpus_v3"] = f"""
        SELECT v.doc_id, v.split, b.bucket AS ppl_bucket
        FROM ({d['training_corpus_v2']}) v
        JOIN ({d['doc_ppl_buckets']}) b ON v.doc_id = b.doc_id
        WHERE b.bucket <> 'tail'
    """
    d["neardup_consensus"] = f"""
        WITH j AS (SELECT id1, id2, 'jaccard' AS m FROM ({d['dedup_jaccard']})),
        mh AS (SELECT id1, id2, 'minhash' AS m FROM ({d['dedup_minhash_lsh']})),
        sh AS (SELECT id1, id2, 'simhash' AS m FROM ({d['simhash_neardup']})),
        u AS (
          SELECT * FROM j UNION ALL SELECT * FROM mh UNION ALL SELECT * FROM sh
        )
        SELECT id1, id2, COUNT(*) AS n_methods,
               string_agg(m, ',' ORDER BY m) AS methods
        FROM u GROUP BY id1, id2 HAVING COUNT(*) >= 2
    """
    # binary image ops over the deterministic synth corpus: the kernel
    # outputs are pure functions of (seed, i, n) — recomputed driver-
    # side and embedded as literals (the pit_asof_alignment pattern),
    # promoting both from rows-only to full-oracle rows
    d["image_phash"] = _image_phash_sql()
    d["image_stats"] = _image_stats_sql()
    d["image_color_stats"] = _image_color_stats_sql()
    d["image_profile"] = _image_profile_sql()
    d["image_quality_rules"] = _image_quality_rules_sql()
    d["image_neardup_survivors"] = _image_neardup_survivors_sql()
    # funnels re-derive per-rule pass + cumulative survivor counts over
    # the member rule-suite oracles — composition cannot drift
    from pic2vec_spark.ops.multimodal import IMAGE_RULE_COLS

    d["doc_rule_funnel"] = _rule_funnel_sql(_doc_gopher_sql(), GOPHER_RULE_ORDER)
    d["image_rule_funnel"] = _rule_funnel_sql(
        _image_quality_rules_sql(), list(IMAGE_RULE_COLS)
    )
    d["image_thumbnails"] = _image_thumbnails_sql()
    d["image_augment"] = _image_augment_sql()
    d["audio_features"] = _audio_features_sql()
    # independent all-pairs Hamming brute force over the literal phashes
    d["image_phash_neardup"] = _image_phash_neardup_sql()
    # fused one-decode fingerprint triple + >=2-of-3 consensus vote
    d["image_fingerprints"] = _image_fingerprints_sql()
    d["fingerprint_consensus"] = _fingerprint_consensus_sql()
    # per-user trailing-24h perceptual repost pairs (range join proof)
    d["temporal_image_repost"] = _temporal_image_repost_sql()
    # per-observation trailing-24h repost features (zero-prior rows
    # value-pinned by the LEFT join in the oracle)
    d["repost_feature_matrix"] = _repost_feature_matrix_sql()
    # PIT-safe cross-user spread (cluster first-post count join)
    d["repost_spread"] = _repost_spread_sql()
    # per-cluster caption consistency (within-cluster word-set Jaccard)
    d["cluster_caption_profile"] = _cluster_caption_profile_sql()
    # the persisted Hamming index must reproduce the same brute-force
    # pair set (build on even + append odd == full corpus), and the
    # ingest probe the subset with an odd (incoming) side
    d["phash_index_pairs"] = _image_phash_neardup_sql()
    d["phash_index_probe"] = f"""
        SELECT id1, id2, hamming
        FROM ({_image_phash_neardup_sql()}) p
        WHERE CAST(substr(id1, 5) AS BIGINT) % 2 = 1
           OR CAST(substr(id2, 5) AS BIGINT) % 2 = 1
    """
    # the one-call image ingest gate: exact from the independent
    # hashlib digest literals, near from the literal-phash brute force
    # (batch side vs committed even side, both decodable), exact wins
    d["image_gate_ingest"] = f"""
        WITH dig AS ({_image_digest_sql()}),
        ph AS ({_image_phash_sql()}),
        tc AS ({_image_transcode_sql()}),
        batch AS (
          SELECT image_id AS src_id, image_id, fp FROM dig
          WHERE idx % 2 = 1
          UNION ALL
          SELECT image_id AS src_id, 're_' || image_id AS image_id, fp
          FROM dig WHERE idx % 10 = 0
          UNION ALL
          SELECT NULL AS src_id, image_id, fp FROM tc
        ),
        committed AS (SELECT * FROM dig WHERE idx % 2 = 0),
        exact AS (
          SELECT b.image_id, MIN(c.image_id) AS keep_id
          FROM batch b JOIN committed c ON b.fp = c.fp
          GROUP BY b.image_id
        ),
        bph AS (
          SELECT b.image_id, p.phash64
          FROM batch b JOIN ph p ON b.src_id = p.image_id
          WHERE p.phash64_ok
          UNION ALL
          SELECT image_id, phash64 FROM tc
        ),
        cph AS (
          SELECT c.image_id, p.phash64
          FROM committed c JOIN ph p ON c.image_id = p.image_id
          WHERE p.phash64_ok
        ),
        near AS (
          SELECT b.image_id, MIN(c.image_id) AS keep_id
          FROM bph b JOIN cph c
            ON bit_count(xor(b.phash64, c.phash64)) <= 4
          GROUP BY b.image_id
        )
        SELECT b.image_id,
               CASE WHEN e.image_id IS NOT NULL THEN 'exact_dup'
                    WHEN n.image_id IS NOT NULL THEN 'near_dup'
                    ELSE 'new' END AS disposition,
               COALESCE(e.keep_id, n.keep_id) AS keep_id
        FROM batch b
        LEFT JOIN exact e ON b.image_id = e.image_id
        LEFT JOIN near n ON b.image_id = n.image_id
    """
    # composition over the member literal oracles (cannot drift)
    d["multimodal_corpus"] = _multimodal_corpus_sql()
    return d


# shared WITH-prefix for the multi-table as-of oracles: the same
# union+running-last formulation as asof_join_multi, two feature tables
# (clicks, views) carried in disjoint column groups through ONE window
_MULTI_ASOF_M = """
WITH c AS (
  SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click'
), v AS (
  SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'view'
), q AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
), u AS (
  SELECT user_id, ts, event_id, 0 AS side,
         value AS vc, event_id AS ec, ts AS tc,
         CAST(NULL AS DOUBLE) AS vv, CAST(NULL AS BIGINT) AS ev,
         CAST(NULL AS TIMESTAMP) AS tv
  FROM c
  UNION ALL
  SELECT user_id, ts, event_id, 0, NULL, NULL, NULL, value, event_id, ts
  FROM v
  UNION ALL
  SELECT user_id, ts, event_id, 1, NULL, NULL, NULL, NULL, NULL, NULL FROM q
), m AS (
  SELECT u.*,
    last_value(vc IGNORE NULLS) OVER w AS value_clk,
    last_value(ec IGNORE NULLS) OVER w AS event_id_clk,
    last_value(tc IGNORE NULLS) OVER w AS fts_c,
    last_value(vv IGNORE NULLS) OVER w AS value_vw,
    last_value(ev IGNORE NULLS) OVER w AS event_id_vw,
    last_value(tv IGNORE NULLS) OVER w AS fts_v
  FROM u
  WINDOW w AS (
    PARTITION BY user_id ORDER BY ts, side, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  )
)
"""


def _events_zorder_sql() -> str:
    """Identical Morton-key arithmetic as the engine query — the key
    expression text is generated once and shared verbatim."""
    from pic2vec_spark.ops.layout import zorder_sql

    return f"""
        WITH t AS (
          SELECT event_id,
                 user_id % 256 AS zx,
                 (epoch_us(ts) // 3600000000) % 256 AS zy
          FROM events
        )
        SELECT event_id, zx, zy, {zorder_sql(["zx", "zy"], bits=8)} AS zkey
        FROM t
    """


# shared WITH-prefix for the SCD2 oracles: gaps-and-islands over the
# events change-log (user_id key, event_type tracked value)
_SCD2_M = """
WITH o AS (
  SELECT user_id, event_type, ts, event_id,
         row_number() OVER w AS rn,
         count(*) OVER (PARTITION BY user_id) AS total,
         lag(event_type) OVER w AS prev
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), st AS (
  SELECT * FROM o
  WHERE rn = 1 OR prev IS DISTINCT FROM event_type
), fin AS (
  SELECT user_id, event_type, ts AS valid_from,
         lead(ts) OVER w2 AS valid_to,
         row_number() OVER w2 AS version,
         COALESCE(lead(rn) OVER w2, total + 1) - rn AS n_obs
  FROM st
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
)
"""


def _audit_branch(feature: str, fts: str) -> str:
    """One long-form audit row: exact integer-µs staleness aggregates
    over the matched, non-leaking subset (mirrors audit_point_in_time)."""
    stale = f"epoch_us(ts) - epoch_us({fts})"
    return f"""
      SELECT '{feature}' AS feature,
             COUNT(*)::BIGINT AS n_rows,
             COUNT({fts})::BIGINT AS n_matched,
             COALESCE(SUM(CASE WHEN {fts} > ts THEN 1 ELSE 0 END), 0)::BIGINT
               AS n_leaks,
             MAX(CASE WHEN {fts} <= ts THEN {stale} END) AS max_staleness_us,
             SUM(CASE WHEN {fts} <= ts THEN {stale} END)::BIGINT
               AS sum_staleness_us
      FROM m WHERE side = 1
    """


def _oracle_sql_base() -> dict[str, str]:
    return {
        "multi_asof": _MULTI_ASOF_M
        + """
            SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                   value_clk, event_id_clk, epoch_us(fts_c) AS ts_clk_us,
                   value_vw, event_id_vw, epoch_us(fts_v) AS ts_vw_us
            FROM m WHERE side = 1
        """,
        "pit_audit": _MULTI_ASOF_M
        + _audit_branch("ts_clk", "fts_c")
        + " UNION ALL "
        + _audit_branch("ts_vw", "fts_v"),
        # same union+running-last as-of formulation as the engine, over a
        # generate_series day grid aligned exactly like backfill_grid
        "pit_backfill": """
            WITH f AS (
              SELECT user_id, ts, event_id, value
              FROM events WHERE event_type = 'click'
            ), b AS (
              SELECT (epoch_us(MIN(ts)) // 86400000000) * 86400000000 AS g0,
                     epoch_us(MAX(ts)) AS g1
              FROM f
            ), gs AS (
              SELECT unnest(generate_series(g0, g1, 86400000000)) AS t FROM b
            ), grid AS (
              SELECT e.user_id, make_timestamp(gs.t) AS ts
              FROM (SELECT DISTINCT user_id FROM f) e CROSS JOIN gs
            ), u AS (
              SELECT user_id, ts, 0 AS side, event_id AS tie,
                     value AS v, ts AS fts
              FROM f
              UNION ALL
              SELECT user_id, ts, 1, NULL, NULL, NULL FROM grid
            ), m AS (
              SELECT u.*,
                last_value(v IGNORE NULLS) OVER w AS value_asof,
                last_value(fts IGNORE NULLS) OVER w AS ts_asof
              FROM u
              WINDOW w AS (
                PARTITION BY user_id ORDER BY ts, side, tie
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
              )
            )
            SELECT user_id, epoch_us(ts) AS grid_ts_us, value_asof,
                   epoch_us(ts_asof) AS feature_ts_us
            FROM m WHERE side = 1
        """,
        # gaps-and-islands SCD2 compression, same formulation as
        # scd2_compress: change-flag on lag, filter island starts,
        # lead() for the exclusive validity bound
        "scd2_user_state": _SCD2_M + """
            SELECT user_id, event_type,
                   epoch_us(valid_from) AS valid_from_us,
                   epoch_us(valid_to) AS valid_to_us,
                   version, n_obs, valid_to IS NULL AS is_current
            FROM fin
        """,
        "scd2_state_mid": _SCD2_M + """
            SELECT user_id, event_type,
                   epoch_us(valid_from) AS valid_from_us, version
            FROM fin
            WHERE valid_from <= TIMESTAMP '2024-01-15 00:00:00'
              AND (valid_to IS NULL
                   OR valid_to > TIMESTAMP '2024-01-15 00:00:00')
        """,
        "events_zorder": _events_zorder_sql(),
        "doc_token_count": r"""
            SELECT doc_id,
                   len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
                   len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS n_distinct_tokens,
                   len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])', 1)) AS n_subwords
            FROM documents
        """,
        "doc_quality": r"""
            WITH x AS (
              SELECT doc_id,
                     regexp_split_to_array(trim(text), '\s+') AS toks,
                     length(text) AS n_chars,
                     length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS punct
              FROM documents
            ), y AS (
              SELECT doc_id, len(toks) AS n_tokens, n_chars, punct,
                     len(list_filter(toks, tk -> tk IN ('the','a','and','of','to','in','is','for'))) AS stop
              FROM x
            )
            SELECT doc_id, n_tokens,
                   ROUND(stop / CAST(n_tokens AS DOUBLE), 4) AS stop_ratio,
                   ROUND(punct / CAST(n_chars AS DOUBLE), 4) AS punct_ratio,
                   ROUND((n_chars - n_tokens + 1) / CAST(n_tokens AS DOUBLE), 4) AS mean_tok_len,
                   ROUND(
                     least(n_tokens / 100.0, 1.0) * 0.4
                     + least(stop / CAST(n_tokens AS DOUBLE) * 5.0, 1.0) * 0.4
                     + (1.0 - least(punct / CAST(n_chars AS DOUBLE) * 10.0, 1.0)) * 0.2, 4) AS quality
            FROM y
        """,
        "doc_repetition": _doc_repetition_sql(),
        "doc_gopher_rules": _doc_gopher_sql(),
        "doc_shared_ngrams": _doc_shared_ngrams_sql(),
        "doc_lang_id": r"""
            WITH x AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
              FROM documents
            ), y AS (
              SELECT doc_id,
                     len(list_filter(toks, tk -> tk IN ('the','a','and','of','to','in','is','for')))
                       / CAST(len(toks) AS DOUBLE) AS ratio
              FROM x
            )
            SELECT doc_id, ROUND(ratio, 4) AS en_marker_ratio,
                   CASE WHEN ratio >= 0.05 THEN 'en' ELSE 'other' END AS lang_pred
            FROM y
        """,
        "doc_fingerprint": """
            SELECT doc_id, md5(lower(trim(text))) AS fp_md5,
                   CAST('0x' || substr(md5(lower(trim(text))), 1, 15) AS BIGINT) AS fp_int
            FROM documents
        """,
        "doc_word_freqs": """
            SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
            FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
                  FROM documents)
            GROUP BY word
        """,
        "bpe_merges": _bpe_merges_sql(),
        "bpe_token_freqs": _bpe_token_freqs_sql(),
        "doc_bigram_ppl": _DOC_BIGRAM_PPL_SQL,
        "doc_ppl_buckets": _DOC_PPL_BUCKETS_SQL,
        "image_tile_phash": _image_tile_phash_sql(),
        "image_crop_reposts": _image_crop_reposts_sql(),
        "image_aspect_batches": _image_aspect_batches_sql(),
        "image_shard_manifest": _image_shard_manifest_sql(),
        "crop_probe_index": _crop_probe_index_sql(),
        "audio_fingerprints": _audio_fp_sql(),
        "audio_activity": _audio_activity_sql(),
        "media_datacard": _media_datacard_sql(),
        "audio_fp_neardup": _audio_fp_neardup_sql(),
        "video_frame_hashes": _video_frame_hashes_sql(),
        "video_reposts": _video_reposts_sql(),
        "video_scenes": _video_scenes_sql(),
        "video_keyframes": _video_keyframes_sql(),
        "video_image_matches": _video_image_matches_sql(),
        "video_probe_index": _video_probe_index_sql(),
        "media_corpus": _media_corpus_sql(),
        "doc_vocab_coverage": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
              FROM documents
            ), vocab AS (
              SELECT term FROM (
                SELECT term,
                       ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term ASC) AS rk
                FROM toks GROUP BY term
              ) WHERE rk <= 10
            )
            SELECT t.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   CAST(SUM(CASE WHEN v.term IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                     AS in_vocab_tokens,
                   ROUND(1.0 - SUM(CASE WHEN v.term IS NOT NULL THEN 1 ELSE 0 END)
                               / CAST(COUNT(*) AS DOUBLE), 4) AS oov_frac
            FROM toks t LEFT JOIN vocab v ON t.term = v.term
            GROUP BY t.doc_id
        """,
        "doc_curriculum": """
            WITH staged AS (
              SELECT doc_id, source, n_chars,
                     NTILE(4) OVER (PARTITION BY source
                                    ORDER BY n_chars DESC, doc_id ASC) AS stage
              FROM documents
            )
            SELECT doc_id, source, stage,
                   CAST(ROW_NUMBER() OVER (PARTITION BY stage, source
                                           ORDER BY n_chars DESC, doc_id ASC)
                        AS BIGINT) AS rr
            FROM staged
        """,
        "doc_length_batches": """
            WITH b AS (
              SELECT source, n_chars, doc_id,
                     CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY source
                                                    ORDER BY n_chars ASC, doc_id ASC)
                                 - 1) / 32.0) AS BIGINT) AS batch_id
              FROM documents
            )
            SELECT source, batch_id,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(MAX(n_chars) AS BIGINT) AS max_len,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_tokens,
                   ROUND(1.0 - SUM(n_chars)
                               / CAST(COUNT(*) * MAX(n_chars) AS DOUBLE), 4)
                     AS pad_frac
            FROM b GROUP BY source, batch_id
        """,
        "dedup_exact": """
            SELECT md5(lower(trim(text))) AS fp_md5,
                   MIN(doc_id) AS keep_id,
                   COUNT(*) AS n_dups
            FROM documents GROUP BY 1
        """,
        "dedup_jaccard": f"""
            WITH {_SQL_SHINGLES},
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id1, id2, inter,
                   ROUND(inter / CAST(s1.sz + s2.sz - inter AS DOUBLE), 4) AS jaccard
            FROM inter
            JOIN sizes s1 ON s1.doc_id = id1
            JOIN sizes s2 ON s2.doc_id = id2
            WHERE ROUND(inter / CAST(s1.sz + s2.sz - inter AS DOUBLE), 4) >= {JACCARD_THRESHOLD}
        """,
        "dedup_containment": f"""
            WITH {_SQL_SHINGLES},
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            paired AS (
              SELECT id1, id2, inter, s1.sz AS sz1, s2.sz AS sz2
              FROM inter
              JOIN sizes s1 ON s1.doc_id = id1
              JOIN sizes s2 ON s2.doc_id = id2
            ),
            directed AS (
              SELECT CASE WHEN sz1 < sz2 OR (sz1 = sz2 AND id1 < id2)
                          THEN id1 ELSE id2 END AS id_small,
                     CASE WHEN sz1 < sz2 OR (sz1 = sz2 AND id1 < id2)
                          THEN id2 ELSE id1 END AS id_big,
                     inter,
                     ROUND(inter / CAST(CASE WHEN sz1 < sz2
                                              OR (sz1 = sz2 AND id1 < id2)
                                             THEN sz1 ELSE sz2 END
                                        AS DOUBLE), 4) AS containment
              FROM paired
            )
            SELECT * FROM directed WHERE containment >= 0.5
        """,
        "doc_dup_spans": _dup_spans_sql(),
        "doc_dup_frac": f"""
            WITH spans AS ({_dup_spans_sql()}),
            per_doc AS (
              SELECT doc_id, CAST(SUM(span_len) AS BIGINT) AS dup_tokens
              FROM spans GROUP BY doc_id
            ),
            toks AS (
              SELECT doc_id,
                     CAST(len(regexp_split_to_array(
                       trim(lower(trim(text))), '\\s+')) AS BIGINT)
                       AS n_tokens
              FROM documents
            )
            SELECT t.doc_id, t.n_tokens,
                   COALESCE(p.dup_tokens, 0) AS dup_tokens,
                   ROUND(COALESCE(p.dup_tokens, 0)
                         / CAST(t.n_tokens AS DOUBLE), 6) AS dup_frac
            FROM toks t LEFT JOIN per_doc p USING (doc_id)
        """,
        "dedup_minhash_lsh": _minhash_lsh_sql(),
        # the persisted-index paths must reproduce the one-shot LSH:
        # build+append == full rebuild (same oracle), and the ingest
        # probe == the full pair set restricted to pairs touching the
        # incoming (odd doc_id) batch
        "dedup_lsh_append": _minhash_lsh_sql(),
        "dedup_lsh_incremental": (
            f"SELECT id1, id2 FROM ({_minhash_lsh_sql()}) q\n"
            "    WHERE id1 % 2 = 1 OR id2 % 2 = 1"
        ),
        # exact-digest index: build on the even half + append (odd half
        # ∪ doc_id%10==0 re-keyed +1e6) must equal one-shot exact_dedup
        # over the same union; the ingest probe's hits are exactly the
        # re-keyed slice with keep_id = the committed original
        "dedup_digest_append": """
            WITH all_docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text FROM documents
              WHERE doc_id % 10 = 0
            )
            SELECT md5(lower(trim(text))) AS fp_md5,
                   CAST(MIN(doc_id) AS BIGINT) AS keep_id,
                   CAST(COUNT(*) AS BIGINT) AS n_dups
            FROM all_docs GROUP BY 1
        """,
        "dedup_digest_probe": """
            WITH corpus AS (
              SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents
              WHERE doc_id % 2 = 0
            ), batch AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text FROM documents
              WHERE doc_id % 10 = 0
            )
            SELECT b.doc_id,
                   CAST(MIN(c.doc_id) AS BIGINT) AS keep_id
            FROM (SELECT doc_id, md5(lower(trim(text))) AS fp FROM batch) b
            JOIN corpus c USING (fp)
            GROUP BY b.doc_id
        """,
        # one-call ingest gate: exact hits from the digest join (the
        # re-keyed slice), near hits from the full LSH pair set
        # restricted to odd-even pairs (the committed partner is the
        # even side), exact wins when both hit, everything else is new
        "dedup_gate_ingest": f"""
            WITH corpus AS (
              SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents
              WHERE doc_id % 2 = 0
            ), batch AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text FROM documents
              WHERE doc_id % 10 = 0
            ), exact AS (
              SELECT b.doc_id, CAST(MIN(c.doc_id) AS BIGINT) AS keep_id
              FROM (SELECT doc_id, md5(lower(trim(text))) AS fp
                    FROM batch) b
              JOIN corpus c USING (fp)
              GROUP BY b.doc_id
            ), pairs AS ({_minhash_lsh_sql()}
            ), near AS (
              SELECT CASE WHEN id1 % 2 = 1 THEN id1 ELSE id2 END
                       AS doc_id,
                     CAST(MIN(CASE WHEN id1 % 2 = 1 THEN id2 ELSE id1
                              END) AS BIGINT) AS keep_id
              FROM pairs WHERE (id1 % 2) + (id2 % 2) = 1
              GROUP BY 1
            )
            SELECT b.doc_id,
                   CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                        WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                        ELSE 'new' END AS disposition,
                   COALESCE(e.keep_id, n.keep_id) AS keep_id
            FROM batch b
            LEFT JOIN exact e ON b.doc_id = e.doc_id
            LEFT JOIN near n ON b.doc_id = n.doc_id
        """,
        "doc_simhash": _simhash_sql(),
        "simhash_neardup": _simhash_pairs_sql(),
        "neardup_degree_hist": f"""
            WITH pairs AS ({_simhash_pairs_sql()}),
            deg AS (
              SELECT doc_id, COUNT(*) AS degree FROM (
                SELECT id1 AS doc_id FROM pairs
                UNION ALL SELECT id2 AS doc_id FROM pairs
              ) GROUP BY doc_id
            )
            SELECT degree, COUNT(*) AS n_docs FROM deg GROUP BY degree
        """,
        "knn_lsh": _knn_lsh_sql(),
        "embedding_neardup_lsh": _embedding_neardup_lsh_sql(),
        "knn_ivf": _knn_ivf_sql(),
        "knn_pq": _knn_pq_sql(),
        "knn_ivf_pq": _knn_ivf_pq_sql(),
        "knn_ivf_store": _knn_ivf_sql(),
        "knn_ivf_append": _knn_ivf_sql(),
        "semantic_dedup": _semantic_dedup_sql(),
        "knn_cosine": f"""
            WITH q AS (
              SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
              FROM embeddings WHERE vec_id < {KNN_QUERIES}
            ), c AS (
              SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cvec FROM embeddings
            ), s AS (
              SELECT query_id, neighbor_id,
                     {_SQL_COS.format(a='qvec', b='cvec')} AS cos
              FROM c, q WHERE neighbor_id <> query_id
            ), r AS (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
              FROM s
            )
            SELECT query_id, neighbor_id, cos, rk FROM r WHERE rk <= {KNN_K}
        """,
        "embedding_jl_project": _jl_project_sql(),
        "embedding_pca": _pca_project_sql(),
        "embedding_mahalanobis": _maha_sql(),
        "hybrid_rrf": f"""
            WITH q AS (
              SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
              FROM embeddings WHERE vec_id < 8
            ), c AS (
              SELECT vec_id AS doc_id, embedding::DOUBLE[] AS cvec
              FROM embeddings
            ), vs AS (
              SELECT query_id, doc_id,
                     {_SQL_COS.format(a='qvec', b='cvec')} AS cos
              FROM c, q WHERE doc_id <> query_id
            ), vec AS (
              SELECT query_id, doc_id, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rk
              FROM vs QUALIFY rk <= 10
            ), toks AS (
              SELECT doc_id,
                     unnest(list_distinct(
                       regexp_split_to_array(trim(text), '\\s+'))) AS tok
              FROM documents
            ), ov AS (
              SELECT qt.doc_id AS query_id, t.doc_id, COUNT(*) AS ov
              FROM toks qt JOIN toks t USING (tok)
              WHERE qt.doc_id < 8 AND t.doc_id <> qt.doc_id
              GROUP BY 1, 2
            ), lex AS (
              SELECT query_id, doc_id, row_number() OVER (
                PARTITION BY query_id ORDER BY ov DESC, doc_id) AS rk
              FROM ov QUALIFY rk <= 10
            ), fused AS (
              SELECT COALESCE(v.query_id, l.query_id) AS query_id,
                     COALESCE(v.doc_id, l.doc_id) AS doc_id,
                     ROUND(COALESCE(1.0 / (60 + v.rk), 0)
                           + COALESCE(1.0 / (60 + l.rk), 0), 6) AS rrf_score
              FROM vec v FULL OUTER JOIN lex l
                ON v.query_id = l.query_id AND v.doc_id = l.doc_id
            )
            SELECT query_id, doc_id, rrf_score,
                   row_number() OVER (
                     PARTITION BY query_id
                     ORDER BY rrf_score DESC, doc_id) AS rk
            FROM fused QUALIFY rk <= 10
        """,
        "hard_negatives": f"""
            WITH q AS (
              SELECT vec_id AS query_id, label AS query_label,
                     embedding::DOUBLE[] AS qvec
              FROM embeddings WHERE vec_id < {KNN_QUERIES}
            ), c AS (
              SELECT vec_id AS neighbor_id, label AS neighbor_label,
                     embedding::DOUBLE[] AS cvec
              FROM embeddings
            ), s AS (
              SELECT query_id, query_label, neighbor_id, neighbor_label,
                     {_SQL_COS.format(a='qvec', b='cvec')} AS cos
              FROM c, q WHERE neighbor_label <> query_label
            ), r AS (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
              FROM s
            )
            SELECT query_id, query_label, neighbor_id, neighbor_label,
                   cos, rk
            FROM r WHERE rk <= {KNN_K}
        """,
        "embedding_neardup": f"""
            WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
            SELECT a.vec_id AS id1, b.vec_id AS id2,
                   {_SQL_COS.format(a='a.e', b='b.e')} AS cos
            FROM v a JOIN v b ON a.vec_id < b.vec_id
            WHERE {_SQL_COS.format(a='a.e', b='b.e')} >= {NEARDUP_COS}
        """,
        "caption_image_conflicts": f"""
            WITH {_SQL_SHINGLES},
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            tp AS (
              SELECT id1, id2 FROM inter
              JOIN sizes s1 ON s1.doc_id = id1
              JOIN sizes s2 ON s2.doc_id = id2
              WHERE ROUND(inter / CAST(s1.sz + s2.sz - inter AS DOUBLE), 4)
                    >= {JACCARD_THRESHOLD}
            ),
            ep AS (
              -- embedding side mirrors the Spark LSH composition:
              -- same hyperplane literals (16 tables for boundary
              -- recall at the low threshold), bucket candidates,
              -- exact cosine re-rank (never all-pairs)
              SELECT id1, id2
              FROM ({_embedding_neardup_lsh_sql(CONFLICTS_LSH_TABLES)})
            )
            SELECT id1, id2, 'text_near_embedding_far' AS conflict
            FROM tp WHERE NOT EXISTS (
              SELECT 1 FROM ep WHERE ep.id1 = tp.id1 AND ep.id2 = tp.id2)
            UNION ALL
            SELECT id1, id2, 'embedding_near_text_far' AS conflict
            FROM ep WHERE NOT EXISTS (
              SELECT 1 FROM tp WHERE tp.id1 = ep.id1 AND tp.id2 = ep.id2)
        """,
        "pit_asof_alignment": _pit_alignment_sql(),
        "pit_curated_asof": _pit_curated_asof_sql(),
        "asof_join": _ASOF_ORACLE.format(val="value_asof", fts="epoch_us(fts)"),
        "asof_tolerance": _ASOF_ORACLE.format(
            val="CASE WHEN fts IS NOT NULL AND epoch_us(ts) - epoch_us(fts) <= 3600000000 THEN value_asof END",
            fts="CASE WHEN fts IS NOT NULL AND epoch_us(ts) - epoch_us(fts) <= 3600000000 THEN epoch_us(fts) END",
        ),
        "asof_forward": """
            WITH f AS (
              SELECT user_id, ts, event_id, value, 0 AS side
              FROM events WHERE event_type <> 'purchase'
            ), q AS (
              SELECT user_id, ts, event_id, CAST(NULL AS DOUBLE) AS value, 1 AS side
              FROM events WHERE event_type = 'purchase'
            ), u AS (
              SELECT * FROM f UNION ALL SELECT * FROM q
            ), m AS (
              SELECT u.*,
                first_value(CASE WHEN side = 0 THEN value END IGNORE NULLS) OVER w AS value_asof,
                first_value(CASE WHEN side = 0 THEN ts END IGNORE NULLS) OVER w AS fts
              FROM u
              WINDOW w AS (
                PARTITION BY user_id ORDER BY ts, side DESC, event_id
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
              )
            )
            SELECT event_id, user_id, epoch_us(ts) AS ts_us, value_asof,
                   epoch_us(fts) AS feature_ts_us
            FROM m WHERE side = 1
        """,
        "asof_nearest": """
            WITH f AS (
              SELECT user_id, ts, event_id, value, 0 AS side
              FROM events WHERE event_type <> 'purchase'
            ), q AS (
              SELECT user_id, ts, event_id, CAST(NULL AS DOUBLE) AS value, 1 AS side
              FROM events WHERE event_type = 'purchase'
            ), u AS (
              SELECT * FROM f UNION ALL SELECT * FROM q
            ), m AS (
              SELECT u.*,
                last_value(CASE WHEN side = 0 THEN value END IGNORE NULLS) OVER wb AS bval,
                last_value(CASE WHEN side = 0 THEN ts END IGNORE NULLS) OVER wb AS bts,
                first_value(CASE WHEN side = 0 THEN value END IGNORE NULLS) OVER wf AS fval,
                first_value(CASE WHEN side = 0 THEN ts END IGNORE NULLS) OVER wf AS fts
              FROM u
              WINDOW wb AS (
                PARTITION BY user_id ORDER BY ts, side, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
              ), wf AS (
                PARTITION BY user_id ORDER BY ts, side DESC, event_id
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
              )
            ), p AS (
              SELECT *,
                (fts IS NULL OR (bts IS NOT NULL AND
                  epoch_us(ts) - epoch_us(bts) <= epoch_us(fts) - epoch_us(ts))) AS pick_b
              FROM m WHERE side = 1
            )
            SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                   CASE WHEN pick_b THEN bval ELSE fval END AS value_asof,
                   epoch_us(CASE WHEN pick_b THEN bts ELSE fts END) AS feature_ts_us
            FROM p
        """,
        "sliding_1h": """
            SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                   COUNT(value) OVER w AS n_1h,
                   ROUND(AVG(value) OVER w, 4) AS avg_1h
            FROM events
            WINDOW w AS (
              PARTITION BY user_id ORDER BY epoch_us(ts)
              RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
            )
        """,
        "user_activity": """
            SELECT user_id,
                   COUNT(DISTINCT event_type) AS n_event_types,
                   COUNT(*) AS n_events,
                   ROUND(SUM(value), 4) AS sum_value,
                   epoch_us(MIN(ts)) AS first_us,
                   epoch_us(MAX(ts)) AS last_us
            FROM events GROUP BY user_id
        """,
        "ivm_user_totals": """
            SELECT user_id, event_type,
                   COUNT(*) AS n_rows,
                   COUNT(value) AS n_vals,
                   ROUND(SUM(value::DECIMAL(28,4))::DOUBLE, 4) AS sum_value,
                   MIN(value) AS min_value, MAX(value) AS max_value,
                   CASE WHEN COUNT(value) > 0
                        THEN ROUND(SUM(value::DECIMAL(28,4))::DOUBLE
                                   / COUNT(value), 6)
                   END AS avg_value
            FROM events GROUP BY user_id, event_type
        """,
        "daily_rollup": """
            SELECT user_id, epoch_us(date_trunc('day', ts)) AS day_us,
                   COUNT(*) AS n_events,
                   ROUND(SUM(value::DECIMAL(18,6))::DOUBLE, 4) AS sum_value,
                   MIN(value) AS min_value, MAX(value) AS max_value,
                   ROUND(SUM(value::DECIMAL(18,6))::DOUBLE / COUNT(*), 6)
                     AS avg_value
            FROM events GROUP BY user_id, date_trunc('day', ts)
        """,
        "feature_compaction": """
            WITH b AS (
              SELECT user_id, ts, event_id,
                     last_value(value IGNORE NULLS) OVER (
                       PARTITION BY user_id,
                                    FLOOR(epoch_us(ts) / 3600000000)
                       ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND UNBOUNDED FOLLOWING) AS value,
                     row_number() OVER (
                       PARTITION BY user_id,
                                    FLOOR(epoch_us(ts) / 3600000000)
                       ORDER BY ts DESC, event_id DESC) AS rk
              FROM events
            )
            SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
            FROM b WHERE rk = 1
        """,
        "daily_quantiles": """
            WITH b AS (
              SELECT user_id, date_trunc('day', ts) AS day,
                     LEAST(GREATEST(
                       CAST(FLOOR((value - 0.0) / 500.0 * 50) AS INTEGER),
                       0), 49) AS bin
              FROM events
            ), c AS (
              SELECT user_id, day, bin, COUNT(*) AS n
              FROM b GROUP BY user_id, day, bin
            ), w AS (
              SELECT user_id, day, bin, n,
                     SUM(n) OVER (PARTITION BY user_id, day
                                  ORDER BY bin) AS cum,
                     SUM(n) OVER (PARTITION BY user_id, day) AS total
              FROM c
            )
            SELECT user_id, epoch_us(day) AS day_us,
                   MAX(total)::BIGINT AS n_events,
                   MIN(CASE WHEN cum >= CEIL(0.5 * total)
                       THEN (bin + 1) * 10.0 END) AS p50,
                   MIN(CASE WHEN cum >= CEIL(0.95 * total)
                       THEN (bin + 1) * 10.0 END) AS p95
            FROM w GROUP BY user_id, day
        """,
        "distinct_tokens_kmv": f"""
            WITH terms AS (
              SELECT source,
                     unnest(regexp_extract_all(lower(text), '([a-z]+)', 1)) AS term
              FROM documents
            ), h AS (
              SELECT DISTINCT source,
                     CAST('0x' || substr(md5(term), 1, 15) AS BIGINT)::DOUBLE
                       / 1152921504606846976.0 AS h
              FROM terms
            ), r AS (
              SELECT source, h,
                     row_number() OVER (PARTITION BY source ORDER BY h) AS rk
              FROM h
            ), t AS (
              SELECT source, COUNT(*) AS n_hashes, MAX(h) AS h_k
              FROM r WHERE rk <= {KMV_K} GROUP BY source
            )
            SELECT source, n_hashes, ROUND(h_k, 12) AS h_k,
                   ROUND(CASE WHEN n_hashes >= {KMV_K}
                         THEN ({KMV_K} - 1) / h_k
                         ELSE n_hashes::DOUBLE END, 2) AS distinct_est
            FROM t
        """,
        "purchase_attribution": f"""
            SELECT p.event_id AS purchase_id, e.event_id, e.user_id,
                   epoch_us(e.ts) AS ts_us, e.event_type
            FROM events e JOIN events p
              ON e.user_id = p.user_id
             AND p.event_type = 'purchase' AND e.event_type <> 'purchase'
             AND epoch_us(e.ts) >= epoch_us(p.ts)
             AND epoch_us(e.ts) < epoch_us(p.ts) + {ATTRIBUTION_WINDOW_S}::BIGINT * 1000000
        """,
        "user_value_quantiles": """
            SELECT user_id,
                   ROUND(quantile_cont(value, 0.5), 6) AS p50,
                   ROUND(quantile_cont(value, 0.95), 6) AS p95,
                   ROUND(MAX(value), 6) AS vmax
            FROM events GROUP BY user_id
        """,
        "event_type_pivot": """
            SELECT user_id,
                   COUNT(*) FILTER (event_type = 'click') AS click,
                   COUNT(*) FILTER (event_type = 'error') AS error,
                   COUNT(*) FILTER (event_type = 'purchase') AS purchase,
                   COUNT(*) FILTER (event_type = 'signup') AS signup,
                   COUNT(*) FILTER (event_type = 'view') AS view
            FROM events GROUP BY user_id
        """,
        "inactive_customers": f"""
            SELECT c_custkey, c_name, c_nationkey
            FROM customer
            WHERE c_custkey NOT IN (
              SELECT o_custkey FROM orders WHERE o_totalprice > {BIG_ORDER_PRICE}
            )
        """,
        "user_cohorts_setops": """
            SELECT user_id, 'click_and_buy' AS cohort FROM (
              SELECT user_id FROM events WHERE event_type = 'click'
              INTERSECT
              SELECT user_id FROM events WHERE event_type = 'purchase'
            )
            UNION ALL
            SELECT user_id, 'view_no_buy' AS cohort FROM (
              SELECT user_id FROM events WHERE event_type = 'view'
              EXCEPT
              SELECT user_id FROM events WHERE event_type = 'purchase'
            )
        """,
        "purchase_props_json": """
            SELECT user_id,
                   SUM(k)::BIGINT AS sum_k, COUNT(k) AS n_k, MAX(k) AS max_k
            FROM (
              SELECT user_id,
                     json_extract(props, '$.k')::BIGINT AS k
              FROM events WHERE event_type = 'purchase'
            )
            GROUP BY user_id
        """,
        "pricing_rollup": """
            SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
                   COALESCE(l_linestatus, '<all>') AS linestatus,
                   COUNT(*) AS n_rows,
                   SUM(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   SUM(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty,
                   SUM(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sum_base_price,
                   SUM((l_extendedprice * (1 - l_discount))::DECIMAL(18,4))::DOUBLE AS sum_disc_price,
                   SUM((l_extendedprice * (1 - l_discount) * (1 + l_tax))::DECIMAL(18,6))::DOUBLE AS sum_charge,
                   ROUND(AVG(l_quantity), 4) AS avg_qty,
                   ROUND(AVG(l_discount), 4) AS avg_disc,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "multi_column_widened": _multi_column_widened_sql(),
        "features_upsert": """
            WITH upd AS (
              SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal, c_mktsegment
              FROM customer WHERE c_mktsegment = 'BUILDING'
              UNION ALL
              SELECT c_custkey + 1000000, -1.0, 'NEW'
              FROM customer WHERE c_custkey <= 20
            )
            SELECT c_custkey AS custkey, c_acctbal AS acctbal,
                   c_mktsegment AS mktsegment
            FROM (
              SELECT * FROM upd
              UNION ALL
              SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
              WHERE c_custkey NOT IN (SELECT c_custkey FROM upd)
            )
        """,
        "features_delete": """
            SELECT c_custkey AS custkey, c_acctbal AS acctbal,
                   c_mktsegment AS mktsegment
            FROM customer WHERE c_mktsegment <> 'MACHINERY'
        """,
        "snapshot_cdc_diff": """
            SELECT 'update_pre' AS change, c_custkey AS custkey,
                   c_acctbal AS acctbal, c_mktsegment AS mktsegment
            FROM customer WHERE c_mktsegment = 'BUILDING'
            UNION ALL
            SELECT 'update_post', c_custkey, c_acctbal + 100.0, c_mktsegment
            FROM customer WHERE c_mktsegment = 'BUILDING'
            UNION ALL
            SELECT 'insert', c_custkey + 1000000, -1.0, 'NEW'
            FROM customer WHERE c_custkey <= 20
        """,
        "lineage_reconcile": """
            SELECT COUNT(*) AS lineage_rows, COUNT(*) AS scanned_rows,
                   TRUE AS lineage_consistent
            FROM events
        """,
        "regional_revenue": """
            SELECT r_name, n_name,
                   ROUND(SUM((l_extendedprice * (1 - l_discount))
                             ::DECIMAL(18,4))::DOUBLE, 2) AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
                         AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE o_orderdate >= DATE '1994-01-01'
              AND o_orderdate < DATE '1997-01-01'
            GROUP BY r_name, n_name
        """,
        "shipping_priority": """
            SELECT l_orderkey,
                   epoch_us(o_orderdate) AS o_orderdate_us,
                   o_orderpriority,
                   ROUND(SUM((l_extendedprice * (1 - l_discount))
                             ::DECIMAL(18,4))::DOUBLE, 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1997-06-01'
              AND l_shipdate > TIMESTAMP '1997-06-01'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, o_orderdate_us, l_orderkey
            LIMIT 10
        """,
        "returned_items": """
            WITH rev AS (
              SELECT o_custkey,
                     ROUND(SUM((l_extendedprice * (1 - l_discount))
                               ::DECIMAL(18,4))::DOUBLE, 2) AS revenue,
                     COUNT(*) AS n_items
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              WHERE l_returnflag = 'R'
                AND o_orderdate >= TIMESTAMP '1996-01-01'
                AND o_orderdate < TIMESTAMP '1997-01-01'
              GROUP BY o_custkey
            )
            SELECT c_custkey AS custkey, c_name, n_name,
                   ROUND(c_acctbal, 2) AS acctbal, revenue, n_items
            FROM rev
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            ORDER BY revenue DESC, custkey
            LIMIT 20
        """,
        "top_customers": """
            WITH rev AS (
              SELECT o_custkey,
                     SUM(o_totalprice::DECIMAL(18,2))::DOUBLE AS revenue,
                     COUNT(*) AS n_orders
              FROM orders GROUP BY o_custkey
            ), j AS (
              SELECT n_name, c_custkey, c_name, revenue, n_orders
              FROM rev
              JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
            ), r AS (
              SELECT *, row_number() OVER (
                PARTITION BY n_name ORDER BY revenue DESC, c_custkey) AS rk
              FROM j
            )
            SELECT n_name, c_custkey, c_name, revenue, n_orders, rk
            FROM r WHERE rk <= 3
        """,
        "rolling_5_events": """
            SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                   COUNT(value) OVER w AS roll_n,
                   ROUND(AVG(value) OVER w, 6) AS roll_mean,
                   MIN(value) OVER w AS roll_min,
                   MAX(value) OVER w AS roll_max,
                   ROUND(STDDEV_SAMP(value) OVER w, 6) AS roll_std
            FROM events
            WINDOW w AS (
              PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
            )
        """,
        "lag_lead": """
            SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
                   lag(value)  OVER w AS value_lag,
                   lead(value) OVER w AS value_lead
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "forward_fill": """
            SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                   last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
            FROM events
        """,
        # one-sort PIT feature matrix: the identical six trailing
        # frames; features over the full stream, purchase rows kept
        "pit_feature_matrix": """
            SELECT event_id, user_id, ts_us, value_lag_1, avg_5,
                   sum_cum, n_prior, n_1h, avg_1h
            FROM (
              SELECT event_id, user_id, event_type,
                epoch_us(ts) AS ts_us,
                lag(value) OVER wr AS value_lag_1,
                round(avg(value) OVER (
                  PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS avg_5,
                round(sum(value) OVER (
                  PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                  AS sum_cum,
                row_number() OVER wr - 1 AS n_prior,
                count(value) OVER wh AS n_1h,
                round(avg(value) OVER wh, 6) AS avg_1h
              FROM events
              WINDOW
                wr AS (PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id),
                wh AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                       RANGE BETWEEN 3600000000 PRECEDING
                             AND CURRENT ROW)
            )
            WHERE event_type = 'purchase'
        """,
        # OHLC: open/close resolved by the same (ts, event_id) order;
        # the oracle uses explicit row_number windows where the engine
        # uses min/max of struct(ts, tiebreak, v)
        "ohlc_daily": """
            WITH x AS (
              SELECT user_id, epoch_us(ts) AS tu, event_id,
                     CAST(value AS DOUBLE) AS v,
                     epoch_us(ts) - (epoch_us(ts) % 86400000000) AS b
              FROM events
            ), r AS (
              SELECT *,
                row_number() OVER (PARTITION BY user_id, b
                                   ORDER BY tu, event_id) AS rn_a,
                row_number() OVER (PARTITION BY user_id, b
                                   ORDER BY tu DESC, event_id DESC) AS rn_d
              FROM x
            )
            SELECT user_id, b AS bucket_us,
                   max(CASE WHEN rn_a = 1 THEN v END) AS open,
                   max(v) AS high, min(v) AS low,
                   max(CASE WHEN rn_d = 1 THEN v END) AS close,
                   count(v) AS n_obs
            FROM r GROUP BY user_id, b
        """,
        # least-squares trend: identical regr_* aggregates and the
        # identical well-scaled x expression in both engines
        "value_trend": f"""
            SELECT user_id, count(value) AS n_obs,
              regr_slope(value, (epoch_us(ts) - {_TREND_EPOCH_US})
                                / 86400000000.0) AS slope,
              regr_intercept(value, (epoch_us(ts) - {_TREND_EPOCH_US})
                                    / 86400000000.0) AS intercept,
              regr_r2(value, (epoch_us(ts) - {_TREND_EPOCH_US})
                             / 86400000000.0) AS r2
            FROM events GROUP BY user_id
        """,
        # TWAP: same lag-window trapezoid + zero-span degradation to
        # the plain average as the engine
        "twap_value": """
            WITH x AS (
              SELECT user_id, epoch_us(ts) AS tu,
                     CAST(value AS DOUBLE) AS v,
                     lag(CAST(value AS DOUBLE)) OVER w AS pv,
                     lag(epoch_us(ts)) OVER w AS pt
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT user_id, count(v) AS n_obs,
              CASE WHEN max(tu) - min(tu) > 0
                   THEN sum((v + pv) / 2 * (tu - pt))
                        / CAST(max(tu) - min(tu) AS DOUBLE)
                   ELSE avg(v) END AS twap
            FROM x GROUP BY user_id
        """,
        # linear-interpolation resample: same obs ∪ grid union + two
        # framed passes as the engine (obs sort before the grid row at
        # an equal instant, so an exact-timestamp observation is the
        # zero-distance "prev"); event_id NULL-ordering never matters —
        # grid rows are unique per (user, instant)
        "resample_linear": """
            WITH obs AS (
              SELECT user_id, epoch_us(ts) AS tu,
                     CAST(value AS DOUBLE) AS v, event_id
              FROM events
            ), b AS (
              SELECT (min(tu) // 21600000000) * 21600000000 AS g0,
                     max(tu) AS mx
              FROM obs
            ), grid AS (
              SELECT u.user_id, g.tu
              FROM (SELECT DISTINCT user_id FROM obs) u
              CROSS JOIN (
                SELECT unnest(range((SELECT g0 FROM b),
                                    (SELECT mx + 1 FROM b),
                                    21600000000)) AS tu
              ) g
            ), uni AS (
              SELECT user_id, tu, v, 0 AS side, event_id FROM obs
              UNION ALL
              SELECT user_id, tu, NULL, 1, NULL FROM grid
            ), m AS (
              SELECT user_id, tu, side,
                last_value(CASE WHEN side = 0 THEN tu END IGNORE NULLS)
                  OVER wp AS pt,
                last_value(CASE WHEN side = 0 THEN v END IGNORE NULLS)
                  OVER wp AS pv,
                first_value(CASE WHEN side = 0 THEN tu END IGNORE NULLS)
                  OVER wn AS nt,
                first_value(CASE WHEN side = 0 THEN v END IGNORE NULLS)
                  OVER wn AS nv
              FROM uni
              WINDOW
                wp AS (PARTITION BY user_id ORDER BY tu, side, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                wn AS (PARTITION BY user_id ORDER BY tu, side, event_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
            )
            SELECT user_id, tu AS ts_us,
              CASE WHEN pt IS NULL THEN NULL
                   WHEN pt = tu THEN pv
                   WHEN nt IS NULL THEN NULL
                   ELSE pv + (nv - pv) * (tu - pt) / (nt - pt)
              END AS value_interp
            FROM m WHERE side = 1
        """,
        "entity_zscore": """
            SELECT event_id, user_id,
                   ROUND(CASE WHEN stddev_pop(value) OVER w > 0
                         THEN (value - avg(value) OVER w) / stddev_pop(value) OVER w
                         END, 6) AS value_z
            FROM events
            WINDOW w AS (PARTITION BY user_id)
        """,
        "backward_fill": """
            SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                   first_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS value_bfill
            FROM events
        """,
        "decayed_sum": f"""
            WITH x AS (
              SELECT event_id, user_id, ts, value,
                (epoch_us(ts) - MAX(epoch_us(ts)) OVER (PARTITION BY user_id))
                  / {float(DECAY_TAU_S) * 1e6} AS rel
              FROM events
            )
            SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                   CASE WHEN rel >= -600.0 THEN
                     ROUND(exp(-rel) * SUM(value * exp(rel))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                   END AS decayed_sum
            FROM x
        """,
        "sessionize": f"""
            WITH x AS (
              SELECT event_id, user_id, ts,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {SESSION_GAP_S * 1_000_000}
                     THEN 1 ELSE 0 END AS new_s
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                   CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_id
            FROM x
        """,
        "session_stats": f"""
            WITH x AS (
              SELECT event_id, user_id, ts, value,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {SESSION_GAP_S * 1_000_000}
                     THEN 1 ELSE 0 END AS new_s
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
              SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_id
              FROM x
            )
            SELECT user_id, session_id,
                   COUNT(*) AS n_events,
                   epoch_us(MIN(ts)) AS start_us,
                   epoch_us(MAX(ts)) AS end_us,
                   ROUND(AVG(value), 4) AS avg_value
            FROM s GROUP BY user_id, session_id
        """,
        "tumbling_hourly": """
            SELECT user_id,
                   epoch_us(date_trunc('hour', ts)) AS window_start_us,
                   COUNT(*) AS n_events,
                   ROUND(SUM(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "topk_per_user": f"""
            WITH r AS (
              SELECT event_id, user_id, value,
                     row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rk
              FROM events
            )
            SELECT event_id, user_id, value, rk FROM r WHERE rk <= {TOP_K}
        """,
        "funnel_stages": f"""
            WITH s0 AS (
              SELECT user_id, epoch_us(MIN(ts)) AS step0_us
              FROM events WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id
            ), s1 AS (
              SELECT e.user_id, MIN(epoch_us(e.ts)) AS step1_us
              FROM events e JOIN s0 ON e.user_id = s0.user_id
              WHERE e.event_type = '{FUNNEL_STEPS[1]}' AND epoch_us(e.ts) > s0.step0_us
              GROUP BY e.user_id
            ), s2 AS (
              SELECT e.user_id, MIN(epoch_us(e.ts)) AS step2_us
              FROM events e JOIN s1 ON e.user_id = s1.user_id
              WHERE e.event_type = '{FUNNEL_STEPS[2]}' AND epoch_us(e.ts) > s1.step1_us
              GROUP BY e.user_id
            )
            SELECT s0.user_id, s0.step0_us, s1.step1_us, s2.step2_us,
                   (1 + CASE WHEN s1.step1_us IS NULL THEN 0 ELSE 1 END
                      + CASE WHEN s2.step2_us IS NULL THEN 0 ELSE 1 END) AS stage
            FROM s0 LEFT JOIN s1 ON s0.user_id = s1.user_id
                    LEFT JOIN s2 ON s1.user_id = s2.user_id
        """,
        "event_transitions": """
            WITH x AS (
              SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
                     event_type AS next_type
              FROM events
            ), p AS (
              SELECT prev_type, next_type, COUNT(*) AS n FROM x
              WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type
            )
            SELECT prev_type, next_type, n,
                   ROUND(n / SUM(n) OVER (PARTITION BY prev_type), 6) AS p
            FROM p
        """,
        "cohort_retention": """
            WITH wk AS (
              SELECT user_id,
                     CAST(FLOOR(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7.0) AS BIGINT) AS w
              FROM events
            ), c AS (
              SELECT user_id, MIN(w) AS cohort_week FROM wk GROUP BY user_id
            ), a AS (
              SELECT DISTINCT wk.user_id, c.cohort_week, wk.w - c.cohort_week AS week_offset
              FROM wk JOIN c ON wk.user_id = c.user_id
            )
            SELECT cohort_week, week_offset, COUNT(*) AS n_users
            FROM a GROUP BY cohort_week, week_offset
        """,
        "session_incident_overlap": f"""
            WITH x AS (
              SELECT event_id, user_id, ts,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {SESSION_GAP_S * 1_000_000}
                     THEN 1 ELSE 0 END AS new_s
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sess AS (
              SELECT user_id,
                     CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_id,
                     ts
              FROM x
            ), L AS (
              SELECT user_id, session_id, epoch_us(MIN(ts)) AS s_start_us, epoch_us(MAX(ts)) AS s_end_us
              FROM sess GROUP BY user_id, session_id
            ), y AS (
              SELECT event_id, ts,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {SESSION_GAP_S * 1_000_000}
                     THEN 1 ELSE 0 END AS new_s
              FROM events WHERE event_type = 'error'
              WINDOW w AS (ORDER BY ts, event_id)
            ), incs AS (
              SELECT CAST(SUM(new_s) OVER (ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS incident_id,
                     ts
              FROM y
            ), R AS (
              SELECT incident_id, epoch_us(MIN(ts)) AS i_start_us, epoch_us(MAX(ts)) AS i_end_us
              FROM incs GROUP BY incident_id HAVING COUNT(*) >= 3
            )
            SELECT L.user_id, L.session_id, R.incident_id,
                   LEAST(L.s_end_us, R.i_end_us) - GREATEST(L.s_start_us, R.i_start_us) AS overlap_us
            FROM L JOIN R ON L.s_start_us <= R.i_end_us AND R.i_start_us <= L.s_end_us
        """,
        "event_cube": """
            SELECT COALESCE(event_type, '<all>') AS event_type,
                   COALESCE(CAST(dow AS VARCHAR), '<all>') AS dow,
                   COUNT(*) AS n,
                   ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value,
                   GROUPING(event_type, dow) AS gid
            FROM (SELECT event_type,
                         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7 AS INT) AS dow,
                         value FROM events)
            GROUP BY CUBE(event_type, dow)
        """,
        "value_mad_outliers": """
            WITH med AS (
              SELECT event_type, quantile_cont(value, 0.5) AS m FROM events GROUP BY event_type
            ), dev AS (
              SELECT e.event_type, e.value, ABS(e.value - med.m) AS adev, med.m
              FROM events e JOIN med ON e.event_type = med.event_type
            ), mad AS (
              SELECT event_type, quantile_cont(adev, 0.5) AS md FROM dev GROUP BY event_type
            )
            SELECT dev.event_type, COUNT(value) AS n, ROUND(FIRST(dev.m), 6) AS med,
                   ROUND(FIRST(mad.md), 6) AS mad,
                   CAST(SUM(CASE WHEN dev.adev > 3.0 * mad.md THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_outliers
            FROM dev JOIN mad ON dev.event_type = mad.event_type
            GROUP BY dev.event_type
        """,
        "corpus_bigrams": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '([a-z]+)', 1)) AS term,
                     generate_subscripts(regexp_extract_all(lower(text), '([a-z]+)', 1), 1) AS pos
              FROM documents
            ), pairs AS (
              SELECT lag(term) OVER (PARTITION BY doc_id ORDER BY pos) || ' ' || term AS bigram
              FROM toks
              QUALIFY lag(term) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL
            ), agg AS (
              SELECT bigram, COUNT(*) AS n FROM pairs GROUP BY bigram
            )
            SELECT bigram, n, rk FROM (
              SELECT bigram, n, ROW_NUMBER() OVER (ORDER BY n DESC, bigram ASC) AS rk FROM agg
            ) WHERE rk <= 20
        """,
        "inverted_index": """
            WITH pairs AS (
              SELECT DISTINCT
                     unnest(regexp_extract_all(lower(text), '([a-z]+)', 1)) AS term,
                     lpad(CAST(doc_id AS VARCHAR), 6, '0') AS doc
              FROM documents
            )
            SELECT term, COUNT(*) AS df,
                   string_agg(doc, ',' ORDER BY doc) AS postings
            FROM pairs GROUP BY term HAVING COUNT(*) >= 5
        """,
    }
