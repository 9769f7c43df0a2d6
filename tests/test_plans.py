"""Automated physical-plan audit — locks in the PLANS.md guarantees so
a regression (a row-at-a-time Python UDF sneaking into a hot path, a
broadcast join degrading to sort-merge, a top-k losing its group-limit
pruning) fails CI instead of surfacing as a 100 TB incident.

Planning only (``executedPlan`` builds the plan without running the
job), except for the few driver queries whose *constructors* run eager
work by design (snapshot writes, CC label propagation, IVF training).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as em
from tests.conftest import SF_SMOKE

# queries tagged eager=True: their constructor executes real jobs
# (snapshot writes, CC iteration, IVF training, the flagship's CNN +
# broadcast-asof collect, driver-side id/count fetches) — planning them
# is no longer free, and their plan shape is already pinned by their
# operator tests
EAGER = set(em.tagged("eager"))


def _plan(spark, name: str) -> str:
    df = em.queries()[name](spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_row_python_udf_in_any_query(spark):
    """BatchEvalPython = row-at-a-time Python — banned everywhere.
    (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas are the
    vectorized nodes and are allowed.)"""
    for name in em.queries():
        if name in EAGER:
            continue
        assert "BatchEvalPython" not in _plan(spark, name), name


def test_top_customers_broadcasts_dimensions(spark):
    """customer and nation must join as broadcast hash joins (the star
    shape); a sort-merge here would shuffle the fact side twice."""
    plan = _plan(spark, "top_customers")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_topk_per_user_prunes_with_window_group_limit(spark):
    """WindowGroupLimit must appear below the exchange: shuffled bytes
    per entity are O(k), not O(history)."""
    plan = _plan(spark, "topk_per_user")
    assert "WindowGroupLimit" in plan


def test_doc_tfidf_broadcasts_vocabulary(spark):
    plan = _plan(spark, "doc_tfidf")
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan


def test_asof_join_single_exchange_and_pushdown(spark):
    """One entity exchange total (plus AQE reads), and the events scan
    must prune columns (ReadSchema lists only the used columns)."""
    plan = _plan(spark, "asof_join")
    # count Exchange operators that shuffle (hashpartitioning) — the
    # union+window formulation needs exactly one
    shuffles = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(shuffles) == 1, shuffles
    assert "bytes" not in plan  # image-free query never reads blobs


def test_pricing_summary_partial_aggregation(spark):
    """Map-side combine: a partial HashAggregate must sit BELOW the
    exchange.  The plan prints parent-above-child, so the partial agg is
    the HashAggregate appearing AFTER the Exchange in the text (the one
    before it is the final agg, which exists regardless)."""
    plan = _plan(spark, "pricing_summary")
    ex = plan.index("Exchange")
    assert "HashAggregate" in plan[ex:], "no map-side partial aggregate"


def test_range_join_is_equi_not_nested_loop(spark):
    """The bucketed range join must plan as a hash equi-join — a raw
    range condition would plan as BroadcastNestedLoopJoin, the exact
    per-key cross product the operator exists to avoid."""
    plan = _plan(spark, "purchase_attribution")
    assert "NestedLoop" not in plan
    assert "Cartesian" not in plan


@pytest.mark.parametrize("name", ["train_test_split", "doc_token_count"])
def test_narrow_ops_have_zero_exchanges(spark, name):
    """Pure projections must not shuffle at all."""
    plan = _plan(spark, name)
    assert "Exchange" not in plan, name


def test_pit_feature_matrix_one_exchange_one_sort(spark):
    """Six trailing features must share ONE entity exchange and ONE
    sort: the RANGE frame's (ts_us) ordering is a satisfied prefix of
    the ROWS frames' (ts_us, event_id) sort — adding a feature costs a
    frame, never a second shuffle or re-sort."""
    plan = _plan(spark, "pit_feature_matrix")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Sort [") == 1


def _final_plan(df) -> str:
    """Execute and return only the AQE FINAL plan section (toString
    appends the initial plan after the `== Initial Plan ==` marker,
    which double-counts every node)."""
    df.collect()
    full = df._jdf.queryExecution().executedPlan().toString()
    return full.split("== Initial Plan ==")[0]


def test_corpus_datacard_shares_one_scan(spark):
    """The five report sections must read the checkpointed base frame,
    not re-scan the parquet per section (PLANS.md claim)."""
    plan = _final_plan(em.queries()["corpus_datacard"](spark, SF_SMOKE))
    assert "FileScan parquet" not in plan
    assert "Scan ExistingRDD" in plan


def test_domain_mixture_plan_single_scan_reused_exchange(spark):
    """One parquet scan; the per-source aggregate exchange is built
    once and the totals side must consume it via ReusedExchange."""
    plan = _final_plan(em.queries()["domain_mixture_plan"](spark, SF_SMOKE))
    assert plan.count("FileScan parquet") == 1
    assert "ReusedExchange" in plan


def test_video_scenes_single_decode_pass(spark):
    """Exactly one MapInPandas (the decode) in the final plan — the
    scene window and aggregate must not re-decode."""
    for name in ("video_scenes", "video_keyframes"):
        plan = _final_plan(em.queries()[name](spark, SF_SMOKE))
        assert plan.count("MapInPandas") == 1, name


def test_embedding_quality_is_pure_jvm(spark):
    """The hygiene screen is JVM array expressions — no Python node,
    no exchange (narrow projection)."""
    plan = _final_plan(em.queries()["embedding_quality"](spark, SF_SMOKE))
    assert "Python" not in plan and "MapInPandas" not in plan
    assert "Exchange" not in plan


def test_touch_attribution_single_window_no_join(spark):
    """Both touch columns come from ONE window pass over one entity
    shuffle — the plan must contain no join node."""
    plan = _final_plan(em.queries()["touch_attribution"](spark, SF_SMOKE))
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in plan


def test_contrastive_triplets_broadcasts_only_the_pool(spark):
    """The cluster table is corpus-sized: with size-based broadcasting
    off, only the bounded negative pool (hinted) is broadcast and the
    two same-cluster screen joins plan as shuffle joins, with the same
    triplets as under the default threshold."""
    from pic2vec_spark.ops.dedup import contrastive_triplets

    corpus = spark.createDataFrame([(i,) for i in range(40)], "doc_id bigint")
    pairs = spark.createDataFrame(
        [(0, 1, 2), (10, 11, 1)], "id1 bigint, id2 bigint, hamming int"
    )
    clusters = spark.createDataFrame(
        [(0, 0), (1, 0), (10, 10), (11, 10)], "doc_id bigint, cluster_id bigint"
    )

    def triplets():
        return contrastive_triplets(
            pairs, corpus, "doc_id", clusters=clusters, n_neg=3, pool_size=16
        )

    want = sorted(map(tuple, triplets().collect()))
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        out = triplets()
        plan = _final_plan(out)
        got = sorted(map(tuple, out.collect()))
    finally:
        spark.conf.set(key, prev)
    assert plan.count("BroadcastHashJoin") == 1
    assert plan.count("SortMergeJoin") == 2
    assert got == want and got
