"""Unit fixtures for the product-analytics layer (ops/funnel.py,
ops/cohort.py, ops/stats.py, ops/ranges.interval_overlap_join,
ops/text.top_bigrams / inverted_index).

Hand-built micro-fixtures pin the semantics the driver-gate oracles
assert statistically; the plan test pins the overlap join's scale shape
(equi-join, never NestedLoop/Cartesian)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from pic2vec_spark.ops.cohort import cohort_retention
from pic2vec_spark.ops.funnel import event_transitions, funnel_stages
from pic2vec_spark.ops.ranges import interval_overlap_join
from pic2vec_spark.ops.stats import mad_outliers
from pic2vec_spark.ops.text import inverted_index, top_bigrams


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute)


EVENT_COLS = "event_id bigint, ts timestamp, user_id bigint, event_type string"


def _events(spark, rows):
    return spark.createDataFrame(
        [(i, _ts(m), u, t) for i, (m, u, t) in enumerate(rows)],
        schema=EVENT_COLS,
    )


class TestFunnel:
    def test_strictly_ordered_stages(self, spark):
        # user 1: view@1 -> click@2 -> purchase@3  (stage 3)
        # user 2: click@1 -> view@2 -> purchase@3  (click BEFORE view does
        #         not count; no click after view => stage 1)
        # user 3: view@5 only                       (stage 1)
        # user 4: purchase@1 only                   (never entered: absent)
        ev = _events(
            spark,
            [
                (1, 1, "view"), (2, 1, "click"), (3, 1, "purchase"),
                (1, 2, "click"), (2, 2, "view"), (3, 2, "purchase"),
                (5, 3, "view"),
                (1, 4, "purchase"),
            ],
        )
        out = {
            r["user_id"]: r
            for r in funnel_stages(ev, ["view", "click", "purchase"]).collect()
        }
        assert set(out) == {1, 2, 3}
        assert out[1]["stage"] == 3
        assert out[2]["stage"] == 1 and out[2]["step1_us"] is None
        assert out[3]["stage"] == 1

    def test_same_timestamp_not_counted(self, spark):
        # click at the SAME microsecond as view: strict > excludes it
        ev = _events(spark, [(1, 1, "view"), (1, 1, "click")])
        (row,) = funnel_stages(ev, ["view", "click"]).collect()
        assert row["stage"] == 1 and row["step1_us"] is None

    def test_empty_steps_raises(self, spark):
        ev = _events(spark, [(1, 1, "view")])
        with pytest.raises(ValueError, match="non-empty"):
            funnel_stages(ev, [])


class TestTransitions:
    def test_counts_and_probabilities(self, spark):
        # user 1: a->b->a   user 2: a->b  => transitions a->b x2, b->a x1
        ev = _events(
            spark,
            [(1, 1, "a"), (2, 1, "b"), (3, 1, "a"), (1, 2, "a"), (2, 2, "b")],
        )
        out = {
            (r["prev_type"], r["next_type"]): r
            for r in event_transitions(ev).collect()
        }
        assert out[("a", "b")]["n"] == 2 and out[("a", "b")]["p"] == 1.0
        assert out[("b", "a")]["n"] == 1 and out[("b", "a")]["p"] == 1.0


class TestCohort:
    def test_retention_triangle(self, spark):
        # user 1 first active week 0, again week 2; user 2 only week 2
        rows = [
            (0, dt.datetime(2024, 1, 2), 1),
            (1, dt.datetime(2024, 1, 16), 1),
            (2, dt.datetime(2024, 1, 17), 2),
        ]
        ev = spark.createDataFrame(
            rows, schema="event_id bigint, ts timestamp, user_id bigint"
        )
        out = {
            (r["cohort_week"], r["week_offset"]): r["n_users"]
            for r in cohort_retention(ev).collect()
        }
        assert out == {(0, 0): 1, (0, 2): 1, (2, 0): 1}


class TestIntervalOverlap:
    def _pairs(self, spark, left_rows, right_rows, bucket_s=10.0):
        left = spark.createDataFrame(
            left_rows, schema="lid bigint, ls bigint, le bigint"
        )
        right = spark.createDataFrame(
            right_rows, schema="rid bigint, rs bigint, re bigint"
        )
        out = interval_overlap_join(
            left, right, "ls", "le", "rs", "re", bucket_s=bucket_s
        )
        return sorted((r["lid"], r["rid"]) for r in out.collect())

    def test_exactly_once_across_buckets(self, spark):
        # both intervals span many buckets and overlap in several —
        # canonical-bucket dedup must emit the pair exactly ONCE
        pairs = self._pairs(
            spark, [(1, 0, 95)], [(7, 5, 200)], bucket_s=10.0
        )
        assert pairs == [(1, 7)]

    def test_overlap_semantics(self, spark):
        # touching endpoints count (closed intervals); disjoint do not
        pairs = self._pairs(
            spark,
            [(1, 0, 10), (2, 20, 30)],
            [(7, 10, 15), (8, 31, 40)],
        )
        assert pairs == [(1, 7)]

    def test_empty_and_null_bounds(self, spark):
        left = spark.createDataFrame(
            [(1, 5, 1), (2, None, 10)], schema="lid bigint, ls bigint, le bigint"
        )
        right = spark.createDataFrame(
            [(7, 0, 100)], schema="rid bigint, rs bigint, re bigint"
        )
        out = interval_overlap_join(left, right, "ls", "le", "rs", "re", bucket_s=10.0)
        assert out.count() == 0  # end<start matches nothing; NULL start never matches

    def test_name_clash_rejected(self, spark):
        df = spark.createDataFrame([(1, 2)], schema="a bigint, b bigint")
        with pytest.raises(ValueError, match="distinct"):
            interval_overlap_join(df, df, "a", "b", "a", "b")

    def test_plan_is_equi_join(self, spark):
        left = spark.range(10).select(
            F.col("id").alias("lid"),
            (F.col("id") * 100).alias("ls"),
            (F.col("id") * 100 + 50).alias("le"),
        )
        right = spark.range(10).select(
            F.col("id").alias("rid"),
            (F.col("id") * 90).alias("rs"),
            (F.col("id") * 90 + 40).alias("re"),
        )
        plan = (
            interval_overlap_join(left, right, "ls", "le", "rs", "re", bucket_s=100.0)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "NestedLoop" not in plan and "Cartesian" not in plan
        assert "Join" in plan


class TestTextIndex:
    def _docs(self, spark):
        return spark.createDataFrame(
            [
                (1, "the cat sat"),
                (2, "the cat ran"),
                (3, "a dog sat. The end"),
            ],
            schema="doc_id bigint, text string",
        )

    def test_top_bigrams(self, spark):
        out = {r["bigram"]: (r["n"], r["rk"]) for r in top_bigrams(self._docs(spark), k=3).collect()}
        # 'the cat' appears twice (docs 1, 2); ties broken alphabetically
        assert out["the cat"] == (2, 1)
        assert len(out) == 3

    def test_bigrams_do_not_cross_documents(self, spark):
        docs = spark.createDataFrame(
            [(1, "alpha beta"), (2, "beta gamma")], schema="doc_id bigint, text string"
        )
        grams = {r["bigram"] for r in top_bigrams(docs, k=10).collect()}
        assert grams == {"alpha beta", "beta gamma"}  # no 'beta beta' bridge

    def test_inverted_index_postings_sorted(self, spark):
        out = {
            r["term"]: r for r in inverted_index(self._docs(spark), min_df=2).collect()
        }
        assert out["the"]["df"] == 3
        assert out["the"]["postings"] == "000001,000002,000003"
        assert out["cat"]["postings"] == "000001,000002"
        assert out["sat"]["df"] == 2
        assert "dog" not in out  # min_df gate


class TestMadOutliers:
    def test_known_median_and_mad(self, spark):
        # group g: values 1..5 plus a 100 outlier; med=3.5, adevs
        # [2.5,1.5,.5,.5,1.5,96.5] -> mad=1.5; |v-med|>4.5 -> only 100
        df = spark.createDataFrame(
            [("g", float(v)) for v in [1, 2, 3, 4, 5, 100]],
            schema="event_type string, value double",
        )
        (row,) = mad_outliers(df, cutoff=3.0).collect()
        assert row["n"] == 6
        assert row["med"] == 3.5
        assert row["mad"] == 1.5
        assert row["n_outliers"] == 1

    def test_null_values_ignored(self, spark):
        df = spark.createDataFrame(
            [("g", 1.0), ("g", None), ("g", 3.0)],
            schema="event_type string, value double",
        )
        (row,) = mad_outliers(df).collect()
        assert row["n"] == 2 and row["med"] == 2.0


class TestCompositionQueries:
    """Driver-level compositions added in round 3b (degree histogram is
    oracle-checked by the gate; the multimodal corpus is rows-only, so
    its invariants are pinned here)."""

    def test_multimodal_corpus_deterministic_and_sane(self, spark):
        import __spark_entry__ as em

        a = em.queries()["multimodal_corpus"](spark, "/root/testdata/sf0.001").toPandas()
        b = em.queries()["multimodal_corpus"](spark, "/root/testdata/sf0.001").toPandas()
        assert a.equals(b)
        assert 0 < len(a) < 256  # screens must drop some rows, not all
        assert set(a["split"]).issubset({"train", "test"})
        assert a["image_id"].is_unique

    def test_degree_hist_mass_equals_pair_endpoints(self, spark):
        import __spark_entry__ as em

        pairs = em.queries()["simhash_neardup"](spark, "/root/testdata/sf0.001")
        hist = em.queries()["neardup_degree_hist"](spark, "/root/testdata/sf0.001").toPandas()
        # sum(degree * n_docs) == 2 * |pairs|  (every pair has 2 endpoints)
        assert int((hist["degree"] * hist["n_docs"]).sum()) == 2 * pairs.count()

    def test_embedding_mahalanobis_partition_invariant(self, spark, monkeypatch):
        """The whitened score folds its 8 terms in dim_idx order, so its
        rows are identical with the embeddings in 1 and in 7 partitions."""
        import __spark_entry__ as em
        from tests.conftest import SF_SMOKE

        base = em._embeddings(spark, SF_SMOKE)

        def rows(n):
            monkeypatch.setattr(em, "_embeddings", lambda s, d: base.repartition(n))
            df = em.queries()["embedding_mahalanobis"](spark, SF_SMOKE)
            return df.toPandas().sort_values("vec_id").reset_index(drop=True)

        one, seven = rows(1), rows(7)
        assert len(one) > 7
        assert one.equals(seven)


def test_touch_attribution_first_last_and_none(spark):
    """A hand journey: view(1) click(2) purchase(3) error(4)
    purchase(5); plus a user whose purchase has no prior touch."""
    from pyspark.sql import functions as F

    from pic2vec_spark.ops.funnel import attribution_summary, touch_attribution

    rows = [
        (1, "2024-01-01 10:00:00", 1, "view", 0.0),
        (2, "2024-01-01 10:01:00", 1, "click", 0.0),
        (3, "2024-01-01 10:02:00", 1, "purchase", 10.0),
        (4, "2024-01-01 10:03:00", 1, "error", 0.0),
        (5, "2024-01-01 10:04:00", 1, "purchase", 5.0),
        (6, "2024-01-01 09:00:00", 2, "purchase", 7.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    att = {
        r["event_id"]: (r["first_touch"], r["last_touch"])
        for r in touch_attribution(
            df, "user_id", "ts", "event_type", "value", "purchase"
        ).collect()
    }
    assert att[3] == ("view", "click")
    assert att[5] == ("view", "error")   # conversions never self-credit
    assert att[6] == ("(none)", "(none)")
    summ = {
        (r["model"], r["channel"]): (r["n_conversions"], r["attributed_value"])
        for m in ("first", "last")
        for r in attribution_summary(
            touch_attribution(
                df, "user_id", "ts", "event_type", "value", "purchase"
            ),
            "value",
            m,
        ).collect()
    }
    assert summ[("first", "view")] == (2, 15.0)
    assert summ[("last", "click")] == (1, 10.0)
    assert summ[("last", "error")] == (1, 5.0)
    assert summ[("first", "(none)")] == (1, 7.0)
