"""Streamed data card edge cases: an empty first drop and NULL domain
values must still finalize to the batch ``corpus_datacard``."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )


def _drops(frames, in_dir):
    for df in frames:
        df.coalesce(1).write.mode("append").parquet(in_dir)
        time.sleep(0.05)  # distinct modification times: drop order is file order


def _card(spark, card_root):
    from pic2vec_spark.snapshots import SnapshotTable
    from pic2vec_spark.streaming import datacard_from_state

    return {
        (r["section"], r["metric"]): r["value"]
        for r in datacard_from_state(
            SnapshotTable(card_root, spark).scan()
        ).collect()
    }


def _batch_card(df):
    from pic2vec_spark.ops.datacard import corpus_datacard

    return {
        (r["section"], r["metric"]): r["value"]
        for r in corpus_datacard(df).collect()
    }


def _stream(spark, tmp_path, schema):
    from pic2vec_spark.streaming import stream_datacard

    return stream_datacard(
        spark, str(tmp_path / "in"), str(tmp_path / "ckpt"),
        str(tmp_path / "card"), schema=schema, files_per_trigger=1,
    )


def test_empty_first_drop_does_not_wedge(spark, docs, tmp_path):
    """Batch 0 reads an empty parquet file: the stream still folds the
    later drops and finalizes to the batch card, and a checkpoint kept
    across a wiped state table still refuses to fold."""
    import shutil

    from pyspark.errors import StreamingQueryException

    _drops(
        [docs.limit(0)]
        + [docs.filter(F.col("doc_id") % 2 == i) for i in range(2)],
        str(tmp_path / "in"),
    )
    q = _stream(spark, tmp_path, docs.schema)
    q.awaitTermination(120)
    assert q.exception() is None
    assert _card(spark, str(tmp_path / "card")) == _batch_card(docs)

    shutil.rmtree(tmp_path / "card")
    _drops([docs.limit(5)], str(tmp_path / "in"))
    q = _stream(spark, tmp_path, docs.schema)
    with pytest.raises(StreamingQueryException, match="checkpoint was reset"):
        q.awaitTermination(120)


def test_null_domain_value_matches_batch_card(spark, docs, tmp_path):
    """A NULL ``lang`` is its own share row with a NULL metric, as in
    the batch card — not a row named after the column."""
    nulls = docs.withColumn(
        "lang",
        F.when(F.col("doc_id") % 4 == 0, F.lit(None)).otherwise(F.col("lang")),
    )
    _drops(
        [nulls.filter(F.col("doc_id") % 2 == i) for i in range(2)],
        str(tmp_path / "in"),
    )
    q = _stream(spark, tmp_path, nulls.schema)
    q.awaitTermination(120)
    want = _batch_card(nulls)
    assert ("lang", None) in want
    assert _card(spark, str(tmp_path / "card")) == want
