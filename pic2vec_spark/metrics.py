"""Job metrics: per-stage timing accumulators fed from inside the
Arrow UDF workers (north rule: lineage rows + metrics).

Spark accumulators flow from Python workers back to the driver with
task completion, so the featurize stage can report decode/CNN seconds
(``cnn_sec`` wall, ``cpu_sec`` process CPU) and image counts without
any extra action or shuffle.  Snapshot commits
already record per-partition rows/digest/bytes/write_sec (lineage);
these accumulators cover the compute stages in between.
"""

from __future__ import annotations

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import SparkSession


class _DictSumParam(AccumulatorParam):
    def zero(self, value: dict) -> dict:
        return {}

    def addInPlace(self, a: dict, b: dict) -> dict:
        for k, v in b.items():
            a[k] = a.get(k, 0.0) + v
        return a


class FeaturizeMetrics:
    """Driver-side handle: pass to featurize_images(..., metrics=...),
    read ``.summary()`` after an action."""

    def __init__(self, spark: SparkSession) -> None:
        self.acc = spark.sparkContext.accumulator({}, _DictSumParam())

    def add(self, **kv: float) -> None:  # called inside workers
        self.acc.add(kv)

    def summary(self) -> dict:
        d = dict(self.acc.value)
        imgs = d.get("images", 0)
        cnn = d.get("cnn_sec", 0.0)
        if imgs and cnn:
            d["cnn_images_per_worker_sec"] = round(imgs / cnn, 2)
        return {k: (round(v, 3) if isinstance(v, float) else v) for k, v in d.items()}
