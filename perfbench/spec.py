"""What the benchmark runs: workload sizes and warm-up, the measured shape
of the events timeline, and what each per-layer metric should move.

Names, units, directions, bounds and each workload's ``why`` live only in
``BENCHMARK.json`` at the repository root (``BENCHMARK`` below); this
module holds what that file has no key for.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from pathlib import Path

BENCHMARK = json.loads((Path(__file__).resolve().parents[1] / "BENCHMARK.json").read_text())


@dataclass(frozen=True)
class Workload:
    rows_from: str  # the input file whose rows rows_per_s / cpu_ms_per_row count
    sizes: dict
    smoke: dict  # tiny sizes for a quick end-to-end check
    warmup: int  # untimed executions, counted in setup_s; the first is the verification pass


# Warm-up is short because a whole run, set-up included, must stay near a
# minute; the speed-up left after it is reported as the run's trend.
WORKLOADS = {
    # 192 images (~155 distinct contents) against 2400 events of 36
    # entities, the events-per-entity density of sf0.1: the as-of side
    # stays small, so the featurize stage dominates an iteration
    "pit_featurize": Workload(
        rows_from="images",
        sizes={"images": 192, "events": 2_400, "entities": 36},
        smoke={"images": 24, "events": 600, "entities": 9},
        warmup=2,
    ),
    # 100k rows give ~60k feature rows: above the 50k-row bound under
    # which the pipeline broadcasts the feature side, so the as-of join
    # takes its shuffle path.  Iterations keep speeding up for ~8
    # iterations (JIT warm-up of the window and the array-valued shuffle);
    # with two warm-up executions the timed ones still trended down 10-27%,
    # with four the trend was between -9% and +8%.
    "asof_skewed": Workload(
        rows_from="timeline",
        sizes={"images": 64, "rows": 100_000, "entities": 400},
        smoke={"images": 16, "rows": 2_000, "entities": 20},
        warmup=4,
    ),
}

# The sf0.1 ``events`` table (100,000 rows, TESTDATA.md) as measured: 1500
# users with 66.7 events each (std 8.2, the std of a uniform multinomial
# draw, 8.16); the five event types at 19.8-20.3% each (purchase 20.08%),
# every user having all five; timestamps over 30.0 days from 2024-01-01
# with exponential gaps (coefficient of variation 1.01) and 1.6% day-to-day
# dispersion, i.e. uniform arrivals; no two events share a timestamp.  The
# table is not part of the repository, so ``inputs.events_timeline_pdf``
# generates a timeline with these distributions and ``selftest.py`` checks
# that it does.
EVENTS_SF01 = {
    "events_per_entity": 66.67,
    "events_per_entity_std": 8.20,
    "purchase_share": 0.2008,  # purchases are the as-of queries
    "span_days": 30.0,
    "gap_cv": 1.007,
}

_PIT = "pit_featurize"
_ASOF = "asof_skewed"
# the snapshot write path runs only in the traced run's probes: no timed
# iteration of either workload commits a snapshot
_WRITE_PATH = "none on either workload; a snapshot-ingest change shows here only"

# per-layer metric -> the end-to-end metric (and workload) it should move
MOVES = {
    "session.start_s": "setup_s on every workload",
    "codecs.decode_ms.png": f"cpu_ms_per_row on {_PIT}; none on {_ASOF}",
    "codecs.decode_ms.bmp": f"cpu_ms_per_row on {_PIT}; none on {_ASOF}",
    "codecs.decode_ms.jpg": f"cpu_ms_per_row on {_PIT}; none on {_ASOF}",
    "codecs.missing_rows": "none: a count that must repeat exactly for a seed",
    "preprocess.resize_ms": f"cpu_ms_per_row on {_PIT}",
    "preprocess.pixels_ms": f"cpu_ms_per_row on {_PIT}",
    "model.forward_ms": f"cpu_ms_per_row and rows_per_s on {_PIT}; none on {_ASOF}",
    "model.gflops": f"cpu_ms_per_row and rows_per_s on {_PIT}; none on {_ASOF}",
    "featurize.batch_ms": f"cpu_ms_per_row on {_PIT}",
    "featurize.glue_ms": f"cpu_ms_per_row on {_PIT}",
    "featurize.images_s": f"rows_per_s on {_PIT}",
    "featurize.boundary_ms_per_row": f"rows_per_s on {_PIT}",
    "featurize.cnn_rows": f"cpu_ms_per_row on {_PIT}",
    "featurize.dedup_ratio": f"cpu_ms_per_row on {_PIT}",
    "featurize.incremental_s": _WRITE_PATH,
    "featurize.new_digest_frac": _WRITE_PATH,
    "asof.join_s": f"rows_per_s on {_ASOF}",
    "asof.cpu_ms_per_row": f"rows_per_s on {_ASOF}",
    "asof.rows_out": "none: a count that must repeat exactly for a seed",
    "asof.shuffle_write_mb": f"rows_per_s on {_ASOF}",
    "asof.task_skew": f"rows_per_s on {_ASOF}",
    "pipeline.residual_s": f"rows_per_s on {_ASOF}",
    "snapshots.scan_s": _WRITE_PATH,
    "snapshots.append_s": _WRITE_PATH,
    "snapshots.append_mb": _WRITE_PATH,
    "snapshots.files_per_append": _WRITE_PATH,
    "snapshots.manifest_kb": _WRITE_PATH,
    "spark.executor_cpu_s": "explains cpu_ms_per_row on every workload",
    "spark.shuffle_write_mb": "explains rows_per_s on every workload",
    "spark.spill_mb": "explains rows_per_s on every workload",
    "spark.tasks": "explains rows_per_s on every workload",
}
