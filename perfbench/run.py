"""Benchmark of the pic2vec_spark engine: one workload per process.

Run from the repository root:

    python3 perfbench/run.py --workload pit_featurize --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload asof_skewed --seed 1 --seconds 10 --trace 1
    python3 perfbench/run.py --workload pit_featurize --smoke

A run materializes the seeded inputs and their reference (untimed, before
Spark starts), starts a ``local[nproc - 1]`` session, loads the inputs and
runs the warm-up executions (together: ``setup_s``), the first of which is
the verification pass that brings the output to the driver.  Then it runs
timed iterations for ``--seconds``, each forced end to end and checked
against exact counts, and finally checks the verification pass's output
against the reference.  ``--trace 1`` also records spans, Spark's event log and the
per-layer probes, and prints the per-layer metrics instead of the
end-to-end ones.  The last stdout line is the result JSON; the full run
report goes to ``.perfbench/runs/<run>/report.json``.
"""

from __future__ import annotations

import os

# one BLAS thread per process, set before NumPy loads: the same setting the
# session gives its Python workers, so the in-process probes match them
for _var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_var] = "1"
# a 1.5 GB Spark JVM heap instead of the session's 8 GB default: the JVM's
# resident size follows how far the heap has grown, which varies from run to
# run with GC timing (2-4 GB at 8 GB, 1.6-2.2 GB on asof_skewed at 3 GB) and
# would hide any real change in peak_rss_mb
os.environ["SPARK_DRIVER_MEM"] = "1500m"

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench"
MIN_TIMED = 3  # timed iterations even when --seconds runs out first
TREND_LIMIT = -0.10  # second-half vs first-half median wall: flags warm-up left over
PROBE_REPS = 2  # repetitions of each Spark-level layer probe in a traced run


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --------------------------------------------------------------- session

def start_session(run_dir: Path, trace: bool, parallelism: int):
    from pic2vec_spark.session import get_spark

    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        (run_dir / "eventlog").mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (run_dir / "eventlog").as_uri(),
                # zstandard is not installed, so the log must be plain text
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark("perfbench", parallelism=parallelism, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the gateway JVM, then wait for every descendant."""
    from pyspark import SparkContext

    from procstat import tree_pids

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - any failure to end it: kill
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.monotonic() + 30
    while True:
        left = tree_pids() - {os.getpid()}
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
        try:  # reap any direct children that ended
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.1)


# ------------------------------------------------------------- workloads

class PipelineRunner:
    """pit_featurize / asof_skewed: point_in_time_features end to end."""

    def __init__(self, spark, inputs: Path, ref, rows_from: str) -> None:
        import pyarrow.parquet as pq

        self.spark = spark
        self.ref = ref
        self.images = spark.read.parquet(str(inputs / "images.parquet"))
        self.timeline = spark.read.parquet(str(inputs / "timeline.parquet"))
        self.rows = pq.ParquetFile(inputs / f"{rows_from}.parquet").metadata.num_rows
        self.expected = {
            "rows_out": len(ref.query_row_ids),
            "cnn_rows": ref.cnn_rows,
            "missing_rows": ref.missing_rows,
        }

    def iteration(self, i: int, tracer) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from pic2vec_spark.metrics import FeaturizeMetrics
        from pic2vec_spark.pipeline import point_in_time_features

        fm = FeaturizeMetrics(self.spark)
        seen = Observation(f"rows{i}")
        with tracer.span("pipeline.point_in_time_features"):
            out = point_in_time_features(self.images, self.timeline, metrics=fm)
            _noop(out.observe(seen, F.count(F.lit(1)).alias("rows")))
        counts = fm.summary()
        return {
            "rows_out": int(seen.get["rows"]),
            "cnn_rows": int(counts.get("images", 0)),
            "missing_rows": int(counts.get("missing", 0)),
        }

    def collect(self) -> list:
        """The verification pass's Spark half: one full execution of the
        pipeline, grouped by (matched image, missing flag) so that only
        the row ids and each group's distinct vectors reach the driver.
        It is the run's first execution, so it also serves as the first
        warm-up."""
        from pyspark.sql import functions as F

        from pic2vec_spark.pipeline import point_in_time_features

        out = point_in_time_features(self.images, self.timeline)
        return (
            out.groupBy("image_id_asof", "missing_asof")
            .agg(
                F.collect_list("row_id").alias("row_ids"),
                F.collect_set("features_asof").alias("vectors"),
                F.sum(F.col("features_asof").isNull().cast("long")).alias("null_vectors"),
            )
            .collect()
        )

    def check(self, groups: list) -> list[str]:
        """The verification pass's driver half: the collected groups
        against the reference."""
        import numpy as np

        ref = self.ref
        problems = []
        want = dict(zip(ref.query_row_ids.tolist(), ref.query_matches))
        got = [int(r) for g in groups for r in g["row_ids"]]
        if len(got) != len(want) or set(got) != set(want):
            problems.append(f"query rows: got {len(got)}, want {len(want)}")
        bad_match = bad_missing = 0
        for g in groups:
            image_id = g["image_id_asof"] or None
            for row_id in g["row_ids"]:
                expect = want.get(int(row_id))
                if image_id != expect:
                    bad_match += 1
                elif expect is not None and bool(g["missing_asof"]) != bool(ref.missing[ref.content_of[expect]]):
                    bad_missing += 1
        if bad_match:
            problems.append(f"{bad_match} rows matched another image than merge_asof")
        if bad_missing:
            problems.append(f"{bad_missing} rows with a wrong missing flag")
        matched_groups = [g for g in groups if g["image_id_asof"] is not None]
        matched = {m for m in want.values() if m is not None}
        if {g["image_id_asof"] for g in matched_groups if g["vectors"]} != matched:
            problems.append("the matched image ids differ from the reference")
        null_vec = sum(g["null_vectors"] for g in matched_groups)
        if null_vec:
            problems.append(f"{null_vec} matched rows without a feature vector")
        bad_vec = sum(
            not np.allclose(np.asarray(v, np.float32), ref.features[ref.content_of[g["image_id_asof"]]], atol=1e-5)
            for g in matched_groups
            if g["image_id_asof"] in ref.content_of
            for v in g["vectors"]
        )
        if bad_vec:
            problems.append(f"{bad_vec} feature vectors not allclose to the oracle")
        return problems


# ---------------------------------------------------------------- traced

def traced_layers(spark, runner, ref, inputs: Path, run_dir: Path, tracer, timed: list[dict],
                  seed: int, problems: list[str]) -> dict:
    """Per-layer probes; the event-log metrics are added after the
    session stops.  The incremental-ingest probe's committed rows are
    checked against the inputs; a mismatch is added to ``problems``."""
    import pandas as pd
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from inputs import content_key
    from layers import kernel_probe, timed_action
    from pic2vec_spark.featurize import featurize_images, incremental_featurize
    from pic2vec_spark.ops.asof import asof_join, asof_join_broadcast
    from pic2vec_spark.pipeline import BROADCAST_ASOF_MAX_ROWS
    from pic2vec_spark.plan import FeaturizerPlan
    from pic2vec_spark.snapshots import SnapshotTable

    plan = FeaturizerPlan.build()
    images_pdf = pd.read_parquet(inputs / "images.parquet")
    contents = list(dict.fromkeys(map(content_key, images_pdf["bytes"], images_pdf["fmt"])))
    out = kernel_probe(contents, plan, tracer, seed)
    reps = range(PROBE_REPS)
    med = statistics.median

    def act(span, phase, fn):
        return timed_action(spark, tracer, span, phase, fn)

    images, timeline = runner.images, runner.timeline
    fz = [act("featurize.featurize_images", f"featurize_alone:{r}",
              lambda: _noop(featurize_images(images, plan))) for r in reps]
    out["featurize.images_s"] = med(w for w, _, _ in fz)
    out["featurize.boundary_ms_per_row"] = (
        med(c for _, c, _ in fz) / ref.cnn_rows * 1e3 - out["featurize.batch_ms"]
    )
    ok = [t for t in timed if t["ok"]]
    out["featurize.cnn_rows"] = med(t["counts"]["cnn_rows"] for t in ok)
    out["featurize.dedup_ratio"] = out["featurize.cnn_rows"] / ref.rows_in

    # the as-of join alone, on cached inputs built the way the pipeline
    # builds them, with the strategy the pipeline's "auto" picks
    feats = featurize_images(images, plan).select("image_id", "caption", "missing", "features")
    obs = (
        timeline.where((F.col("kind") == "feature") & F.col("image_id").isNotNull())
        .select("entity_id", "ts", "row_id", "image_id")
        .join(feats, "image_id", "left")
        .cache()
    )
    queries = timeline.where(F.col("kind") == "query").select("entity_id", "ts", "row_id").cache()
    with tracer.span("asof.prepare"):
        n_obs, n_q = obs.count(), queries.count()
    join_fn = asof_join_broadcast if n_obs <= BROADCAST_ASOF_MAX_ROWS else asof_join

    def asof_once():
        seen = Observation("asof")
        joined = join_fn(queries, obs, on="entity_id", ts="ts",
                         value_cols=["image_id", "caption", "missing", "features"], tiebreak="row_id")
        _noop(joined.observe(seen, F.count(F.lit(1)).alias("rows")))
        return int(seen.get["rows"])

    aj = [act("ops.asof.asof_join", f"asof_alone:{r}", asof_once) for r in reps]
    obs.unpersist()
    queries.unpersist()
    out["asof.join_s"] = med(w for w, _, _ in aj)
    out["asof.cpu_ms_per_row"] = med(c for _, c, _ in aj) / (n_obs + n_q) * 1e3
    out["asof.rows_out"] = aj[-1][2]
    out["pipeline.residual_s"] = (
        med(t["wall_s"] for t in ok) - out["featurize.images_s"] - out["asof.join_s"]
    )

    # snapshots: append a cached feature frame to a fresh table, scan it back
    cached = featurize_images(images, plan).select("image_id", "missing", "features").cache()
    with tracer.span("snapshots.prepare"):
        cached.count()
    appends, scans = [], []
    for r in reps:
        table = SnapshotTable(str(run_dir / "tables" / f"append{r}"), spark)
        appends.append(act("snapshots.append", f"append:{r}", lambda: table.append(cached))[0])
        scans.append(act("snapshots.scan", f"scan:{r}", lambda: _noop(table.scan()))[0])
    cached.unpersist()
    man = table.manifest()
    out["snapshots.append_s"] = med(appends)
    out["snapshots.scan_s"] = med(scans)
    out["snapshots.append_mb"] = sum(p["bytes"] for p in man["partitions"]) / 2**20
    out["snapshots.files_per_append"] = sum(p["rows"] > 0 for p in man["partitions"])

    # incremental ingest: two drops into a fresh feature table, the second
    # replaying the first (the first half of the images, then all of them).
    # A drop's new digests are the rows its snapshot added to the parent's.
    half = images_pdf["image_id"].iloc[len(images_pdf) // 2]
    drops = [images.where(F.col("image_id") < half), images]
    first = {
        content_key(d, f)
        for d, f, i in zip(images_pdf["bytes"], images_pdf["fmt"], images_pdf["image_id"])
        if i < half
    }
    distinct = [len(first), len(contents)]
    expected = [1.0, (len(contents) - len(first)) / len(contents)]
    table = SnapshotTable(str(run_dir / "tables" / "incremental"), spark)
    calls = [act("featurize.incremental_featurize", f"incremental:{k}",
                 lambda: incremental_featurize(d, table)) for k, d in enumerate(drops)]
    out["featurize.incremental_s"] = med(w for w, _, _ in calls)
    table_rows = [0] + [sum(p["rows"] for p in table.manifest(sid)["partitions"]) for _, _, sid in calls]
    new_frac = [(table_rows[k + 1] - table_rows[k]) / distinct[k] for k in range(len(drops))]
    if new_frac != expected:
        problems.append(
            f"incremental_featurize: new digest share per drop {new_frac} != {expected} from the inputs"
        )
    out["featurize.new_digest_frac"] = statistics.fmean(new_frac)
    sid = table.current_snapshot_id()
    out["snapshots.manifest_kb"] = (table.snap_dir / f"{sid}.json").stat().st_size / 1024
    return out


def event_log_layers(run_dir: Path, n_timed: int) -> tuple[dict, list[dict]]:
    from tracing import stage_table

    rows = stage_table(run_dir / "eventlog")
    timed = [r for r in rows if r["phase"].startswith("timed:")]
    asof = [r for r in rows if r["phase"].startswith("asof_alone:")]
    windows = [r for r in asof if r["shuffle_read_mb"] > 0] or asof
    per = max(n_timed, 1)
    out = {
        "spark.executor_cpu_s": sum(r["cpu_s"] for r in timed) / per,
        "spark.shuffle_write_mb": sum(r["shuffle_write_mb"] for r in timed) / per,
        "spark.spill_mb": sum(r["spill_mb"] for r in timed) / per,
        "spark.tasks": sum(r["tasks"] for r in timed) / per,
        "asof.shuffle_write_mb": sum(r["shuffle_write_mb"] for r in asof) / PROBE_REPS,
        "asof.task_skew": max(windows, key=lambda r: r["run_s"])["task_skew"] if windows else 1.0,
    }
    return out, rows


# ------------------------------------------------------------------ main

def parse_args(argv):
    from spec import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for a quick end-to-end check")
    return ap.parse_args(argv)


def _trend(walls: list[float]) -> float:
    half = len(walls) // 2
    if half < 1:
        return 0.0
    return statistics.median(walls[-half:]) / statistics.median(walls[:half]) - 1.0


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = str(WORK / "tmp")
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)

    import pic2vec_spark  # noqa: F401 - fail fast when the package is absent

    from inputs import materialize, reference, source_hash
    from procstat import (
        RssSampler, cpu_counters, describe, gemm_probe_gflops, steal_share, tree_cpu_s,
    )
    from spec import BENCHMARK, WORKLOADS
    from tracing import Tracer, spark_phase

    wl = WORKLOADS[args.workload]
    sizes = wl.smoke if args.smoke else wl.sizes
    # a smoke run checks outputs and printed names, not timing: one warm-up
    warmup = 1 if args.smoke else wl.warmup
    trace = bool(args.trace)
    # one core is left to the JVM's JIT and GC threads and to this
    # process: with a Python worker on every core they compete for CPU
    # and the tree's CPU per row grew by about a fifth
    parallelism = max(1, len(os.sched_getaffinity(0)) - 1)
    stamp = time.strftime("%Y%m%d%H%M%S")
    run_dir = WORK / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}"
    run_dir.mkdir(parents=True)

    phases = {}
    t0 = time.perf_counter()
    inputs = materialize(WORK, args.workload, args.seed, sizes)
    phases["materialize_s"] = time.perf_counter() - t0
    ref = reference(ROOT, inputs, workers=len(os.sched_getaffinity(0)))
    phases["reference_s"] = time.perf_counter() - t0 - phases["materialize_s"]

    tracer = Tracer(trace)
    timed: list[dict] = []
    failures: list[str] = []
    report: dict = {"workload": args.workload, "rows_from": wl.rows_from, "seed": args.seed, "sizes": sizes,
                    "seconds": args.seconds, "trace": trace, "parallelism": parallelism}
    with tracer.span("run"):
        t_setup = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = start_session(run_dir, trace, parallelism)
        start_s = time.perf_counter() - t_setup
        try:
            sc = spark.sparkContext
            with tracer.span("inputs.load"):
                runner = PipelineRunner(spark, inputs, ref, wl.rows_from)
            # the verification pass is the first warm-up execution; its
            # output is checked after the timed window
            t0 = time.perf_counter()
            with tracer.span("verify.collect"):
                collected = runner.collect()
            warm = [time.perf_counter() - t0]
            for i in range(1, warmup):
                t0 = time.perf_counter()
                with tracer.span("warmup"):
                    runner.iteration(-i, tracer)
                warm.append(time.perf_counter() - t0)
            setup_s = time.perf_counter() - t_setup
            report["setup"] = {"setup_s": setup_s, "session_start_s": start_s, "warmup_wall_s": warm}

            counters0, gemm0 = cpu_counters(), gemm_probe_gflops()
            t_timed = time.perf_counter()
            # start the timed window from a collected heap, so its peak RSS
            # depends on the timed iterations more than on warm-up history
            gc.collect()
            sc._jvm.System.gc()
            with RssSampler() as rss, tracer.span("timed"):
                i = 0
                # start another iteration while it would end nearer to
                # --seconds than stopping now does: the window then lasts
                # --seconds give or take half an iteration
                while i < MIN_TIMED or (
                    time.perf_counter() - t_timed + statistics.median(t["wall_s"] for t in timed) / 2
                    < args.seconds
                ):
                    phase = spark_phase(sc, f"timed:{i}") if trace else nullcontext()
                    c0, t0 = tree_cpu_s(), time.perf_counter()
                    try:
                        with phase:
                            got = runner.iteration(i, tracer)
                    except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
                        failures.append(traceback.format_exc())
                        got = None
                    wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
                    ok = got is not None and got == runner.expected
                    if got is not None and not ok:
                        failures.append(f"iteration {i}: counts {got} != expected {runner.expected}")
                    timed.append({"wall_s": wall, "cpu_s": cpu, "ok": ok, "counts": got})
                    i += 1
            timed_window_s = time.perf_counter() - t_timed
            peak_who = describe(rss.peak_by_pid)
            counters1, gemm1 = cpu_counters(), gemm_probe_gflops()

            t0 = time.perf_counter()
            with tracer.span("verify.check"):
                problems = runner.check(collected)
            phases["verify_check_s"] = time.perf_counter() - t0
            failures.extend(f"verification: {p}" for p in problems)
            ingest_problems: list[str] = []
            if trace:
                layer = traced_layers(spark, runner, ref, inputs, run_dir, tracer, timed, args.seed,
                                      ingest_problems)
                failures.extend(ingest_problems)
        finally:
            t0 = time.perf_counter()
            stop_session(spark)
            phases["stop_s"] = time.perf_counter() - t0
    shutil.rmtree(run_dir / "tables", ignore_errors=True)

    ok_iters = [t for t in timed if t["ok"]]
    if not ok_iters:
        raise RuntimeError("no timed iteration succeeded:\n" + "\n".join(failures))
    # the timed iterations, the verification pass and, traced, the ingest check
    attempted = len(timed) + 1 + trace
    failed = len(timed) - len(ok_iters) + bool(problems) + bool(ingest_problems)
    walls = [t["wall_s"] for t in ok_iters]
    e2e = {
        "setup_s": setup_s,
        "rows_per_s": statistics.median(runner.rows / t["wall_s"] for t in ok_iters),
        "cpu_ms_per_row": statistics.median(t["cpu_s"] / runner.rows * 1e3 for t in ok_iters),
        "peak_rss_mb": rss.peak_mb,
        "success_frac": 1.0 - failed / attempted,
    }
    trend = _trend(walls)
    report.update(
        {
            "rows_per_iteration": runner.rows,
            "phases": phases,
            "timed": timed,
            "timed_window_s": timed_window_s,
            "trend": trend,
            "trending": trend < TREND_LIMIT,
            "host": {"steal_share": steal_share(counters0, counters1),
                     "gemm_gflops_before": gemm0, "gemm_gflops_after": gemm1},
            "peak_rss_by_process_mb": [
                (peak_who.get(pid, "?"), mb) for pid, mb in sorted(rss.peak_by_pid.items())
            ],
            "attempted": attempted,
            "failed": failed,
            "failed_frac": failed / attempted,
            "failures": failures,
            "end_to_end": e2e,
        }
    )
    if trend < TREND_LIMIT:
        print(f"perfbench: timed iterations still trend down ({trend:+.1%}); reported as measured",
              file=sys.stderr)

    # the untraced baseline of the same inputs and package source
    last = WORK / "last" / f"{inputs.name}-{source_hash(ROOT)}.json"
    if trace:
        from_log, stages = event_log_layers(run_dir, len(timed))
        layer.update(from_log)
        layer["session.start_s"] = start_s
        report["kernel_sample"] = layer.pop("_sample")
        report["per_layer"] = layer
        report["stages"] = stages
        report["uncovered_share"] = tracer.uncovered_share(
            "run", ("session.", "codecs.", "preprocess.", "model.", "featurize.", "ops.", "pipeline.", "snapshots.")
        )
        if last.exists():
            base = json.loads(last.read_text())
            report["tracing_overhead"] = {
                k: e2e[k] / base[k] - 1.0 for k in ("rows_per_s", "cpu_ms_per_row") if base.get(k)
            }
        else:
            report["tracing_overhead"] = (
                "no baseline: no untraced run of this workload, seed, sizes and package source"
            )
        tracer.write(run_dir / "spans.json")
        metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]} for m in BENCHMARK["per_layer"]}
    else:
        last.parent.mkdir(parents=True, exist_ok=True)
        last.write_text(json.dumps(e2e))
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in BENCHMARK["end_to_end"]}
    (run_dir / "report.json").write_text(json.dumps(report, indent=1, default=str))
    print(f"perfbench: report {run_dir / 'report.json'}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
