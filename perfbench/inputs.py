"""Seeded workload inputs and the references the verification uses.

Inputs are a pure function of (workload, seed, sizes).  They are written
as parquet once per key under the benchmark's scratch directory, and the
program under test only ever sees those files.  The reference features
come from ``pic2vec_spark.oracle.oracle_featurize`` (single-machine, no
Spark) and the reference as-of matches from pandas ``merge_asof``.  Both
are computed before the Spark session starts, in chunks, and cached next
to the inputs under a hash of the package sources.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing as mp
import os
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd

from pic2vec_spark.synth import synth_images_pdf, synth_timeline_pdf
from spec import EVENTS_SF01

ORACLE_CHUNK = 16  # images per oracle call: bounds the stacked tensors to ~10 MB
_EPOCH = np.datetime64("2024-01-01T00:00:00", "us")


def events_timeline_pdf(n_events: int, n_images: int, n_entities: int, seed: int) -> pd.DataFrame:
    """An entity timeline with the distributions measured on the sf0.1
    ``events`` table (``spec.EVENTS_SF01``): users uniform over
    ``n_entities``, purchases at their measured share, distinct arrival
    times uniform over the measured span.  Purchases are as-of queries;
    every other event observes image ``event_id % n_images``."""
    rng = np.random.default_rng([seed, 101])
    span_us = int(EVENTS_SF01["span_days"] * 86_400 * 10**6)
    ts = np.sort(rng.choice(span_us, n_events, replace=False))
    query = rng.random(n_events) < EVENTS_SF01["purchase_share"]
    event_id = np.arange(n_events, dtype=np.int64)
    return pd.DataFrame(
        {
            "entity_id": rng.integers(0, n_entities, n_events).astype(np.int64),
            "ts": _EPOCH + ts,
            "image_id": [
                None if q else f"img_{i % n_images:09d}" for q, i in zip(query, event_id)
            ],
            "kind": np.where(query, "query", "feature"),
            "row_id": event_id,
        }
    )


def source_hash(root: Path) -> str:
    h = hashlib.sha256()
    for p in sorted((root / "pic2vec_spark").rglob("*.py")):
        h.update(p.relative_to(root).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def materialize(work: Path, workload: str, seed: int, sizes: dict) -> Path:
    """Write the workload's images and timeline once per (workload, seed, sizes)."""
    tag = hashlib.sha256(json.dumps(sizes, sort_keys=True).encode()).hexdigest()[:10]
    final = work / "inputs" / f"{workload}-s{seed}-{tag}"
    if (final / "DONE").exists():
        return final
    tmp = final.with_name(final.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    synth_images_pdf(sizes["images"], seed=seed).to_parquet(tmp / "images.parquet")
    if workload == "pit_featurize":
        events_timeline_pdf(
            sizes["events"], sizes["images"], sizes["entities"], seed
        ).to_parquet(tmp / "timeline.parquet")
    else:
        synth_timeline_pdf(
            sizes["rows"], sizes["images"], n_entities=sizes["entities"], seed=seed
        ).to_parquet(tmp / "timeline.parquet")
    (tmp / "DONE").write_text(json.dumps({"workload": workload, "seed": seed, "sizes": sizes}))
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final


def content_key(data, fmt) -> tuple[bytes, str]:
    """The identity the engine dedups on: (bytes, fmt), nulls as empty."""
    return (data if data is not None else b"", fmt if fmt is not None else "")


def _oracle_chunk(args):
    from pic2vec_spark.oracle import oracle_featurize
    from pic2vec_spark.plan import FeaturizerPlan

    datas, fmts = args
    pdf = pd.DataFrame({"image_id": [str(i) for i in range(len(datas))], "bytes": datas, "fmt": fmts})
    out = oracle_featurize(pdf, FeaturizerPlan.build())
    return out["missing"].to_numpy(), np.stack(out["features"].to_list())


def _oracle_features(contents: list[tuple[bytes, str]], workers: int):
    chunks = [
        ([c[0] for c in contents[i : i + ORACLE_CHUNK]], [c[1] for c in contents[i : i + ORACLE_CHUNK]])
        for i in range(0, len(contents), ORACLE_CHUNK)
    ]
    if workers > 1 and len(chunks) > 2:
        # forked workers inherit the oracle's imports instead of repeating
        # them (~1.7 s each); this process has started no threads or JVM
        import pic2vec_spark.oracle  # noqa: F401

        with mp.get_context("fork").Pool(min(workers, len(chunks))) as pool:
            parts = pool.map(_oracle_chunk, chunks)
            pool.close()
            pool.join()
    else:
        parts = [_oracle_chunk(c) for c in chunks]
    return np.concatenate([p[0] for p in parts]), np.concatenate([p[1] for p in parts])


class Reference:
    """Expected results for one materialized input."""

    def __init__(self, npz: dict) -> None:
        self.missing = npz["missing"]
        self.features = npz["features"]
        self.content_of = dict(zip((str(x) for x in npz["image_ids"]), npz["content_idx"].tolist()))
        self.query_row_ids = npz["query_row_ids"]
        self.query_matches = [str(x) or None for x in npz["query_matches"]]
        self.rows_in = len(self.content_of)

    @property
    def cnn_rows(self) -> int:
        return len(self.missing)

    @property
    def missing_rows(self) -> int:
        return int(self.missing.sum())


def _expected_matches(timeline: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    obs = timeline[(timeline["kind"] == "feature") & timeline["image_id"].notna()]
    obs = obs[["entity_id", "ts", "row_id", "image_id"]].rename(columns={"row_id": "obs_row"})
    queries = timeline[timeline["kind"] == "query"][["entity_id", "ts", "row_id"]]
    m = pd.merge_asof(
        queries.sort_values("ts", kind="mergesort"),
        obs.sort_values(["ts", "obs_row"], kind="mergesort"),
        on="ts",
        by="entity_id",
        direction="backward",
        allow_exact_matches=True,
    )
    return m["row_id"].to_numpy(np.int64), m["image_id"].fillna("").to_numpy(str)


def reference(root: Path, inputs: Path, workers: int) -> Reference:
    """Load the cached reference, computing it first in a child process
    (whose oracle pool has ended before this returns)."""
    cache = inputs / f"reference-{source_hash(root)}.npz"
    if not cache.exists():
        subprocess.run(
            [sys.executable, __file__, str(inputs), str(cache), str(workers)], check=True
        )
    with np.load(cache, allow_pickle=False) as npz:
        return Reference(dict(npz))


def build_reference(inputs: Path, cache: Path, workers: int) -> None:
    images = pd.read_parquet(inputs / "images.parquet")
    contents: dict[tuple[bytes, str], int] = {}
    content_idx = [
        contents.setdefault(content_key(d, f), len(contents))
        for d, f in zip(images["bytes"], images["fmt"])
    ]
    missing, features = _oracle_features(list(contents), workers)
    q_rows, q_match = _expected_matches(pd.read_parquet(inputs / "timeline.parquet"))
    tmp = cache.with_name(cache.stem + f".tmp{os.getpid()}.npz")
    np.savez(
        tmp,
        missing=missing,
        features=features.astype(np.float32),
        image_ids=images["image_id"].to_numpy(str),
        content_idx=np.array(content_idx, dtype=np.int64),
        query_row_ids=q_rows,
        query_matches=q_match,
    )
    os.replace(tmp, cache)


if __name__ == "__main__":
    # python3 perfbench/inputs.py INPUTS CACHE WORKERS, with the repository
    # root on PYTHONPATH (run.py sets it)
    build_reference(Path(sys.argv[1]), Path(sys.argv[2]), int(sys.argv[3]))
