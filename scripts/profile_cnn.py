"""Per-layer CPU profile of the NumPy CNN forward pass.

Runs ``model_forward`` over seeded synthetic images in this process with
one BLAS thread and prints, per layer, the CPU ms per image and the
GFLOP/s it reaches, next to an fp32 single-core GEMM probe.  Layers are
found by wrapping ``model.conv2d`` and ``model.maxpool2d`` (a conv is
named by the weights entry it is called with); ``glue`` is the rest of
the forward pass (ReLU, concatenation, copies, pooling heads).

Each figure is the median of ``REPEATS`` passes; the forward pass takes
``CNN_CHUNK`` images per call, as ``featurize_batch`` does.

Usage: python scripts/profile_cnn.py [--model squeezenet] [--depth 1]
           [--images 32]
"""

from __future__ import annotations

import os

for _var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_var] = "1"

import argparse  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402
from collections import defaultdict  # noqa: E402
from pathlib import Path  # noqa: E402

import numpy as np  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import pic2vec_spark.model as model  # noqa: E402
from pic2vec_spark.featurize import CNN_CHUNK, decode_batch  # noqa: E402
from pic2vec_spark.plan import FeaturizerPlan  # noqa: E402
from pic2vec_spark.synth import synth_images_pdf  # noqa: E402

clock = time.process_time
REPEATS = 3


def gemm_probe(m: int = 3136, k: int = 576, n: int = 128, reps: int = 20) -> float:
    """GFLOP/s of one fp32 GEMM the size of a 56x56 3x3 convolution."""
    rng = np.random.default_rng(0)
    a = rng.standard_normal((m, k), dtype=np.float32)
    b = rng.standard_normal((k, n), dtype=np.float32)
    c = np.empty((m, n), np.float32)
    np.matmul(a, b, out=c)
    t = clock()
    for _ in range(reps):
        np.matmul(a, b, out=c)
    return 2.0 * m * k * n * reps / (clock() - t) / 1e9


def inputs(plan: FeaturizerPlan, n: int) -> np.ndarray:
    """The first ``n`` decodable synthetic images, preprocessed for ``plan``."""
    pdf = synth_images_pdf(4 * n + 16, seed=3)
    x, missing = decode_batch(
        list(pdf["bytes"]), list(pdf["fmt"]), plan.target_size, plan.preprocess_mode
    )
    return x[~missing][:n]


def profile(plan: FeaturizerPlan, x: np.ndarray) -> tuple[float, dict]:
    """One timed pass: (forward CPU s, {layer: [CPU s, FLOPs]})."""
    weights = model.model_weights(plan.model, plan.weight_seed, plan.depth)
    names = {id(v): k.rsplit("/", 1)[0] for k, v in weights.items() if v.ndim == 4}
    layers: dict[str, list[float]] = defaultdict(lambda: [0.0, 0.0])
    real_conv, real_pool = model.conv2d, model.maxpool2d

    def conv(x, w, *a, **kw):
        t = clock()
        out = real_conv(x, w, *a, **kw)
        entry = layers[names.get(id(w), "conv?")]
        entry[0] += clock() - t
        n, oh, ow = out.shape[:3]
        entry[1] += 2.0 * n * oh * ow * np.prod(w.shape)
        return out

    def pool(x, *a, **kw):
        t = clock()
        out = real_pool(x, *a, **kw)
        layers["maxpool {}x{}x{}".format(*x.shape[1:])][0] += clock() - t
        return out

    model.conv2d, model.maxpool2d = conv, pool
    try:
        t = clock()
        for i in range(0, len(x), CNN_CHUNK):
            model.model_forward(plan.model, x[i : i + CNN_CHUNK], weights, plan.depth)
        total = clock() - t
    finally:
        model.conv2d, model.maxpool2d = real_conv, real_pool
    return total, layers


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--model", default="squeezenet")
    ap.add_argument("--depth", type=int, default=1)
    ap.add_argument("--images", type=int, default=32)
    args = ap.parse_args()

    plan = FeaturizerPlan.build(model=args.model, depth=args.depth)
    x = inputs(plan, args.images)
    n = len(x)
    profile(plan, x[:CNN_CHUNK])  # warm caches and arenas
    runs = [profile(plan, x) for _ in range(REPEATS)]
    total_ms = statistics.median(r[0] for r in runs) / n * 1e3
    rows = []
    for name in runs[0][1]:
        ms = statistics.median(r[1][name][0] for r in runs) / n * 1e3
        flops = runs[0][1][name][1] / n
        rows.append((name, ms, flops / ms / 1e6 if flops and ms else 0.0))
    glue_ms = total_ms - sum(r[1] for r in rows)
    probe = gemm_probe()
    print(f"{plan.model} depth {plan.depth}: {n} images, chunk {CNN_CHUNK}, "
          f"median of {REPEATS}; fp32 GEMM probe {probe:.1f} GFLOP/s")
    print(f"{'layer':<22}{'ms/img':>9}{'GFLOP/s':>9}{'% probe':>9}")
    for name, ms, g in rows:
        pct = f"{100 * g / probe:8.0f}%" if g else ""
        print(f"{name:<22}{ms:9.3f}{g:9.1f}{pct:>9}")
    print(f"{'glue':<22}{glue_ms:9.3f}")
    print(f"{'forward':<22}{total_ms:9.3f}")


if __name__ == "__main__":
    main()
