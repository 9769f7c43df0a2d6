"""Per-layer measurements for a traced run.

``kernel_probe`` times the Python-worker layers (codecs, preprocess,
model, featurize_batch) in this process on a seeded sample of the
workload's distinct inputs, as CPU time of one thread.  The Spark-level
probes time one layer's public entry point at a time and tag its jobs so
the event log can be split by phase.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from procstat import tree_cpu_s
from tracing import spark_phase

KERNEL_SAMPLE = 48  # distinct contents timed per traced run


def _conv_flops(x_shape, w_shape, out_shape) -> float:
    kh, kw, cin, cout = w_shape
    n, oh, ow = out_shape[:3]
    return 2.0 * n * oh * ow * kh * kw * cin * cout


def forward_flops(plan, weights) -> float:
    """FLOPs of one image's forward pass, from the kernel shapes and the
    output shapes each convolution produces."""
    import pic2vec_spark.model as model

    total = [0.0]
    real = model.conv2d

    def counting(x, w, *a, **kw):
        out = real(x, w, *a, **kw)
        total[0] += _conv_flops(x.shape, w.shape, out.shape)
        return out

    h, w = plan.target_size
    model.conv2d = counting
    try:
        model.model_forward(plan.model, np.zeros((1, h, w, 3), np.float32), weights, plan.depth)
    finally:
        model.conv2d = real
    return total[0]


def kernel_probe(contents: list[tuple[bytes, str]], plan, tracer, seed: int) -> dict:
    from pic2vec_spark.codecs import decode_image
    from pic2vec_spark.featurize import (
        CNN_CHUNK,
        decode_to_tensor,
        featurize_batch,
        forward_features,
    )
    from pic2vec_spark.model import model_forward, model_weights
    from pic2vec_spark.preprocess import preprocess_pixels, resize_nearest

    clock = time.process_time
    with tracer.span("codecs.decode_to_tensor"):
        missing_rows = sum(decode_to_tensor(d, f, plan) is None for d, f in contents)
    rng = np.random.default_rng([seed, 303])
    pick = np.sort(rng.choice(len(contents), min(KERNEL_SAMPLE, len(contents)), replace=False))
    sample = [contents[i] for i in pick]

    decode_ms: dict[str, list[float]] = {"png": [], "bmp": [], "jpg": []}
    decoded, decode_total = [], 0.0
    with tracer.span("codecs.decode_image"):
        for data, fmt in sample:
            t = clock()
            try:
                img = decode_image(data, fmt)
            except Exception:  # a bad input: timed as decode work, not per format
                img = None
            dt = clock() - t
            decode_total += dt
            if img is not None:
                decoded.append(img)
                decode_ms.setdefault(fmt, []).append(dt * 1e3)
    with tracer.span("preprocess.resize_nearest"):
        t = clock()
        resized = [resize_nearest(img, plan.target_size) for img in decoded]
        resize_total = clock() - t
    with tracer.span("preprocess.preprocess_pixels"):
        t = clock()
        tensors = [
            preprocess_pixels(r.astype(np.float32)[None], plan.preprocess_mode)[0] for r in resized
        ]
        pixels_total = clock() - t
    weights = model_weights(plan.model, plan.weight_seed, plan.depth)
    x = np.stack(tensors) if tensors else np.zeros((0, *plan.target_size, 3), np.float32)
    with tracer.span("model.model_forward"):
        t = clock()
        for i in range(0, len(x), CNN_CHUNK):
            model_forward(plan.model, x[i : i + CNN_CHUNK], weights, plan.depth)
        forward_total = clock() - t
    h, w = plan.target_size
    zero = forward_features(np.zeros((1, h, w, 3), np.float32), plan, weights)[0]
    with tracer.span("featurize.featurize_batch"):
        t = clock()
        featurize_batch([d for d, _ in sample], [f for _, f in sample], plan, weights, zero)
        batch_total = clock() - t
    flops = forward_flops(plan, weights)
    n, n_valid = len(sample), max(len(decoded), 1)
    parts = decode_total + resize_total + pixels_total + forward_total
    return {
        "codecs.decode_ms.png": statistics.fmean(decode_ms["png"] or [0.0]),
        "codecs.decode_ms.bmp": statistics.fmean(decode_ms["bmp"] or [0.0]),
        "codecs.decode_ms.jpg": statistics.fmean(decode_ms["jpg"] or [0.0]),
        "codecs.missing_rows": missing_rows,
        "preprocess.resize_ms": resize_total / n_valid * 1e3,
        "preprocess.pixels_ms": pixels_total / n_valid * 1e3,
        "model.forward_ms": forward_total / n_valid * 1e3,
        "model.gflops": flops * len(decoded) / forward_total / 1e9 if forward_total > 0 else 0.0,
        "featurize.batch_ms": batch_total / n * 1e3,
        "featurize.glue_ms": (batch_total - parts) / n * 1e3,
        "_sample": {"contents": n, "decoded": len(decoded), "gflop_per_image": flops / 1e9},
    }


def timed_action(spark, tracer, span: str, phase: str, fn) -> tuple[float, float, object]:
    """Run ``fn`` (which must force its work) under a span and a Spark
    phase tag; returns (wall s, tree CPU s, fn's result)."""
    with tracer.span(span), spark_phase(spark.sparkContext, phase):
        c0, t0 = tree_cpu_s(), time.perf_counter()
        result = fn()
        return time.perf_counter() - t0, tree_cpu_s() - c0, result
