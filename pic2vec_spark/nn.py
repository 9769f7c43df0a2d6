"""Pure-NumPy CNN kernels (conv2d / relu / maxpool / global-avg-pool).

These run *inside* Arrow-batched pandas UDF workers — the cluster never
sees a pixel tensor; Spark ships (image_id, bytes) in and gets
(image_id, feature array) out.  Convolutions are im2col + one GEMM
(BLAS), replacing the reference's TensorFlow kernels invoked at
/root/reference/pic2vec/data_featurizing.py:51.

Layout: NHWC activations (float32), HWIO weights — the same layout the
reference's tf_dim_ordering weights use.

Scratch memory comes from per-thread buffers that outlive a call.
The im2col matrix is one grow-only buffer (``_col_matrix``): it is dead
after its GEMM, so every conv shares it, and it holds the largest matrix
seen so far.  Other scratch comes from a per-thread arena
(``scratch``): one buffer per (key, shape), allocated zeroed on first
use and reused by every later call with the same shapes, up to
``ARENA_BYTES``.  Without them every conv call mmaps and zero-fills
fresh multi-MB buffers (large numpy allocations bypass the small-object
allocator), and under many concurrent workers the kernel page-fault
path becomes a shared bottleneck.  ``conv2d`` and ``maxpool2d`` also
take ``out=``, so a caller can keep its activations in the arena too:
``model.squeezenet_features`` runs one image at a time through arena
buffers, and each fire module's two expand GEMMs write the two channel
halves of one output.
"""

from __future__ import annotations

import math
import threading

import numpy as np


# Bytes of keyed scratch one thread keeps between calls, least recently
# used dropped first.  SqueezeNet's whole per-image working set stays;
# a larger buffer (the other models' padded inputs at CNN_CHUNK images)
# is made per call rather than held for the life of the worker.
ARENA_BYTES = 64 << 20


class _Arena(threading.local):
    def __init__(self) -> None:
        self.bufs: dict[tuple, np.ndarray] = {}
        self.nbytes = 0
        self.col = np.empty(0, np.float32)


_ARENA = _Arena()


def scratch(key: tuple, shape: tuple[int, ...]) -> np.ndarray:
    """A float32 buffer for (key, shape) from this thread's arena, zeroed
    when first made and reused as-is afterwards.  A caller owns it until
    its next ``scratch`` call with the same key and shape."""
    arena = _ARENA
    buf = arena.bufs.pop((key, shape), None)
    if buf is None:
        buf = np.zeros(shape, dtype=np.float32)
        if buf.nbytes > ARENA_BYTES:
            return buf
        arena.nbytes += buf.nbytes
        while arena.nbytes > ARENA_BYTES:
            arena.nbytes -= arena.bufs.pop(next(iter(arena.bufs))).nbytes
    arena.bufs[(key, shape)] = buf
    return buf


def _col_matrix(shape: tuple[int, ...]) -> np.ndarray:
    """An uninitialised float32 im2col buffer of ``shape``: a view of this
    thread's one grow-only buffer, so it is valid until the next call."""
    size = math.prod(shape)
    if _ARENA.col.size < size:
        _ARENA.col = np.empty(size, np.float32)
    return _ARENA.col[:size].reshape(shape)


def output_hw(
    h: int, w: int, kh: int, kw: int, stride: int, padding: str
) -> tuple[int, int]:
    """Output (height, width) of a kh x kw window op (Keras semantics)."""
    if padding == "same":
        return -(-h // stride), -(-w // stride)
    if padding == "valid":
        return (h - kh) // stride + 1, (w - kw) // stride + 1
    raise ValueError(padding)


def _same_pads(h, w, kh, kw, stride) -> tuple[int, int]:
    oh, ow = output_hw(h, w, kh, kw, stride, "same")
    return max((oh - 1) * stride + kh - h, 0), max((ow - 1) * stride + kw - w, 0)


def _output(out: np.ndarray | None, shape: tuple[int, ...], dtype) -> np.ndarray:
    if out is None:
        return np.empty(shape, dtype=dtype)
    if out.shape != shape:
        raise ValueError(f"out has shape {out.shape}, the result {shape}")
    return out


def _matrix(a: np.ndarray) -> np.ndarray:
    """(N, H, W, C) -> its (N*H*W, C) view; ``a`` may be a channel slice
    of a wider array (the view then has row stride > C, BLAS ``ldc``)."""
    m = a.reshape(-1, a.shape[-1])
    if m.size and not np.may_share_memory(m, a):
        raise ValueError("out must be viewable as a (N*H*W, C) matrix")
    return m


def conv2d(
    x: np.ndarray,
    w: np.ndarray,
    b: np.ndarray | None = None,
    stride: int = 1,
    padding: str = "valid",
    out: np.ndarray | None = None,
) -> np.ndarray:
    """2-D convolution, NHWC x HWIO -> NHWC, via im2col + GEMM.

    ``out``: an (N, OH, OW, Cout) float32 array to write into and return
    (it may be a channel slice of a wider array); default a new one.
    The padded input lives in the arena, the im2col matrix in its
    per-thread buffer."""
    kh, kw, cin, cout = w.shape
    assert x.shape[-1] == cin, (x.shape, w.shape)
    x = np.asarray(x, dtype=np.float32)
    n, hh, ww = x.shape[:3]
    oh, ow = output_hw(hh, ww, kh, kw, stride, padding)
    if padding == "same":
        ph, pw = _same_pads(hh, ww, kh, kw, stride)
        if ph or pw:
            # the border is written by nobody, so it stays zero; the key
            # holds the input shape, which fixes where the interior sits
            xp = scratch(("pad", x.shape, ph, pw), (n, hh + ph, ww + pw, cin))
            xp[:, ph // 2 : ph // 2 + hh, pw // 2 : pw // 2 + ww] = x
            x = xp
    out = _output(out, (n, oh, ow, cout), np.float32)

    if kh == kw == 1 and stride == 1:
        a = x.reshape(-1, cin)
    else:
        # im2col as ONE copy of a strided view: every output window's
        # (kw, cin) patch row is a contiguous kw*cin-float run of the
        # source row, so the copy's inner runs are kw*cin long (not
        # cin), for any stride — ~10x faster than gathering a 6-D
        # sliding_window_view.  as_strided needs C order: a W-major
        # input would gather the wrong pixels.
        x = np.ascontiguousarray(x)
        sn, sh, sw, sc = x.strides
        windows = np.lib.stride_tricks.as_strided(
            x,
            shape=(n, oh, ow, kh, kw * cin),
            strides=(sn, stride * sh, stride * sw, sh, sc),
        )
        col = _col_matrix((n, oh, ow, kh, kw * cin))
        np.copyto(col, windows)
        a = col.reshape(n * oh * ow, kh * kw * cin)
    np.matmul(a, w.reshape(kh * kw * cin, cout), out=_matrix(out))
    if b is not None:
        np.add(out, b, out=out)
    return out


def depthwise_conv2d(
    x: np.ndarray, w: np.ndarray, stride: int = 1, padding: str = "same"
) -> np.ndarray:
    """Depthwise conv (depth multiplier 1), NHWC x (kh, kw, C, 1) ->
    NHWC: kh*kw shifted multiply-accumulates, each a vectorized
    broadcast over the channel axis (no im2col needed — the per-channel
    kernel is a scalar per tap)."""
    kh, kw, cin, _ = w.shape
    assert x.shape[-1] == cin
    n, hh, ww = x.shape[:3]
    oh, ow = output_hw(hh, ww, kh, kw, stride, padding)
    if padding == "same":
        ph, pw = _same_pads(hh, ww, kh, kw, stride)
        x = np.pad(
            x, ((0, 0), (ph // 2, ph - ph // 2), (pw // 2, pw - pw // 2), (0, 0))
        )
    out = np.zeros((n, oh, ow, cin), dtype=np.float32)
    for i in range(kh):
        for j in range(kw):
            view = x[:, i : i + oh * stride : stride, j : j + ow * stride : stride, :]
            out += view * w[i, j, :, 0]
    return out


def relu(x: np.ndarray) -> np.ndarray:
    return np.maximum(x, 0, out=x)


def maxpool2d(
    x: np.ndarray,
    pool: int = 3,
    stride: int = 2,
    padding: str = "valid",
    out: np.ndarray | None = None,
) -> np.ndarray:
    """Max pooling (matches Keras MaxPooling2D(pool, stride, padding)),
    separable: pool-1 ``np.maximum`` passes along W into an arena
    buffer, then pool-1 along H into ``out`` (default a new array).
    'same' pads with -inf so padding never wins a max."""
    if pool < 2:
        raise ValueError(f"pool must be at least 2, got {pool}")
    if padding == "same":
        ph, pw = _same_pads(x.shape[1], x.shape[2], pool, pool, stride)
        x = np.pad(
            x,
            ((0, 0), (ph // 2, ph - ph // 2), (pw // 2, pw - pw // 2), (0, 0)),
            constant_values=-np.inf,
        )
    n, hh, ww, c = x.shape
    oh, ow = output_hw(hh, ww, pool, pool, stride, "valid")
    out = _output(out, (n, oh, ow, c), x.dtype)

    def cols(j):
        return x[:, :, j : j + (ow - 1) * stride + 1 : stride, :]

    def rows(src, i):
        return src[:, i : i + (oh - 1) * stride + 1 : stride]

    tmp = scratch(("maxpool",), (n, hh, ow, c)) if x.dtype == np.float32 else None
    tmp = np.maximum(cols(0), cols(1), out=tmp)
    for j in range(2, pool):
        np.maximum(tmp, cols(j), out=tmp)
    np.maximum(rows(tmp, 0), rows(tmp, 1), out=out)
    for i in range(2, pool):
        np.maximum(out, rows(tmp, i), out=out)
    return out


def avgpool2d_same(x: np.ndarray, pool: int = 3) -> np.ndarray:
    """Stride-1 'same' average pooling that EXCLUDES padding from the
    divisor (TF/Keras AveragePooling2D semantics: edge windows average
    over their valid cells only)."""
    n, hh, ww, c = x.shape
    p = pool // 2
    xp = np.pad(x, ((0, 0), (p, p), (p, p), (0, 0)))
    ones = np.pad(np.ones((1, hh, ww, 1), np.float32), ((0, 0), (p, p), (p, p), (0, 0)))
    s = np.zeros((n, hh, ww, c), dtype=np.float32)
    cnt = np.zeros((1, hh, ww, 1), dtype=np.float32)
    for i in range(pool):
        for j in range(pool):
            s += xp[:, i : i + hh, j : j + ww, :]
            cnt += ones[:, i : i + hh, j : j + ww, :]
    return s / cnt


def global_avg_pool(x: np.ndarray) -> np.ndarray:
    """(N, H, W, C) -> (N, C) spatial mean (reference appends
    GlobalAvgPool2D when the decapitated output is 4-D,
    build_featurizer.py:351-352)."""
    return x.mean(axis=(1, 2), dtype=np.float32)
