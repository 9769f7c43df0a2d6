"""Decode-side preprocessing: resize, grayscale, model preprocess modes.

Matches the reference's semantics:

- resize: Keras ``load_img`` uses PIL nearest-neighbor by default
  (/root/reference/pic2vec/feature_preprocessing.py:325-331); nearest
  is reproduced exactly with PIL's pixel-center convention
  ``src = floor((dst + 0.5) * scale)``.
- grayscale: PIL 'L' ITU-R 601-2 luma (L = 299R/1000 + 587G/1000 +
  114B/1000, truncated) — feature_preprocessing.py:326 grayscale flag.
- preprocess modes (feature_preprocessing.py:37-63): 'caffe' for
  squeezenet/vgg16/vgg19/resnet50 (RGB→BGR + mean-subtract
  [103.939, 116.779, 123.68]); 'tf' for inceptionv3/xception
  (x / 127.5 - 1).
"""

from __future__ import annotations

import numpy as np

CAFFE_MEAN_BGR = np.array([103.939, 116.779, 123.68], dtype=np.float32)


def resize_nearest(img: np.ndarray, size: tuple[int, int]) -> np.ndarray:
    """Nearest-neighbor resize (H, W, C) uint8/float -> C-order (h, w, C).

    One ``take`` per axis: ``img[rows][:, cols]`` returns a W-major
    array, and every later copy (``astype``, ``np.stack``) keeps that
    layout until conv1 has to copy the whole batch back to C order."""
    h, w = size
    sh, sw = img.shape[:2]
    rows = np.minimum((np.arange(h) + 0.5) * (sh / h), sh - 1).astype(np.int64)
    cols = np.minimum((np.arange(w) + 0.5) * (sw / w), sw - 1).astype(np.int64)
    return img.take(rows, axis=0).take(cols, axis=1)


def to_grayscale(img: np.ndarray) -> np.ndarray:
    """PIL 'L' luma conversion, (H, W, 3) -> (H, W, 1) uint8."""
    r = img[..., 0].astype(np.uint32)
    g = img[..., 1].astype(np.uint32)
    b = img[..., 2].astype(np.uint32)
    l = (r * 299 + g * 587 + b * 114) // 1000
    return l.astype(np.uint8)[..., None]


def preprocess_pixels(x: np.ndarray, mode: str) -> np.ndarray:
    """Model preprocess over a (N, H, W, 3) float32 batch (RGB in)."""
    x = x.astype(np.float32, copy=False)
    if mode == "caffe":
        # RGB -> BGR minus the mean as one strided pass per channel: over
        # a reversed 3-wide last axis one ufunc call loops 3 elements at
        # a time (2.4x slower at 227x227)
        out = np.empty(x.shape, np.float32)
        for c in range(3):
            np.subtract(x[..., 2 - c], CAFFE_MEAN_BGR[c], out=out[..., c])
        x = out
    elif mode == "tf":
        x = x / 127.5 - 1.0
    else:
        raise ValueError(f"unknown preprocess mode {mode!r}")
    return x
