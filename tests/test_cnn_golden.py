"""Frozen SqueezeNet golden and direct-loop kernel references.

``tests/data/squeezenet_golden.npz`` holds 32 ``synth_images_pdf``
contents (png / bmp / jpg / gif / corrupt / empty) with the sha256 of
each decoded and each resized uint8 image and the SqueezeNet d1-d4
feature vectors, written once by an earlier build of the kernels.  The
production kernels cannot move it with them: the oracle
(``oracle.py``) and the Spark path (``featurize_batch``) both run the
same ``nn``/``model`` code, so only a stored golden sees numeric drift.

``conv2d`` and ``maxpool2d`` are also checked against slow direct loops
on small shapes that share no code with them.

Rewrite the golden (only when the numerics are meant to change) with
``python tests/test_cnn_golden.py --write``.
"""

from __future__ import annotations

import hashlib
import sys
import threading
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pic2vec_spark import nn  # noqa: E402
from pic2vec_spark.codecs import decode_image  # noqa: E402
from pic2vec_spark.featurize import (  # noqa: E402
    _zero_features,
    decode_to_tensor,
    featurize_batch,
    forward_features,
)
from pic2vec_spark.model import model_weights  # noqa: E402
from pic2vec_spark.oracle import oracle_featurize  # noqa: E402
from pic2vec_spark.plan import FeaturizerPlan  # noqa: E402
from pic2vec_spark.preprocess import resize_nearest  # noqa: E402
from pic2vec_spark.synth import synth_image_row  # noqa: E402

GOLDEN = Path(__file__).resolve().parent / "data" / "squeezenet_golden.npz"
ATOL = RTOL = 1e-5  # np.allclose(atol=1e-5): vectors reach ~170, where one float32 ulp is 1.5e-5
DEPTHS = (1, 2, 3, 4)
_N, _SEED = 400, 7  # the synth_images_pdf(400, seed=7) table the rows come from


def _kind(data: bytes | None, fmt: str) -> str:
    if fmt == "gif":
        return "gif"
    if not data:
        return "empty"
    try:
        decode_image(data, fmt)
    except Exception:
        return "corrupt"
    return fmt


def _pick_rows() -> list[int]:
    """8 png, 8 bmp, 8 jpg of distinct sizes outside the hot duplicate
    clusters, then 3 gif, 3 corrupt and 2 empty rows."""
    quota = {"png": 8, "bmp": 8, "jpg": 8, "gif": 3, "corrupt": 3, "empty": 2}
    seen: set[tuple[str, int, int]] = set()
    rows: list[int] = []
    for i in range(_N):
        if i % 100 < 20:
            continue
        r = synth_image_row(i, _N, _SEED)
        k = _kind(r["bytes"], r["fmt"])
        if quota.get(k, 0) == 0 or (k, r["w"], r["h"]) in seen:
            continue
        seen.add((k, r["w"], r["h"]))
        quota[k] -= 1
        rows.append(i)
    assert not any(quota.values()), quota
    return rows


def _sha(a: np.ndarray | bytes | None) -> str:
    if a is None:
        return ""
    if isinstance(a, bytes):
        return hashlib.sha256(a).hexdigest()
    head = f"{a.dtype.str}{a.shape}".encode()
    return hashlib.sha256(head + np.ascontiguousarray(a).tobytes()).hexdigest()


def _decoded(data: bytes | None, fmt: str, size: tuple[int, int]):
    try:
        img = decode_image(data, fmt or "")
    except Exception:
        return None, None
    return img, resize_nearest(img, size)


def _images(rows) -> pd.DataFrame:
    return pd.DataFrame([synth_image_row(int(i), _N, _SEED) for i in rows])


def write_golden() -> None:
    rows = _pick_rows()
    pdf = _images(rows)
    size = FeaturizerPlan.build().target_size
    decoded = [_decoded(d, f, size) for d, f in zip(pdf["bytes"], pdf["fmt"])]
    out = {
        "rows": np.array(rows, np.int64),
        "bytes_sha256": np.array([_sha(d if d is not None else b"") for d in pdf["bytes"]]),
        "decoded_sha256": np.array([_sha(img) for img, _ in decoded]),
        "resized_sha256": np.array([_sha(r) for _, r in decoded]),
    }
    for d in DEPTHS:
        o = oracle_featurize(pdf, FeaturizerPlan.build(depth=d))
        out["missing"] = o["missing"].to_numpy()
        out[f"d{d}"] = np.stack(o["features"].to_list()).astype(np.float32)
    GOLDEN.parent.mkdir(exist_ok=True)
    np.savez_compressed(GOLDEN, **out)


@pytest.fixture(scope="module")
def golden():
    with np.load(GOLDEN, allow_pickle=False) as z:
        return dict(z)


@pytest.fixture(scope="module")
def images(golden):
    return _images(golden["rows"])


def test_golden_covers_every_input_kind(golden, images):
    kinds = {_kind(d, f) for d, f in zip(images["bytes"], images["fmt"])}
    assert kinds == {"png", "bmp", "jpg", "gif", "corrupt", "empty"}
    assert len(images) == 32
    assert golden["missing"].sum() == 8


def test_inputs_unchanged(golden, images):
    """The synth bytes are the golden's inputs; a failure here means the
    generator moved, not the kernels."""
    got = [_sha(d if d is not None else b"") for d in images["bytes"]]
    assert got == list(golden["bytes_sha256"])


def test_decoded_pixels_byte_equal(golden, images):
    size = FeaturizerPlan.build().target_size
    for i, (d, f) in enumerate(zip(images["bytes"], images["fmt"])):
        img, resized = _decoded(d, f, size)
        assert _sha(img) == golden["decoded_sha256"][i], (i, f)
        assert _sha(resized) == golden["resized_sha256"][i], (i, f)


def test_resize_returns_c_order():
    """``np.stack`` keeps its inputs' layout, so a W-major resize would
    make conv1 copy the whole batch before its im2col."""
    img = np.arange(5 * 7 * 3, dtype=np.uint8).reshape(5, 7, 3)
    for size in ((227, 227), (3, 11), (5, 7)):
        out = resize_nearest(img, size)
        assert out.flags.c_contiguous and out.shape == (*size, 3)


@pytest.mark.parametrize("depth", DEPTHS)
def test_oracle_matches_golden(golden, images, depth):
    out = oracle_featurize(images, FeaturizerPlan.build(depth=depth))
    np.testing.assert_array_equal(out["missing"].to_numpy(), golden["missing"])
    got = np.stack(out["features"].to_list())
    np.testing.assert_allclose(got, golden[f"d{depth}"], rtol=RTOL, atol=ATOL)


@pytest.mark.parametrize("depth", DEPTHS)
def test_featurize_batch_matches_golden(golden, images, depth):
    plan = FeaturizerPlan.build(depth=depth)
    weights = model_weights(plan.model, plan.weight_seed, plan.depth)
    feats, missing = featurize_batch(
        list(images["bytes"]), list(images["fmt"]), plan, weights, _zero_features(plan)
    )
    np.testing.assert_array_equal(missing, golden["missing"])
    np.testing.assert_allclose(feats, golden[f"d{depth}"], rtol=RTOL, atol=ATOL)


def test_threads_do_not_share_the_arena(images):
    """Each thread runs in its own arena: concurrent forwards give the
    single-threaded vectors bit for bit."""
    plan = FeaturizerPlan.build()
    weights = model_weights(plan.model, plan.weight_seed, plan.depth)
    tensors = [decode_to_tensor(d, f, plan) for d, f in zip(images["bytes"], images["fmt"])]
    x = np.stack([t for t in tensors if t is not None][:6])
    want = forward_features(x, plan, weights)
    got: dict[int, np.ndarray] = {}

    def work(i: int) -> None:
        got[i] = forward_features(x, plan, weights)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=work, args=(i,)) for i in range(6)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(old)
    assert sorted(got) == list(range(6))
    for v in got.values():
        np.testing.assert_array_equal(v, want)


# ------------------------------------------------ direct-loop kernel refs

def _pad(x, kh, kw, stride, padding, value=0.0):
    if padding == "valid":
        return x
    h, w = x.shape[1:3]
    oh, ow = -(-h // stride), -(-w // stride)
    ph = max((oh - 1) * stride + kh - h, 0)
    pw = max((ow - 1) * stride + kw - w, 0)
    out = np.full((x.shape[0], h + ph, w + pw, x.shape[3]), value, x.dtype)
    out[:, ph // 2 : ph // 2 + h, pw // 2 : pw // 2 + w] = x
    return out


def _conv_ref(x, w, b, stride, padding):
    kh, kw, cin, cout = w.shape
    x = _pad(x.astype(np.float64), kh, kw, stride, padding)
    n, hh, ww, _ = x.shape
    oh, ow = (hh - kh) // stride + 1, (ww - kw) // stride + 1
    out = np.zeros((n, oh, ow, cout))
    for i in range(n):
        for r in range(oh):
            for c in range(ow):
                patch = x[i, r * stride : r * stride + kh, c * stride : c * stride + kw]
                for o in range(cout):
                    out[i, r, c, o] = np.sum(patch * w[..., o]) + b[o]
    return out


def _maxpool_ref(x, pool, stride, padding):
    x = _pad(x, pool, pool, stride, padding, value=-np.inf)
    n, hh, ww, ch = x.shape
    oh, ow = (hh - pool) // stride + 1, (ww - pool) // stride + 1
    out = np.empty((n, oh, ow, ch), x.dtype)
    for i in range(n):
        for r in range(oh):
            for c in range(ow):
                for k in range(ch):
                    out[i, r, c, k] = x[
                        i, r * stride : r * stride + pool, c * stride : c * stride + pool, k
                    ].max()
    return out


def _rand(shape, seed):
    return np.random.default_rng(seed).standard_normal(shape).astype(np.float32)


CONV_CASES = [
    # (n, h, w, cin, cout, k, stride, padding)
    (2, 7, 6, 3, 4, 3, 1, "valid"),
    (2, 7, 6, 3, 4, 3, 1, "same"),
    (1, 9, 8, 3, 5, 3, 2, "valid"),
    (2, 9, 8, 2, 3, 3, 2, "same"),
    (2, 5, 6, 4, 3, 1, 1, "valid"),
    (1, 6, 7, 4, 3, 1, 2, "valid"),
]


@pytest.mark.parametrize("case", CONV_CASES)
def test_conv2d_matches_direct_loop(case):
    n, h, w, cin, cout, k, stride, padding = case
    x = _rand((n, h, w, cin), 1)
    wt = _rand((k, k, cin, cout), 2)
    b = _rand((cout,), 3)
    got = nn.conv2d(x, wt, b, stride=stride, padding=padding)
    np.testing.assert_allclose(got, _conv_ref(x, wt, b, stride, padding), atol=1e-4)


@pytest.mark.parametrize("case", CONV_CASES)
def test_conv2d_non_contiguous_input(case):
    """A W-major input (what stacking transposed views gives) must give
    the same result as its C-order copy."""
    n, h, w, cin, cout, k, stride, padding = case
    xt = _rand((n, w, h, cin), 4).transpose(0, 2, 1, 3)
    assert not xt.flags.c_contiguous
    x = np.ascontiguousarray(xt)
    wt = _rand((k, k, cin, cout), 5)
    b = _rand((cout,), 6)
    got = nn.conv2d(xt, wt, b, stride=stride, padding=padding)
    np.testing.assert_allclose(got, _conv_ref(x, wt, b, stride, padding), atol=1e-4)


@pytest.mark.parametrize("case", CONV_CASES)
def test_conv2d_out_writes_a_channel_half(case):
    """``out=`` a channel slice of a wider array: the GEMM writes there
    (BLAS ``ldc``), the other channels stay as they were."""
    n, h, w, cin, cout, k, stride, padding = case
    x = _rand((n, h, w, cin), 9)
    wt = _rand((k, k, cin, cout), 10)
    b = _rand((cout,), 11)
    ref = _conv_ref(x, wt, b, stride, padding)
    wide = np.full((*ref.shape[:3], 2 * cout + 1), 7.0, np.float32)
    got = nn.conv2d(x, wt, b, stride=stride, padding=padding, out=wide[..., 1 : cout + 1])
    assert got.shape == ref.shape and np.shares_memory(got, wide)
    np.testing.assert_allclose(wide[..., 1 : cout + 1], ref, atol=1e-4)
    assert (wide[..., 0] == 7).all() and (wide[..., cout + 1 :] == 7).all()


@pytest.mark.parametrize(
    "case", [(2, 9, 9, 3, 3, 2, "valid"), (1, 10, 7, 2, 3, 2, "same"), (2, 8, 8, 4, 2, 2, "valid"),
             (1, 7, 7, 2, 3, 1, "same"), (2, 11, 9, 3, 3, 2, "same")]
)
def test_maxpool2d_matches_direct_loop(case):
    n, h, w, ch, pool, stride, padding = case
    x = _rand((n, h, w, ch), 7)
    got = nn.maxpool2d(x, pool=pool, stride=stride, padding=padding)
    np.testing.assert_array_equal(got, _maxpool_ref(x, pool, stride, padding))
    xt = _rand((n, w, h, ch), 8).transpose(0, 2, 1, 3)
    got = nn.maxpool2d(xt, pool=pool, stride=stride, padding=padding)
    ref = _maxpool_ref(np.ascontiguousarray(xt), pool, stride, padding)
    np.testing.assert_array_equal(got, ref)
    out = np.empty_like(ref)
    assert nn.maxpool2d(xt, pool=pool, stride=stride, padding=padding, out=out) is out
    np.testing.assert_array_equal(out, ref)


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        sys.exit("usage: python tests/test_cnn_golden.py --write")
    write_golden()
    print(f"wrote {GOLDEN}")
