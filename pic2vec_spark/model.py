"""SqueezeNet forward pass in NumPy with deterministic seeded weights.

Graph matched to the reference (/root/reference/pic2vec/squeezenet.py:
65-145): conv1 3x3/s2 valid → relu → maxpool 3x3/s2 → fire2,3 →
maxpool → fire4,5 → maxpool → fire6..9 (→ dropout/conv10/GAP/softmax,
never executed here).  Fire module (squeezenet.py:41-60): squeeze 1x1
conv+relu, then channel-concat(expand 1x1 conv+relu, expand 3x3
same-pad conv+relu).

Decapitation (build_featurizer.py:117-151 with the depth map
build_featurizer.py:35 {1:5, 2:12, 3:19, 4:26} layers popped) lands on
the fire-module concat outputs: depth 1 → fire9 (512 ch), 2 → fire8
(512), 3 → fire7 (384), 4 → fire6 (384); the 4-D output then gets
GlobalAvgPool (build_featurizer.py:351-352).  In NumPy, decapitation is
simply truncated execution — the forward pass stops at the mapped fire
module.

Weights: the reference's ImageNet h5 blob is stripped from the checkout
(.MISSING_LARGE_BLOBS) and unfetchable (no network), so weights are
generated deterministically (He-normal, per-layer seeded RNG) — the
single-machine NumPy oracle and the Spark pipeline share exactly these
weights, which is what correctness is anchored to (SURVEY.md §5).
"""

from __future__ import annotations

import numpy as np

from pic2vec_spark.nn import (
    conv2d,
    depthwise_conv2d,
    global_avg_pool,
    maxpool2d,
    output_hw,
    relu,
    scratch,
)

# (name, kh, kw, cin, cout) in forward order
_FIRE_SPECS = [
    # fire_id, cin, squeeze, expand
    (2, 64, 16, 64),
    (3, 128, 16, 64),
    (4, 128, 32, 128),
    (5, 256, 32, 128),
    (6, 256, 48, 192),
    (7, 384, 48, 192),
    (8, 384, 64, 256),
    (9, 512, 64, 256),
]

# depth -> last fire module executed (see module docstring)
DEPTH_TO_LAST_FIRE = {1: 9, 2: 8, 3: 7, 4: 6}


def _layer_specs() -> list[tuple[str, int, int, int, int]]:
    specs = [("conv1", 3, 3, 3, 64)]
    for fid, cin, sq, ex in _FIRE_SPECS:
        specs.append((f"fire{fid}/squeeze1x1", 1, 1, cin, sq))
        specs.append((f"fire{fid}/expand1x1", 1, 1, sq, ex))
        specs.append((f"fire{fid}/expand3x3", 3, 3, sq, ex))
    return specs


def squeezenet_weights(seed: int = 0) -> dict[str, np.ndarray]:
    """Deterministic He-normal weights, float32, zero biases.

    Per-layer independent RNG streams (seeded by (seed, layer index))
    make the dict reproducible regardless of generation order.
    """
    weights: dict[str, np.ndarray] = {}
    for i, (name, kh, kw, cin, cout) in enumerate(_layer_specs()):
        rng = np.random.default_rng([seed, i])
        std = np.sqrt(2.0 / (kh * kw * cin))
        weights[f"{name}/kernel"] = rng.normal(0.0, std, (kh, kw, cin, cout)).astype(
            np.float32
        )
        weights[f"{name}/bias"] = np.zeros(cout, dtype=np.float32)
    return weights


def _fire(
    x: np.ndarray, fid: int, w: dict[str, np.ndarray], pool: str | None = None
) -> np.ndarray:
    """One fire module on one image, in arena buffers: squeeze 1x1 +
    ReLU, then expand1x1 and expand3x3 write the two channel halves of
    one output (the reference's concat), which takes both biases and
    the ReLU in one pass each — after the maxpool ``pool`` names, when
    one follows (see ``_bias_relu``)."""
    k = f"fire{fid}"
    sq_w, e1_w = w[f"{k}/squeeze1x1/kernel"], w[f"{k}/expand1x1/kernel"]
    n, h, wd, _ = x.shape
    ex = e1_w.shape[-1]
    sq = scratch((k, "squeeze"), (n, h, wd, sq_w.shape[-1]))
    relu(conv2d(x, sq_w, w[f"{k}/squeeze1x1/bias"], out=sq))
    out = scratch((k,), (n, h, wd, 2 * ex))
    conv2d(sq, e1_w, out=out[..., :ex])
    conv2d(sq, w[f"{k}/expand3x3/kernel"], padding="same", out=out[..., ex:])
    bias = np.concatenate([w[f"{k}/expand1x1/bias"], w[f"{k}/expand3x3/bias"]])
    return _bias_relu(out, bias, pool)


# ------------------------------------------------------------ vgg16/19
# Graphs per the reference's keras.applications VGG16/VGG19 (M10 in
# SURVEY §2.3): 5 conv blocks (3x3 same + relu, 2x2/s2 maxpool) ->
# flatten -> fc1 -> fc2 -> predictions.  Depth maps
# (build_featurizer.py:46-53): vgg16 {1:1, 2:2, 3:4, 4:8}, vgg19
# {1:1, 2:2, 3:4, 4:9} layers popped; decapitation keeps
# layers[-(n+1)].output (build_featurizer.py:147), which for BOTH nets
# lands on: d1 -> fc2 (4096), d2 -> fc1 (4096), d3 -> block5_pool
# (GAP 512), d4 -> block4_pool (GAP 512) — matching the reference's
# output-size matrix.  (vgg19's extra conv per block in blocks 3-5 is
# why its d4 pops 9: block5 holds 4 convs instead of 3.)

def _vgg_convs(n_layers: int) -> list[tuple[str, int, int, bool]]:
    per_block = {16: (2, 2, 3, 3, 3), 19: (2, 2, 4, 4, 4)}[n_layers]
    widths = (64, 128, 256, 512, 512)
    convs = []
    cin = 3
    for b, (n, cout) in enumerate(zip(per_block, widths), start=1):
        for c in range(1, n + 1):
            convs.append((f"block{b}_conv{c}", cin, cout, c == n))
            cin = cout
    return convs


def _vgg_n_convs(n_layers: int, depth: int) -> int:
    convs = _vgg_convs(n_layers)
    if depth <= 3:
        return len(convs)
    # depth 4 output = block4_pool: run everything through block 4
    return sum(1 for name, *_ in convs if not name.startswith("block5"))


def _vgg_weights(n_layers: int, seed: int, depth: int, base: int) -> dict[str, np.ndarray]:
    """Deterministic He-normal weights; only the layers the given depth
    executes are generated (the fc blocks alone are ~520 MB — skipping
    them for depth 3/4 matters per worker).  ``base`` separates the
    vgg16 and vgg19 RNG streams."""
    weights: dict[str, np.ndarray] = {}
    convs = _vgg_convs(n_layers)
    for i, (name, cin, cout, _) in enumerate(convs[: _vgg_n_convs(n_layers, depth)]):
        rng = np.random.default_rng([seed, base + i])
        std = np.sqrt(2.0 / (9 * cin))
        weights[f"{name}/kernel"] = rng.normal(0.0, std, (3, 3, cin, cout)).astype(
            np.float32
        )
        weights[f"{name}/bias"] = np.zeros(cout, dtype=np.float32)
    if depth <= 2:
        rng = np.random.default_rng([seed, base + 100])
        weights["fc1/kernel"] = rng.normal(
            0.0, np.sqrt(2.0 / 25088), (25088, 4096)
        ).astype(np.float32)
        weights["fc1/bias"] = np.zeros(4096, dtype=np.float32)
    if depth <= 1:
        rng = np.random.default_rng([seed, base + 101])
        weights["fc2/kernel"] = rng.normal(
            0.0, np.sqrt(2.0 / 4096), (4096, 4096)
        ).astype(np.float32)
        weights["fc2/bias"] = np.zeros(4096, dtype=np.float32)
    return weights


def _vgg_features(
    n_layers: int, x: np.ndarray, weights: dict[str, np.ndarray], depth: int
) -> np.ndarray:
    """Decapitated VGG forward: (N, 224, 224, 3) preprocessed float32
    -> (N, width) per the depth map in the section comment.  Every
    executed conv block keeps its trailing maxpool (both depth-3 and
    depth-4 outputs are pool layers in the reference)."""
    if depth not in (1, 2, 3, 4):
        raise ValueError("depth must be in 1..4")
    x = x.astype(np.float32, copy=False)
    convs = _vgg_convs(n_layers)
    for name, _, _, pool_after in convs[: _vgg_n_convs(n_layers, depth)]:
        x = relu(
            conv2d(x, weights[f"{name}/kernel"], weights[f"{name}/bias"], padding="same")
        )
        if pool_after:
            x = maxpool2d(x, pool=2, stride=2)
    if depth >= 3:
        return global_avg_pool(x)
    flat = x.reshape(x.shape[0], -1)  # (N, 7*7*512) channels-last order
    flat = relu(flat @ weights["fc1/kernel"] + weights["fc1/bias"])
    if depth == 2:
        return flat.astype(np.float32)
    flat = relu(flat @ weights["fc2/kernel"] + weights["fc2/bias"])
    return flat.astype(np.float32)


def vgg16_weights(seed: int = 0, depth: int = 1) -> dict[str, np.ndarray]:
    return _vgg_weights(16, seed, depth, base=100)


def vgg16_features(
    x: np.ndarray, weights: dict[str, np.ndarray], depth: int = 1
) -> np.ndarray:
    return _vgg_features(16, x, weights, depth)


def vgg19_weights(seed: int = 0, depth: int = 1) -> dict[str, np.ndarray]:
    return _vgg_weights(19, seed, depth, base=300)


def vgg19_features(
    x: np.ndarray, weights: dict[str, np.ndarray], depth: int = 1
) -> np.ndarray:
    return _vgg_features(19, x, weights, depth)


# ------------------------------------------------------------ resnet50
# Graph per the reference's keras.applications ResNet50 (M10): zero-pad3
# -> conv1 7x7/s2 -> BN -> relu -> maxpool 3x3/s2 -> 4 bottleneck stages
# [3, 4, 6, 3 blocks] -> avg_pool 7x7 -> flatten -> fc1000.  Bottleneck:
# 1x1(+/s2) -> BN -> relu, 3x3 same -> BN -> relu, 1x1 -> BN, add
# shortcut (identity, or 1x1(+/s2) -> BN in each stage's first block),
# relu.  Depth map {1:2, 2:5, 3:13, 4:23} popped +
# layers[-(n+1)].output (build_featurizer.py:55-58,147) lands on:
# d1 -> avg_pool (1,1,2048), d2 -> bn5c_branch2c (7,7,2048; the last
# block's final BN, BEFORE the residual add), d3 -> activation of block
# 5b, d4 -> activation of block 5a — all GAP to 2048, matching the
# reference's output-size matrix.  BN at inference is a per-channel
# affine; gamma/beta/mean/var fold into (bn_scale, bn_shift), generated
# deterministically like every other weight (ImageNet h5 unavailable).

_RESNET_STAGES = [
    # (stage, (f1, f2, f3), blocks, first_block_stride)
    (2, (64, 64, 256), "abc", 1),
    (3, (128, 128, 512), "abcd", 2),
    (4, (256, 256, 1024), "abcdef", 2),
    (5, (512, 512, 2048), "abc", 2),
]

# depth -> last stage-5 block executed ('c' for d1/d2; d2 cuts inside c)
_RESNET_LAST_BLOCK = {1: "c", 2: "c", 3: "b", 4: "a"}


def _resnet_conv_specs(depth: int) -> list[tuple[str, int, int, int, int]]:
    """(name, kh, cin, cout, stride) for every conv the depth executes."""
    specs = [("conv1", 7, 3, 64, 2)]
    cin = 64
    last = _RESNET_LAST_BLOCK[depth]
    for stage, (f1, f2, f3), blocks, stride0 in _RESNET_STAGES:
        for b in blocks:
            s = stride0 if b == "a" else 1
            p = f"res{stage}{b}_branch"
            specs += [
                (f"{p}2a", 1, cin, f1, s),
                (f"{p}2b", 3, f1, f2, 1),
                (f"{p}2c", 1, f2, f3, 1),
            ]
            if b == "a":
                specs.append((f"{p}1", 1, cin, f3, s))
            cin = f3
            if stage == 5 and b == last:
                return specs
    return specs


def resnet50_weights(seed: int = 0, depth: int = 1) -> dict[str, np.ndarray]:
    """Deterministic He-normal conv kernels + near-identity fused BN
    affines, float32; only the layers the depth executes are generated."""
    weights: dict[str, np.ndarray] = {}
    for i, (name, k, cin, cout, _) in enumerate(_resnet_conv_specs(depth)):
        rng = np.random.default_rng([seed, 500 + i])
        std = np.sqrt(2.0 / (k * k * cin))
        weights[f"{name}/kernel"] = rng.normal(0.0, std, (k, k, cin, cout)).astype(
            np.float32
        )
        weights[f"{name}/bias"] = np.zeros(cout, dtype=np.float32)
        weights[f"{name}/bn_scale"] = np.abs(
            rng.normal(1.0, 0.05, cout)
        ).astype(np.float32)
        weights[f"{name}/bn_shift"] = rng.normal(0.0, 0.05, cout).astype(np.float32)
    return weights


def _conv_bn(
    x: np.ndarray, w: dict[str, np.ndarray], name: str,
    stride: int = 1, padding: str = "valid", act: bool = True,
) -> np.ndarray:
    x = conv2d(x, w[f"{name}/kernel"], w[f"{name}/bias"], stride=stride, padding=padding)
    x *= w[f"{name}/bn_scale"]
    x += w[f"{name}/bn_shift"]
    return relu(x) if act else x


def resnet50_features(
    x: np.ndarray, weights: dict[str, np.ndarray], depth: int = 1
) -> np.ndarray:
    """Decapitated ResNet50 forward: (N, 224, 224, 3) preprocessed
    float32 -> (N, 2048) post-GAP features at every depth (the cut point
    moves, the channel width does not — see section comment)."""
    if depth not in (1, 2, 3, 4):
        raise ValueError("depth must be in 1..4")
    x = np.pad(x.astype(np.float32, copy=False), ((0, 0), (3, 3), (3, 3), (0, 0)))
    x = _conv_bn(x, weights, "conv1", stride=2)
    x = maxpool2d(x, pool=3, stride=2)
    last = _RESNET_LAST_BLOCK[depth]
    for stage, _, blocks, stride0 in _RESNET_STAGES:
        for b in blocks:
            s = stride0 if b == "a" else 1
            p = f"res{stage}{b}_branch"
            if depth == 2 and stage == 5 and b == "c":
                # decapitation lands on bn5c_branch2c: branch-2 only,
                # no residual add, no final relu
                y = _conv_bn(x, weights, f"{p}2a", stride=s)
                y = _conv_bn(y, weights, f"{p}2b", padding="same")
                y = _conv_bn(y, weights, f"{p}2c", act=False)
                return global_avg_pool(y)
            y = _conv_bn(x, weights, f"{p}2a", stride=s)
            y = _conv_bn(y, weights, f"{p}2b", padding="same")
            y = _conv_bn(y, weights, f"{p}2c", act=False)
            if b == "a":
                shortcut = _conv_bn(x, weights, f"{p}1", stride=s, act=False)
            else:
                shortcut = x
            x = relu(y + shortcut)
            if stage == 5 and b == last:
                # d1 continues to avg_pool(7x7) == the trailing GAP;
                # d3/d4 outputs are these block activations, GAP'd
                return global_avg_pool(x)
    raise AssertionError("unreachable")


# ------------------------------------------------------------ xception
# Graph per the reference's keras.applications Xception (M10), 134
# layers (the reference asserts the count, tests/test_build_featurizer
# .py:232).  Entry flow: conv32/s2 + conv64 (both valid, BN+relu), then
# 3 residual sepconv modules (128, 256, 728) with 1x1/s2 conv-BN
# shortcuts and 3x3/s2 same maxpools; middle flow: 8 identical residual
# modules (relu-sepconv728-BN x3 + add); exit flow: block13 (sep728,
# sep1024, maxpool, 1x1/s2 shortcut 1024) then sep1536 + sep2048.
# SeparableConv2D = depthwise 3x3 same (no bias) -> pointwise 1x1 (no
# bias) -> BN.  Depth map {1:1, 2:8, 3:18, 4:28} popped +
# layers[-(n+1)].output: d1 -> global avg pool (2048), d2 -> block13's
# residual add (1024), d3 -> middle block 12's add (728), d4 -> middle
# block 11's add (728) — GAP widths match the reference's output-size
# matrix {1:2048, 2:1024, 3:728, 4:728}.

# depth -> (last middle block executed, run block13, run block14)
_XCEPTION_CUT = {1: (12, True, True), 2: (12, True, False),
                 3: (12, False, False), 4: (11, False, False)}


def _xception_layer_specs(depth: int):
    """(name, kind, cin, cout, stride) in forward order; kind is
    'conv' | 'sep' (sepconv = depthwise cin + pointwise cin->cout)."""
    last_mid, run13, run14 = _XCEPTION_CUT[depth]
    specs = [
        ("block1_conv1", "conv", 3, 32, 2),
        ("block1_conv2", "conv", 32, 64, 1),
    ]
    cin = 64
    for blk, cout in ((2, 128), (3, 256), (4, 728)):
        specs += [
            (f"block{blk}_res", "conv", cin, cout, 2),
            (f"block{blk}_sepconv1", "sep", cin, cout, 1),
            (f"block{blk}_sepconv2", "sep", cout, cout, 1),
        ]
        cin = cout
    for blk in range(5, 5 + (last_mid - 4)):
        for s in (1, 2, 3):
            specs.append((f"block{blk}_sepconv{s}", "sep", 728, 728, 1))
    if run13:
        specs += [
            ("block13_res", "conv", 728, 1024, 2),
            ("block13_sepconv1", "sep", 728, 728, 1),
            ("block13_sepconv2", "sep", 728, 1024, 1),
        ]
    if run14:
        specs += [
            ("block14_sepconv1", "sep", 1024, 1536, 1),
            ("block14_sepconv2", "sep", 1536, 2048, 1),
        ]
    return specs


def xception_weights(seed: int = 0, depth: int = 1) -> dict[str, np.ndarray]:
    """Deterministic He-normal kernels + near-identity fused-BN affines;
    sepconvs carry (depthwise, pointwise) pairs, biasless like Keras."""
    weights: dict[str, np.ndarray] = {}
    for i, (name, kind, cin, cout, _) in enumerate(_xception_layer_specs(depth)):
        rng = np.random.default_rng([seed, 700 + i])
        if kind == "conv":
            # the two stem convs are 3x3; every residual shortcut is 1x1
            k = 3 if name in ("block1_conv1", "block1_conv2") else 1
            std = np.sqrt(2.0 / (k * k * cin))
            weights[f"{name}/kernel"] = rng.normal(
                0.0, std, (k, k, cin, cout)
            ).astype(np.float32)
        else:
            weights[f"{name}/depthwise"] = rng.normal(
                0.0, np.sqrt(2.0 / 9), (3, 3, cin, 1)
            ).astype(np.float32)
            weights[f"{name}/pointwise"] = rng.normal(
                0.0, np.sqrt(2.0 / cin), (1, 1, cin, cout)
            ).astype(np.float32)
        # mean 0.6 (not 1.0): 36 residual stages otherwise grow
        # activations to ~1e5, and float32 cancellation in the final
        # GAP then costs ~3 significant digits; damping each branch
        # keeps features O(1e2) and the Spark-vs-oracle comparison tight
        weights[f"{name}/bn_scale"] = np.abs(rng.normal(0.6, 0.05, cout)).astype(
            np.float32
        )
        weights[f"{name}/bn_shift"] = rng.normal(0.0, 0.05, cout).astype(np.float32)
    return weights


def _sepconv_bn(x: np.ndarray, w: dict[str, np.ndarray], name: str) -> np.ndarray:
    x = depthwise_conv2d(x, w[f"{name}/depthwise"], padding="same")
    x = conv2d(x, w[f"{name}/pointwise"])
    x *= w[f"{name}/bn_scale"]
    x += w[f"{name}/bn_shift"]
    return x


def _xconv_bn(
    x: np.ndarray, w: dict[str, np.ndarray], name: str, stride: int, act: bool
) -> np.ndarray:
    x = conv2d(x, w[f"{name}/kernel"], stride=stride)
    x *= w[f"{name}/bn_scale"]
    x += w[f"{name}/bn_shift"]
    return relu(x) if act else x


def xception_features(
    x: np.ndarray, weights: dict[str, np.ndarray], depth: int = 1
) -> np.ndarray:
    """Decapitated Xception forward: (N, 299, 299, 3) tf-mode float32 ->
    (N, width) post-GAP per the section comment's cut points."""
    if depth not in _XCEPTION_CUT:
        raise ValueError("depth must be in 1..4")
    last_mid, run13, run14 = _XCEPTION_CUT[depth]
    w = weights
    x = x.astype(np.float32, copy=False)
    x = _xconv_bn(x, w, "block1_conv1", 2, True)
    x = _xconv_bn(x, w, "block1_conv2", 1, True)
    for blk in (2, 3, 4):
        res = _xconv_bn(x, w, f"block{blk}_res", 2, False)
        if blk > 2:  # block2 has no leading relu (keras graph)
            x = relu(x.copy())
        y = relu(_sepconv_bn(x, w, f"block{blk}_sepconv1"))
        y = _sepconv_bn(y, w, f"block{blk}_sepconv2")
        y = maxpool2d(y, pool=3, stride=2, padding="same")
        x = y + res
    for blk in range(5, 5 + (last_mid - 4)):
        y = x
        for s in (1, 2, 3):
            y = _sepconv_bn(relu(y.copy()), w, f"block{blk}_sepconv{s}")
        x = x + y
    if not run13:
        return global_avg_pool(x)
    res = _xconv_bn(x, w, "block13_res", 2, False)
    y = _sepconv_bn(relu(x.copy()), w, "block13_sepconv1")
    y = _sepconv_bn(relu(y), w, "block13_sepconv2")
    y = maxpool2d(y, pool=3, stride=2, padding="same")
    x = y + res
    if not run14:
        return global_avg_pool(x)
    x = relu(_sepconv_bn(x, w, "block14_sepconv1"))
    x = relu(_sepconv_bn(x, w, "block14_sepconv2"))
    return global_avg_pool(x)


# --------------------------------------------------------- inceptionv3
# Graph per the reference's keras.applications InceptionV3 (M10, 313
# layers asserted at tests/test_build_featurizer.py:231): stem (5 convs
# + 2 maxpools) -> mixed0-2 (35x35; 5x5 branch) -> mixed3 (reduction)
# -> mixed4-7 (17x17; factorized 1x7/7x1) -> mixed8 (reduction) ->
# mixed9-10 (8x8; forked 1x3/3x1 branches).  Every conv is
# conv2d_bn = biasless Conv2D -> BN -> relu.  Depth map
# {1:2, 2:19, 3:33, 4:50} popped + layers[-(n+1)].output, under keras's
# depth-ordered Model.layers, lands on: d1 -> mixed10 (2048), d2 -> the
# in-block AveragePooling2D over mixed9 (8x8x2048), d3 -> mixed9
# (2048), d4 -> the in-block AveragePooling2D over mixed8 (8x8x1280) —
# GAP widths match the reference's executed output-size matrix
# {1:2048, 2:2048, 3:2048, 4:1280}.

from functools import lru_cache


@lru_cache(maxsize=1)
def _inception_specs() -> tuple:
    """(name, kh, kw, cin, cout) per conv, forward order.  Pure + cached
    (no mutable module global: concurrent first calls are safe)."""
    specs: list[tuple[str, int, int, int, int]] = []

    def _ispec(name: str, kh: int, kw: int, cin: int, cout: int) -> None:
        specs.append((name, kh, kw, cin, cout))

    _ispec("stem1", 3, 3, 3, 32)
    _ispec("stem2", 3, 3, 32, 32)
    _ispec("stem3", 3, 3, 32, 64)
    _ispec("stem4", 1, 1, 64, 80)
    _ispec("stem5", 3, 3, 80, 192)
    cin = 192
    for m, pool_c in ((0, 32), (1, 64), (2, 64)):  # 35x35 modules
        _ispec(f"m{m}_1x1", 1, 1, cin, 64)
        _ispec(f"m{m}_5x5a", 1, 1, cin, 48)
        _ispec(f"m{m}_5x5b", 5, 5, 48, 64)
        _ispec(f"m{m}_dbla", 1, 1, cin, 64)
        _ispec(f"m{m}_dblb", 3, 3, 64, 96)
        _ispec(f"m{m}_dblc", 3, 3, 96, 96)
        _ispec(f"m{m}_pool", 1, 1, cin, pool_c)
        cin = 64 + 64 + 96 + pool_c
    _ispec("m3_3x3", 3, 3, cin, 384)  # reduction to 17x17
    _ispec("m3_dbla", 1, 1, cin, 64)
    _ispec("m3_dblb", 3, 3, 64, 96)
    _ispec("m3_dblc", 3, 3, 96, 96)
    cin = 384 + 96 + cin  # 768
    for m, f in ((4, 128), (5, 160), (6, 160), (7, 192)):  # 17x17 modules
        _ispec(f"m{m}_1x1", 1, 1, cin, 192)
        _ispec(f"m{m}_7a", 1, 1, cin, f)
        _ispec(f"m{m}_7b", 1, 7, f, f)
        _ispec(f"m{m}_7c", 7, 1, f, 192)
        _ispec(f"m{m}_d7a", 1, 1, cin, f)
        _ispec(f"m{m}_d7b", 7, 1, f, f)
        _ispec(f"m{m}_d7c", 1, 7, f, f)
        _ispec(f"m{m}_d7d", 7, 1, f, f)
        _ispec(f"m{m}_d7e", 1, 7, f, 192)
        _ispec(f"m{m}_pool", 1, 1, cin, 192)
    _ispec("m8_3a", 1, 1, 768, 192)  # reduction to 8x8
    _ispec("m8_3b", 3, 3, 192, 320)
    _ispec("m8_7a", 1, 1, 768, 192)
    _ispec("m8_7b", 1, 7, 192, 192)
    _ispec("m8_7c", 7, 1, 192, 192)
    _ispec("m8_7d", 3, 3, 192, 192)
    cin = 320 + 192 + 768  # 1280
    for m in (9, 10):  # 8x8 modules
        _ispec(f"m{m}_1x1", 1, 1, cin, 320)
        _ispec(f"m{m}_3a", 1, 1, cin, 384)
        _ispec(f"m{m}_3b1", 1, 3, 384, 384)
        _ispec(f"m{m}_3b2", 3, 1, 384, 384)
        _ispec(f"m{m}_da", 1, 1, cin, 448)
        _ispec(f"m{m}_db", 3, 3, 448, 384)
        _ispec(f"m{m}_dc1", 1, 3, 384, 384)
        _ispec(f"m{m}_dc2", 3, 1, 384, 384)
        _ispec(f"m{m}_pool", 1, 1, cin, 192)
        cin = 320 + 768 + 768 + 192  # 2048
    return tuple(specs)


# which convs each depth needs: d4 stops at mixed8, d2/d3 at mixed9
def _inception_needed(depth: int, name: str) -> bool:
    if depth == 4:
        return not name.startswith(("m9_", "m10_"))
    if depth in (2, 3):
        return not name.startswith("m10_")
    return True


def inceptionv3_weights(seed: int = 0, depth: int = 1) -> dict[str, np.ndarray]:
    """Deterministic He-normal biasless kernels + damped fused-BN
    affines (see xception note on conditioning), depth-pruned."""
    weights: dict[str, np.ndarray] = {}
    for i, (name, kh, kw, cin, cout) in enumerate(_inception_specs()):
        if not _inception_needed(depth, name):
            continue
        rng = np.random.default_rng([seed, 900 + i])
        std = np.sqrt(2.0 / (kh * kw * cin))
        weights[f"{name}/kernel"] = rng.normal(0.0, std, (kh, kw, cin, cout)).astype(
            np.float32
        )
        weights[f"{name}/bn_scale"] = np.abs(rng.normal(0.6, 0.05, cout)).astype(
            np.float32
        )
        weights[f"{name}/bn_shift"] = rng.normal(0.0, 0.05, cout).astype(np.float32)
    return weights


def _icbn(
    x: np.ndarray, w: dict[str, np.ndarray], name: str,
    stride: int = 1, padding: str = "same",
) -> np.ndarray:
    x = conv2d(x, w[f"{name}/kernel"], stride=stride, padding=padding)
    x *= w[f"{name}/bn_scale"]
    x += w[f"{name}/bn_shift"]
    return relu(x)


def inceptionv3_features(
    x: np.ndarray, weights: dict[str, np.ndarray], depth: int = 1
) -> np.ndarray:
    """Decapitated InceptionV3 forward: (N, 299, 299, 3) tf-mode float32
    -> (N, width) post-GAP per the section comment's cut points."""
    if depth not in (1, 2, 3, 4):
        raise ValueError("depth must be in 1..4")
    from pic2vec_spark.nn import avgpool2d_same

    w = weights
    x = x.astype(np.float32, copy=False)
    x = _icbn(x, w, "stem1", stride=2, padding="valid")
    x = _icbn(x, w, "stem2", padding="valid")
    x = _icbn(x, w, "stem3")
    x = maxpool2d(x, pool=3, stride=2)
    x = _icbn(x, w, "stem4", padding="valid")
    x = _icbn(x, w, "stem5", padding="valid")
    x = maxpool2d(x, pool=3, stride=2)
    for m in (0, 1, 2):  # 35x35
        b1 = _icbn(x, w, f"m{m}_1x1")
        b5 = _icbn(_icbn(x, w, f"m{m}_5x5a"), w, f"m{m}_5x5b")
        bd = _icbn(_icbn(_icbn(x, w, f"m{m}_dbla"), w, f"m{m}_dblb"), w, f"m{m}_dblc")
        bp = _icbn(avgpool2d_same(x), w, f"m{m}_pool")
        x = np.concatenate([b1, b5, bd, bp], axis=-1)
    b3 = _icbn(x, w, "m3_3x3", stride=2, padding="valid")
    bd = _icbn(_icbn(x, w, "m3_dbla"), w, "m3_dblb")
    bd = _icbn(bd, w, "m3_dblc", stride=2, padding="valid")
    bp = maxpool2d(x, pool=3, stride=2)
    x = np.concatenate([b3, bd, bp], axis=-1)  # 17x17x768
    for m in (4, 5, 6, 7):
        b1 = _icbn(x, w, f"m{m}_1x1")
        b7 = _icbn(_icbn(_icbn(x, w, f"m{m}_7a"), w, f"m{m}_7b"), w, f"m{m}_7c")
        bd = x
        for suf in ("d7a", "d7b", "d7c", "d7d", "d7e"):
            bd = _icbn(bd, w, f"m{m}_{suf}")
        bp = _icbn(avgpool2d_same(x), w, f"m{m}_pool")
        x = np.concatenate([b1, b7, bd, bp], axis=-1)
    b3 = _icbn(_icbn(x, w, "m8_3a"), w, "m8_3b", stride=2, padding="valid")
    b7 = _icbn(_icbn(_icbn(x, w, "m8_7a"), w, "m8_7b"), w, "m8_7c")
    b7 = _icbn(b7, w, "m8_7d", stride=2, padding="valid")
    bp = maxpool2d(x, pool=3, stride=2)
    x = np.concatenate([b3, b7, bp], axis=-1)  # 8x8x1280 = mixed8
    if depth == 4:
        return global_avg_pool(avgpool2d_same(x))
    for m in (9, 10):
        b1 = _icbn(x, w, f"m{m}_1x1")
        b3a = _icbn(x, w, f"m{m}_3a")
        b3 = np.concatenate(
            [_icbn(b3a, w, f"m{m}_3b1"), _icbn(b3a, w, f"m{m}_3b2")], axis=-1
        )
        bda = _icbn(_icbn(x, w, f"m{m}_da"), w, f"m{m}_db")
        bd = np.concatenate(
            [_icbn(bda, w, f"m{m}_dc1"), _icbn(bda, w, f"m{m}_dc2")], axis=-1
        )
        bp = _icbn(avgpool2d_same(x), w, f"m{m}_pool")
        x = np.concatenate([b1, b3, bd, bp], axis=-1)
        if m == 9:
            if depth == 3:
                return global_avg_pool(x)  # mixed9
            if depth == 2:
                return global_avg_pool(avgpool2d_same(x))
    return global_avg_pool(x)  # mixed10 (d1)


# ------------------------------------------------------------ dispatch

def _seeded_weights(model: str, seed: int = 0, depth: int = 1) -> dict[str, np.ndarray]:
    if model == "squeezenet":
        return squeezenet_weights(seed)
    if model == "vgg16":
        return vgg16_weights(seed, depth)
    if model == "vgg19":
        return vgg19_weights(seed, depth)
    if model == "resnet50":
        return resnet50_weights(seed, depth)
    if model == "xception":
        return xception_weights(seed, depth)
    if model == "inceptionv3":
        return inceptionv3_weights(seed, depth)
    raise NotImplementedError(
        f"{model!r} has no from-scratch NumPy forward pass (the reference "
        "imports it from keras.applications, unavailable here); plan "
        "metadata still validates it"
    )


def save_weights_npz(weights: dict[str, np.ndarray], path: str) -> None:
    """Serialize a weights dict to a single .npz blob (keys preserved
    verbatim, incl. the 'layer/kernel' slash convention)."""
    np.savez(path, **weights)


def load_weights_npz(path: str, model: str, depth: int = 1) -> dict[str, np.ndarray]:
    """Pretrained-weights hook: load a converted weights blob and
    validate it layer-by-layer against the model's own layer spec (the
    seeded stand-in's keys and shapes), so the day a real ImageNet blob
    is converted (reference squeezenet.py:35-36 /
    build_featurizer.py:102-111 — the h5 is stripped from this checkout
    and unfetchable offline) it drops in and the engine produces true
    pic2vec-equal features with zero code changes.

    Every layer the decapitated forward needs must be present with the
    exact shape; extra keys (e.g. a full-model blob serving shallower
    depths too) are ignored.  Values are cast to float32 (the
    reference's inference dtype)."""
    ref = _seeded_weights(model, 0, depth)
    with np.load(path) as npz:
        missing = sorted(k for k in ref if k not in npz.files)
        if missing:
            raise ValueError(
                f"weights blob {path!r} is missing {len(missing)} layer "
                f"arrays for {model!r} depth {depth}: {missing[:5]}..."
            )
        out: dict[str, np.ndarray] = {}
        for k, want in ref.items():
            arr = np.asarray(npz[k], dtype=np.float32)
            if arr.shape != want.shape:
                raise ValueError(
                    f"weights blob {path!r}: layer {k!r} has shape "
                    f"{arr.shape}, expected {want.shape} for {model!r}"
                )
            out[k] = arr
    return out


def weights_source(model: str, depth: int = 1) -> str:
    """Which source ``model_weights`` resolves to IN THIS PROCESS:
    ``"npz:<path>"`` when a converted pretrained blob is installed under
    ``$PIC2VEC_SPARK_WEIGHTS_DIR``, else ``"seeded"``.  Resolution is
    per-process (env + filesystem), so driver and executors can disagree
    off local mode — featurize's no-broadcast path ships the driver's
    tag and executors verify against their own (featurize._get_weights)
    instead of silently computing features from a different weight set."""
    import os

    wdir = os.environ.get("PIC2VEC_SPARK_WEIGHTS_DIR")
    if wdir:
        p = os.path.join(wdir, f"{model}.npz")
        if os.path.exists(p):
            return f"npz:{p}"
    return "seeded"


def model_weights(model: str, seed: int = 0, depth: int = 1) -> dict[str, np.ndarray]:
    """Weights for a model's decapitated forward: a converted pretrained
    blob if one is installed (``$PIC2VEC_SPARK_WEIGHTS_DIR/<model>.npz``,
    shape-validated per layer), else the documented deterministic seeded
    stand-ins — every engine path (featurize broadcast, NumPy oracle)
    resolves weights through here, so installing a blob swaps ALL of
    them consistently (see ``weights_source`` for the cross-process
    consistency guard)."""
    src = weights_source(model, depth)
    if src.startswith("npz:"):
        return load_weights_npz(src[4:], model, depth)
    return _seeded_weights(model, seed, depth)


def model_forward(
    model: str, x: np.ndarray, weights: dict[str, np.ndarray], depth: int = 1
) -> np.ndarray:
    if model == "squeezenet":
        return squeezenet_features(x, weights, depth)
    if model == "vgg16":
        return vgg16_features(x, weights, depth)
    if model == "vgg19":
        return vgg19_features(x, weights, depth)
    if model == "resnet50":
        return resnet50_features(x, weights, depth)
    if model == "xception":
        return xception_features(x, weights, depth)
    if model == "inceptionv3":
        return inceptionv3_features(x, weights, depth)
    raise NotImplementedError(model)


def squeezenet_features(
    x: np.ndarray, weights: dict[str, np.ndarray], depth: int = 1
) -> np.ndarray:
    """Decapitated forward pass: (N, 227, 227, 3) preprocessed float32
    -> (N, width) post-GAP features (width per DEPTH_TO_LAST_FIRE).

    Images run one at a time through this thread's arena buffers, so a
    layer's working set is one image's and no layer allocates.  Bias and
    ReLU run after the 3x3/s2 maxpools that follow conv1, fire3 and
    fire5 (``_bias_relu``)."""
    if depth not in DEPTH_TO_LAST_FIRE:
        raise ValueError("depth must be in 1..4")
    last_fire = DEPTH_TO_LAST_FIRE[depth]
    x = x.astype(np.float32, copy=False)
    width = 2 * weights[f"fire{last_fire}/expand1x1/kernel"].shape[-1]
    feats = np.empty((len(x), width), np.float32)
    for i in range(len(x)):
        feats[i] = global_avg_pool(_squeezenet_one(x[i : i + 1], weights, last_fire))[0]
    return feats


def _bias_relu(x: np.ndarray, bias: np.ndarray, pool: str | None) -> np.ndarray:
    """Bias + ReLU in place, after a 3x3/s2 maxpool into the arena when
    ``pool`` names one.  Both commute with the max exactly (rounding is
    monotone, so max(x) + b is the largest of the rounded x + b), and
    the pooled map is 4x smaller."""
    if pool is not None:
        n, h, w, c = x.shape
        oh, ow = output_hw(h, w, 3, 3, 2, "valid")
        x = maxpool2d(x, out=scratch((pool,), (n, oh, ow, c)))
    return relu(np.add(x, bias, out=x))


def _squeezenet_one(
    x: np.ndarray, weights: dict[str, np.ndarray], last_fire: int
) -> np.ndarray:
    k = weights["conv1/kernel"]
    n, h, w, _ = x.shape
    oh, ow = output_hw(h, w, 3, 3, 2, "valid")
    x = conv2d(x, k, stride=2, out=scratch(("conv1",), (n, oh, ow, k.shape[-1])))
    x = _bias_relu(x, weights["conv1/bias"], pool="pool1")
    x = _fire(x, 2, weights)
    x = _fire(x, 3, weights, pool="pool3")
    x = _fire(x, 4, weights)
    x = _fire(x, 5, weights, pool="pool5")
    for fid in (6, 7, 8, 9):
        x = _fire(x, fid, weights)
        if fid == last_fire:
            break
    return x
