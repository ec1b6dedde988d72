"""Fixed-kernel 2-D convolution as pure column expressions.

The reference's connectors branch learns conv features with a ResNet
(hack/circular_connectors/modules/, task.py:1-62). A trainable CNN is out
of scope for a codec-free Spark engine, but the *shape* of its first
layer — small fixed kernels convolved over the thumbnail, responses
pooled into translation-invariant statistics — is expressible as JVM
column expressions over the flat grayscale pixel model that augment.py
established: no UDF, whole-stage codegen, ANSI-safe, and every feature
map replays in ANSI SQL (the ``media_conv`` driver entry hash-checks the
maps against DuckDB index math).

At scale a conv feature is a narrow per-row map — O(9n) per image, no
shuffle — so featurizing 10^9 thumbnails is embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import Column
import pyspark.sql.functions as F

from tecs_hardware_kbc_spark.functions.columns import let
from tecs_hardware_kbc_spark.operators.augment import _fetch2d, _idx

# 3x3 kernel bank (row-major). Sobel-x/y respond to oriented edges —
# their IMBALANCE separates striped/elongated structure from isotropic
# blobs; the center-surround (discrete Laplacian x8) responds to rings
# and dots regardless of position.
SOBEL_X = [-1.0, 0.0, 1.0, -2.0, 0.0, 2.0, -1.0, 0.0, 1.0]
SOBEL_Y = [-1.0, -2.0, -1.0, 0.0, 0.0, 0.0, 1.0, 2.0, 1.0]
CENTER_SURROUND = [-1.0, -1.0, -1.0, -1.0, 8.0, -1.0, -1.0, -1.0, -1.0]


def conv3x3(pixels: Column, w: Column, h: Column, kernel: list[float],
            border: str = "copy") -> Column:
    """Convolve a row-major 3x3 ``kernel`` over the image. Border modes:
    'copy' passes border pixels through unfiltered (PIL's BuiltinFilter
    behavior, used by augment.sharpness), 'zero' treats out-of-range taps
    as 0 and filters everywhere. Zero-weight taps are elided from the
    expression; the input array is let-bound (evaluated once per row even
    when it is itself a composed transform)."""
    if len(kernel) != 9:
        raise ValueError("kernel must have 9 row-major entries")
    taps = [(dr, dc, kernel[(dr + 1) * 3 + (dc + 1)])
            for dr in (-1, 0, 1) for dc in (-1, 0, 1)
            if kernel[(dr + 1) * 3 + (dc + 1)] != 0.0]

    def out(px, i):
        r = F.floor(i / w).cast("int")
        c = i % w
        if border == "zero":
            acc = None
            for dr, dc, k in taps:
                term = F.lit(k) * _fetch2d(px, w, h, r + dr, c + dc)
                acc = term if acc is None else acc + term
            return acc if acc is not None else F.lit(0.0)
        if border != "copy":
            raise ValueError(f"unsupported border mode {border!r}")
        acc = None
        for dr, dc, k in taps:
            term = F.lit(k) * F.element_at(
                px, ((r + dr) * w + c + dc + 1).cast("int"))
            acc = term if acc is None else acc + term
        inner = acc if acc is not None else F.lit(0.0)
        return F.when(
            (r == 0) | (r == h - 1) | (c == 0) | (c == w - 1),
            F.element_at(px, (i + 1).cast("int"))).otherwise(inner)

    return let(pixels, lambda px: F.transform(_idx(w, h),
                                              lambda i: out(px, i)))


def mean_abs(resp: Column) -> Column:
    """Mean absolute response — the pooled, translation-invariant
    statistic of a feature map."""
    return (F.aggregate(resp, F.lit(0.0), lambda a, p: a + F.abs(p))
            / F.size(resp))


def conv_features(pixels: Column, w: Column, h: Column) -> list[Column]:
    """The fixed feature vector the connector classifier consumes:
    pooled |Sobel-x|, |Sobel-y| and |center-surround| responses
    (border='zero' so the pooled stats are not diluted by pass-through
    border pixels). Translation-invariant by construction — a shifted
    ring yields the same statistics."""
    return [
        mean_abs(conv3x3(pixels, w, h, SOBEL_X, border="zero")),
        mean_abs(conv3x3(pixels, w, h, SOBEL_Y, border="zero")),
        mean_abs(conv3x3(pixels, w, h, CENTER_SURROUND, border="zero")),
    ]
