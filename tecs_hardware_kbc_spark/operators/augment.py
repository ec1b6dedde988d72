"""Image augmentation transforms as pure column expressions.

The reference's connectors task trains its CNN under an augmentation
policy (hack/circular_connectors/augment_policy.py + transforms/ — flips,
rotations, crops, cutout, brightness/contrast, normalize, compose). Those
transforms are per-image pixel maps, which in Spark are best expressed as
JVM column expressions over a flat grayscale pixel array — no UDF, no
codec, whole-stage codegen, and every transform is replayable in ANSI SQL
(the ``media_augment`` driver entry hash-checks a composed policy against
DuckDB).

Image model: ``(width, height, pixels array<double>)``, row-major
grayscale in [0, 1] — the shape the tiered decoder's feature path
produces. Geometric transforms are index permutations (output pixel i
reads input ``src(i)``); photometric transforms are arithmetic maps.
At scale each transform is a narrow map over one column: no shuffle, no
Python, and Catalyst fuses a composed policy into one projection.

Determinism: the reference's policy samples magnitudes per image; here
parameters are explicit arguments (callers derive per-image parameters
from md5 bits when they want variety, as the corpus harness does) — same
math, reproducible plans.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
import pyspark.sql.functions as F

from tecs_hardware_kbc_spark.functions.columns import let


def _idx(w: Column, h: Column):
    """0-based output pixel indices [0, w*h)."""
    return F.sequence(F.lit(0), w * h - 1)


def _permute(pixels: Column, w: Column, h: Column, src,
             out_w: Column | None = None,
             out_h: Column | None = None) -> Column:
    """Output[i] = pixels[src(row, col)] — the geometric-transform kernel
    for ALWAYS-IN-RANGE mappings (flip/rotate90/crop/resize). ``src(r, c)``
    returns the 0-based SOURCE flat index for output (r, c); out-of-range
    mappings must go through ``_fetch2d`` instead (ANSI ``element_at``
    throws on bad indices). Output dims default to the input dims."""
    ow = out_w if out_w is not None else w
    oh = out_h if out_h is not None else h
    return let(pixels, lambda px: F.transform(
        _idx(ow, oh),
        lambda i: F.element_at(
            px, (src(F.floor(i / ow).cast("int"), i % ow) + 1).cast("int")
        ),
    ))


def flip_horizontal(pixels: Column, w: Column, h: Column) -> Column:
    """Mirror along the vertical axis (transforms/horizontal_filp.py)."""
    return _permute(pixels, w, h, lambda r, c: r * w + (w - 1 - c))


def flip_vertical(pixels: Column, w: Column, h: Column) -> Column:
    """Mirror along the horizontal axis (transforms/vertical_flip.py)."""
    return _permute(pixels, w, h, lambda r, c: (h - 1 - r) * w + c)


def rotate90(pixels: Column, w: Column, h: Column) -> Column:
    """90° clockwise: the output is h wide x w tall; output (r, c) reads
    input (h-1-c, r) (transforms/rotate.py's right-angle case). Callers
    must swap their width/height columns for downstream transforms."""
    # output row r = i // h, output col c = i % h (output width is h)
    return _permute(pixels, w, h,
                    lambda r, c: (h - 1 - c) * w + r,
                    out_w=h, out_h=w)


def crop(pixels: Column, w: Column, h: Column,
         x0: Column, y0: Column, cw: Column, ch: Column) -> Column:
    """Axis-aligned crop to a cw x ch window at (x0, y0)
    (transforms/random_crop.py with explicit offsets)."""
    return _permute(pixels, w, h,
                    lambda r, c: (y0 + r) * w + x0 + c,
                    out_w=cw, out_h=ch)


def cutout(pixels: Column, w: Column, h: Column,
           x0: Column, y0: Column, size: Column,
           fill: float = 0.0) -> Column:
    """Zero (or ``fill``) a size x size square at (x0, y0)
    (transforms/cutout.py)."""
    return let(pixels, lambda px: F.transform(
        _idx(w, h),
        lambda i: F.when(
            (F.floor(i / w) >= y0) & (F.floor(i / w) < y0 + size)
            & (i % w >= x0) & (i % w < x0 + size),
            F.lit(float(fill)),
        ).otherwise(F.element_at(px, (i + 1).cast("int"))),
    ))


def brightness(pixels: Column, factor: Column) -> Column:
    """Scale toward black: p * factor, clipped to [0, 1]
    (transforms/brightness.py)."""
    return F.transform(
        pixels, lambda p: F.least(F.greatest(p * factor, F.lit(0.0)),
                                  F.lit(1.0)))


def contrast(pixels: Column, factor: Column) -> Column:
    """Blend with the image mean: mean + factor * (p - mean), clipped
    (transforms/contrast.py). The mean is let-bound so it is computed once
    per image, not once per pixel."""
    mean = F.aggregate(pixels, F.lit(0.0), lambda a, p: a + p) \
        / F.size(pixels)
    return let(mean, lambda m: F.transform(
        pixels,
        lambda p: F.least(
            F.greatest(m + factor * (p - m), F.lit(0.0)), F.lit(1.0))))


def invert(pixels: Column) -> Column:
    """1 - p (transforms/invert.py)."""
    return F.transform(pixels, lambda p: F.lit(1.0) - p)


def normalize(pixels: Column, mean: float, std: float) -> Column:
    """(p - mean) / std (transforms/normalize.py) — NOT clipped, as the
    reference feeds the result straight to the model."""
    return F.transform(pixels, lambda p: (p - F.lit(mean)) / F.lit(std))


# --- affine / out-of-range geometric transforms -------------------------
#
# PIL's Image.AFFINE convention (the reference's ShearX/Y, TranslateX/Y:
# transforms/shear_x.py:21, translate_x.py:21): the 6-tuple maps OUTPUT
# coordinates to INPUT coordinates, nearest-neighbor, 0-fill outside the
# source. Nearest is taken as floor(x + 0.5) — explicit half-up so Spark
# and DuckDB replays agree bit-for-bit (DuckDB round() is half-up, Spark
# cast truncates; floor(x+0.5) sidesteps both).


def _fetch2d(px: Column, w: Column, h: Column, sr, sc,
             fill: float = 0.0) -> Column:
    """pixels[(sr, sc)] with out-of-range -> ``fill`` (ANSI element_at
    throws on bad indices, so the range guard is explicit)."""
    return F.when(
        (sr >= 0) & (sr < h) & (sc >= 0) & (sc < w),
        F.element_at(px, (sr * w + sc + 1).cast("int")),
    ).otherwise(F.lit(float(fill)))


def _affine(pixels: Column, w: Column, h: Column, sr, sc,
            fill: float = 0.0) -> Column:
    """Output (r, c) reads input (sr(r, c), sc(r, c)), 0-filled outside —
    the kernel for shear/translate/rotate. Input is let-bound (see let)."""
    return let(pixels, lambda px: F.transform(
        _idx(w, h),
        lambda i: _fetch2d(
            px, w, h,
            sr(F.floor(i / w).cast("int"), i % w),
            sc(F.floor(i / w).cast("int"), i % w), fill),
    ))


def _near(x) -> Column:
    """Nearest-neighbor source coordinate: floor(x + 0.5), as an int."""
    return F.floor(x + F.lit(0.5)).cast("int")


def shear_x(pixels: Column, w: Column, h: Column, d: Column) -> Column:
    """Horizontal shear: input col = c + d*r (PIL AFFINE (1, d, 0, 0, 1,
    0), transforms/shear_x.py:20-22; reference level range 0..0.3)."""
    return _affine(pixels, w, h,
                   lambda r, c: r, lambda r, c: _near(c + d * r))


def shear_y(pixels: Column, w: Column, h: Column, d: Column) -> Column:
    """Vertical shear: input row = r + d*c (PIL AFFINE (1, 0, 0, d, 1, 0),
    transforms/shear_y.py:20-22)."""
    return _affine(pixels, w, h,
                   lambda r, c: _near(r + d * c), lambda r, c: c)


def translate_x(pixels: Column, w: Column, h: Column, d: Column) -> Column:
    """Horizontal translate: input col = c + d — positive d shifts the
    image LEFT (PIL AFFINE (1, 0, d, ...), transforms/translate_x.py:20)."""
    return _affine(pixels, w, h,
                   lambda r, c: r, lambda r, c: _near(c + d))


def translate_y(pixels: Column, w: Column, h: Column, d: Column) -> Column:
    """Vertical translate: input row = r + d (transforms/translate_y.py)."""
    return _affine(pixels, w, h,
                   lambda r, c: _near(r + d), lambda r, c: c)


def rotate(pixels: Column, w: Column, h: Column,
           degrees: float) -> Column:
    """Arbitrary-angle rotation about the image center, nearest-neighbor,
    0-fill (transforms/rotate.py — PIL.rotate(angle), counterclockwise for
    positive angles; reference level range 0..30°).

    cos/sin are computed in PYTHON and embedded as double literals: libm
    trig is not guaranteed bit-identical across engines, but both Spark
    and DuckDB parse the same decimal literal to the same IEEE double, so
    the remaining mul/add/floor pipeline replays exactly."""
    th = math.radians(degrees)
    co, si = F.lit(math.cos(th)), F.lit(math.sin(th))
    cx, cy = (w - 1) / 2.0, (h - 1) / 2.0
    # inverse map: rotate output coords by -theta about the center
    return _affine(
        pixels, w, h,
        lambda r, c: _near(si * (c - cx) + co * (r - cy) + cy),
        lambda r, c: _near(co * (c - cx) - si * (r - cy) + cx))


def resize(pixels: Column, w: Column, h: Column,
           ow: Column, oh: Column) -> Column:
    """Nearest-neighbor resize to ow x oh (transforms/resize.py):
    output (r, c) reads input (floor((r+0.5)*h/oh), floor((c+0.5)*w/ow))."""
    return _permute(
        pixels, w, h,
        lambda r, c: (F.floor((r + 0.5) * h / oh).cast("int") * w
                      + F.floor((c + 0.5) * w / ow).cast("int")),
        out_w=ow, out_h=oh)


def resize_bilinear(pixels: Column, w: Column, h: Column,
                    ow: Column, oh: Column) -> Column:
    """Bilinear resize to ow x oh — the ``interpolation=2`` leg of the
    reference's Resize (transforms/resize.py:7-10 passes PIL BILINEAR).
    Standard align-corners=False sampling: source point for output (r, c)
    is ((c+0.5)*w/ow - 0.5, (r+0.5)*h/oh - 0.5), the 4 neighbors are
    edge-clamped and blended by the fractional offsets. (PIL's resampler
    adds box-filter support when DOWNscaling; this is the plain 4-tap
    form — documented divergence, same form torchvision/TF use.)"""
    def src(r, c):
        sy = (r + 0.5) * h / oh - 0.5
        sx = (c + 0.5) * w / ow - 0.5
        y0 = F.greatest(F.floor(sy).cast("int"), F.lit(0))
        x0 = F.greatest(F.floor(sx).cast("int"), F.lit(0))
        y1 = F.least(y0 + 1, h - 1)
        x1 = F.least(x0 + 1, w - 1)
        fy = F.greatest(F.least(sy - y0, F.lit(1.0)), F.lit(0.0))
        fx = F.greatest(F.least(sx - x0, F.lit(1.0)), F.lit(0.0))
        return y0, x0, y1, x1, fy, fx

    return let(pixels, lambda px: F.transform(
        _idx(ow, oh),
        lambda i: _bilerp(px, w,
                          *src(F.floor(i / ow).cast("int"), i % ow))))


def _bilerp(px, w, y0, x0, y1, x1, fy, fx) -> Column:
    def at(r, c):
        return F.element_at(px, (r * w + c + 1).cast("int"))
    top = at(y0, x0) * (1.0 - fx) + at(y0, x1) * fx
    bot = at(y1, x0) * (1.0 - fx) + at(y1, x1) * fx
    return top * (1.0 - fy) + bot * fy


def pad(pixels: Column, w: Column, h: Column, p: Column,
        mode: str = "constant", fill: float = 0.0) -> Column:
    """Pad ``p`` pixels on every side -> (w+2p) x (h+2p) (torchvision's
    RandomCrop padding step, transforms/random_crop.py:25-27). Modes:
    'constant' (fill) and 'reflect' (mirror WITHOUT repeating the edge:
    source index -1 -> 1, period 2n-2)."""
    if mode == "constant":
        return let(pixels, lambda px: F.transform(
            _idx(w + 2 * p, h + 2 * p),
            lambda i: _fetch2d(
                px, w, h,
                F.floor(i / (w + 2 * p)).cast("int") - p,
                (i % (w + 2 * p)) - p, fill)))
    if mode != "reflect":
        raise ValueError(f"unsupported padding mode {mode!r}")

    def refl(x, n):
        # period 2n-2 is 0 when n == 1 (pmod-by-zero -> NULL, or an ANSI
        # divide-by-zero): a 1-pixel dimension has only index 0 to mirror,
        # so short-circuit to 0 and keep the modulus positive regardless
        m = F.pmod(F.abs(x), F.greatest(2 * n - 2, F.lit(1)))
        return F.when(n <= 1, F.lit(0)) \
                .otherwise(F.when(m < n, m).otherwise(2 * n - 2 - m))

    return let(pixels, lambda px: F.transform(
        _idx(w + 2 * p, h + 2 * p),
        lambda i: F.element_at(
            px,
            (refl(F.floor(i / (w + 2 * p)).cast("int") - p, h) * w
             + refl((i % (w + 2 * p)) - p, w) + 1).cast("int"))))


# --- photometric transforms (8-bit-derived maps) ------------------------
#
# q-space: q = least(floor(p*256), 255) — for the md5-derived corpus
# pixels (b/256 exact binary fractions) this recovers b exactly, so the
# integer 8-bit semantics of the PIL ops replay without rounding drift.


def _q(p) -> Column:
    return F.least(F.floor(p * 256), F.lit(255)).cast("int")


def posterize(pixels: Column, bits: Column) -> Column:
    """Keep the top ``bits`` bits of the 8-bit value (ImageOps.posterize,
    transforms/posterize.py; reference level range 0..4 bits):
    floor(q / 2^(8-bits)) * 2^(8-bits) / 256."""
    step = F.pow(F.lit(2.0), (F.lit(8) - bits).cast("double"))
    return F.transform(
        pixels,
        lambda p: F.floor(_q(p) / step) * step / F.lit(256.0))


def solarize(pixels: Column, threshold: Column) -> Column:
    """Invert pixels at/above the threshold: p < t ? p : 1 - p — the
    float-space analog of ImageOps.solarize (transforms/solarize.py;
    reference maps level over (0, 256), i.e. t = level in [0, 1] here)."""
    return F.transform(
        pixels, lambda p: F.when(p < threshold, p).otherwise(F.lit(1.0) - p))


def auto_contrast(pixels: Column) -> Column:
    """Linear stretch to full range: (p - min)/(max - min), identity on
    constant images (ImageOps.autocontrast, transforms/auto_contrast.py).
    min/max are let-bound — computed once per image."""
    lohi = F.struct(F.array_min(pixels).alias("lo"),
                    F.array_max(pixels).alias("hi"))
    return let(lohi, lambda s: F.transform(
        pixels,
        lambda p: F.when(s["hi"] > s["lo"],
                         (p - s["lo"]) / (s["hi"] - s["lo"])).otherwise(p)))


def equalize(pixels: Column) -> Column:
    """Histogram equalization over the 256 q-space bins
    (ImageOps.equalize, transforms/equalize.py): out = (cdf(q) - cdfmin) /
    (n - cdfmin) where cdf(v) = #pixels with q <= v and cdfmin = cdf of
    the lowest occupied bin; constant images pass through.

    The 256-entry CDF array is built once per image — O(256n) — and
    let-bound, so the per-pixel lookup is an O(1) element_at. Equivalent
    per-pixel membership form (what the DuckDB oracle replays with a
    cumulative count window): out_i = (#{q_j <= q_i} - #{q_j = q_min}) /
    (n - #{q_j = q_min})."""
    cdf = F.transform(
        F.sequence(F.lit(0), F.lit(255)),
        lambda v: F.size(F.filter(pixels, lambda p: _q(p) <= v)))
    env = F.struct(cdf.alias("cdf"),
                   F.size(pixels).alias("n"),
                   _q(F.array_min(pixels)).alias("qmin"))
    return let(env, lambda e: F.transform(
        pixels,
        lambda p: F.when(
            e["n"] > F.element_at(e["cdf"], e["qmin"] + 1),
            (F.element_at(e["cdf"], _q(p) + 1)
             - F.element_at(e["cdf"], e["qmin"] + 1)).cast("double")
            / (e["n"] - F.element_at(e["cdf"], e["qmin"] + 1))
        ).otherwise(p)))


def sharpness(pixels: Column, w: Column, h: Column,
              factor: Column) -> Column:
    """Blend with a 3x3-smoothed version: smooth + factor*(p - smooth),
    clipped (ImageEnhance.Sharpness, transforms/sharpness.py; reference
    factor range 0.1..1.9). The smoothing kernel is PIL's SMOOTH
    (1 1 1 / 1 5 1 / 1 1 1, /13); border pixels pass through unfiltered,
    as PIL's enhancer leaves the 1-px border unprocessed."""
    from tecs_hardware_kbc_spark.operators.convolve import conv3x3
    k = [1.0, 1.0, 1.0, 1.0, 5.0, 1.0, 1.0, 1.0, 1.0]
    smooth = conv3x3(pixels, w, h, [x / 13.0 for x in k], border="copy")
    pair = F.zip_with(pixels, smooth,
                      lambda p, s: F.least(
                          F.greatest(s + factor * (p - s), F.lit(0.0)),
                          F.lit(1.0)))
    return pair


def color(pixels: Column, factor: Column) -> Column:
    """ImageEnhance.Color blends with the grayscale conversion
    (transforms/color.py) — on this engine's single-channel grayscale
    model that blend is exactly the identity, kept so policies written
    for the reference parse and run unchanged."""
    return F.transform(pixels, lambda p: p + F.lit(0.0) * factor)


def identity(pixels: Column) -> Column:
    """transforms/identity.py."""
    return pixels


def color_jitter(pixels: Column,
                 b_factor: Column | None = None,
                 c_factor: Column | None = None,
                 t_factor: Column | None = None) -> Column:
    """torchvision-style ColorJitter: compose brightness / contrast /
    saturation enhancements with explicit per-image factors — the
    consumer of the policy grammar's B/C/T settings
    (augment_policy.py:55-60 parses them; no reference transform accepts
    the kwargs, so they were dead grammar there — wired up here).
    torchvision shuffles the op order per call; the deterministic mandate
    fixes it to B -> C -> T."""
    out = pixels
    if b_factor is not None:
        out = brightness(out, b_factor)
    if c_factor is not None:
        out = contrast(out, c_factor)
    if t_factor is not None:
        out = color(out, t_factor)
    return out


def mixup(images, *, key_col: str = "img_id", label_col: str = "label",
          pixels_col: str = "pixels", alpha: float = 0.5,
          same_class_ratio: float = 0.0, buckets: int = 16):
    """Cross-row mixup (Zhang et al., ICLR 2018) — the operator behind
    the policy grammar's ``A<alpha>`` / ``R<same_class_ratio>`` settings
    (augment_policy.py:49-52 parses them; the reference ships no
    consuming transform). Mixup blends each image with a partner image
    and carries soft labels: ``mixed = lam*own + (1-lam)*partner``.

    It is cross-row, so it cannot be a column expression like the rest
    of this module — it is a DataFrame operator. Deterministic and
    SQL-replayable by construction:

    - pool coin: ``u_same = md5-uniform(key, 'mix:same') <=
      same_class_ratio`` puts the row in its label's same-class pool,
      else the global pool;
    - partner: the NEXT row (cyclically) in md5 order within the row's
      (pool, bucket) window partition — a ring pairing; every row draws
      exactly one partner, a singleton partition self-pairs (identity
      mix);
    - ``lam``: Kumaraswamy(alpha, alpha) inverse CDF of a per-key
      uniform — the closed-form surrogate for Beta(alpha, alpha)
      (Beta sampling needs rejection, which is not expressible as one
      deterministic replayable expression; Kumaraswamy shares support
      and shape family), rounded to 6 dp so the pow() replay is stable
      across engines.

    Scale: ONE shuffle (the window on (pool, bucket)); ``buckets``
    bounds every window partition, so there is no global sort and a
    dominant class cannot pile onto one task.

    Returns (key, label, partner_key, partner_label, lam, pixels) with
    soft label weights lam / 1-lam on label / partner_label."""
    from pyspark.sql.window import Window

    k = F.col(key_col).cast("string")
    inv_a = 1.0 / alpha
    lam = F.round(
        F.pow(F.lit(1.0) - F.pow(F.lit(1.0) - _hash_u(k, "mix:lam"),
                                 F.lit(inv_a)),
              F.lit(inv_a)), 6)
    pool = F.when(
        _hash_u(k, "mix:same") <= F.lit(float(same_class_ratio)),
        F.concat(F.lit("c:"), F.col(label_col).cast("string"))
    ).otherwise(F.lit("g"))
    bkt = (F.conv(F.substring(F.md5(F.concat(k, F.lit(":mix:bkt"))), 1, 4),
                  16, 10).cast("int") % buckets)
    tagged = images.select(
        F.col(key_col).alias("key"), F.col(label_col).alias("label"),
        F.col(pixels_col).alias("_px"), lam.alias("lam"),
        pool.alias("_pool"), bkt.alias("_bkt"),
        F.md5(F.concat(k, F.lit(":mix:ord"))).alias("_ord"))
    w = Window.partitionBy("_pool", "_bkt").orderBy("_ord")
    ps = F.struct(F.col("key").alias("key"), F.col("label").alias("label"),
                  F.col("_px").alias("px"))
    # lead's partition tail wraps to the partition head (default frame of
    # the ordered window starts at unbounded preceding, so first() is the
    # partition's first row)
    partner = F.coalesce(F.lead(ps, 1).over(w), F.first(ps).over(w))
    mixed = tagged.select(
        "key", "label", "lam", "_px", partner.alias("_partner"))
    # let-bind lam so a collapsed projection can't inline its md5/pow
    # tree into the per-element lambda (see let)
    env = F.struct(F.col("lam").alias("l"))
    pix = let(env, lambda e: F.zip_with(
        "_px", "_partner.px",
        lambda a, b: e["l"] * a + (F.lit(1.0) - e["l"]) * b))
    return mixed.select(
        "key", "label",
        F.col("_partner.key").alias("partner_key"),
        F.col("_partner.label").alias("partner_label"),
        "lam", pix.alias("pixels"))


# --- policy grammar -----------------------------------------------------


def _hash_u(seed: Column, tag: str) -> Column:
    """Deterministic per-image uniform in [0, 1): the first 4 md5 bytes of
    ``seed || ':' || tag`` over 2^32 — the cross-engine-stable hash
    primitive (DuckDB replay: ('0x'||substr(md5(..),1,8))::ubigint /
    4294967296.0)."""
    return (F.conv(F.substring(F.md5(F.concat(seed, F.lit(":" + tag))),
                               1, 8), 16, 10).cast("double")
            / F.lit(4294967296.0))


def parse_policy(policy: str, pixels: Column, w: Column, h: Column,
                 seed: Column | None = None) -> tuple[Column, Column, Column]:
    """Compile the reference's augmentation-policy grammar
    (augment_policy.py:19-52) into composed column expressions; returns
    ``(pixels, width, height)`` after the chain (dims change under
    RandomCrop/Resize).

    Grammar: transforms joined by ``@``; each is ``Name`` plus
    ``_``-separated settings — ``P<prob>``, ``L<level>``, ``MP<max_pixel>``
    (Cutout), ``MD<max_degree>`` (TranslateX/Y), ``S<size>`` /
    ``PD<padding>`` / ``PM<mode>`` (RandomCrop), ``I<interp>`` (Resize:
    0 nearest / 2 bilinear), ``B/C/T<val>`` (ColorJitter brightness /
    contrast / saturation — needs ``seed``). ``A<alpha>``/``R<ratio>``
    (mixup) raise with a pointer to the cross-row ``mixup`` DataFrame
    operator. E.g. ``"Cutout_MP20@Rotate"`` or
    ``"RandomCrop_P1_S224_PD20_PMreflect@HorizontalFlip_P0.5"``.

    Determinism (the reference samples at parse and apply time;
    augment.py's mandate is reproducible plans): unspecified level
    defaults to 0.5 and unspecified prob to 1.0; the apply-coin, the
    sign flip on Shear/Translate/Rotate, and Cutout / RandomCrop offsets
    are per-image md5 draws from ``seed`` when given (replayable in SQL
    via ``_hash_u``), else prob<1 raises, signs stay positive and offsets
    center. Magnitudes map level over each transform's reference
    value_range (utils.categorize_value)."""
    px, cw, ch = pixels, w, h
    for idx, spec in enumerate(policy.split("@")):
        toks = spec.split("_")
        name, settings = toks[0], toks[1:]
        prob, level = 1.0, 0.5
        max_pixel, max_degree = 20, 10
        size: int | None = None
        padding, pad_mode = 0, "constant"
        interp = 0
        jit_b = jit_c = jit_t = 0.0
        for s in settings:
            if s.startswith("PD"):
                padding = int(s[2:].split(",")[0])
            elif s.startswith("PIN") or s.startswith("PM"):
                if s.startswith("PM"):
                    pad_mode = s[2:]
            elif s.startswith("MP"):
                max_pixel = int(s[2:])
            elif s.startswith("MD"):
                max_degree = int(s[2:])
            elif s.startswith("P"):
                prob = float(s[1:])
            elif s.startswith("L"):
                level = float(s[1:])
            elif s.startswith("S"):
                size = int(s[1:].split(",")[0])
            elif s.startswith("A") or s.startswith("R"):
                # mixup settings (augment_policy.py:49-52) — mixup blends
                # ACROSS rows, which a single-column pixel expression
                # cannot express; the reference parses these but ships no
                # consuming transform. Direct callers to the DataFrame
                # operator instead of silently dropping the setting.
                raise ValueError(
                    f"{name}: mixup settings (A<alpha>/R<ratio>) are "
                    "cross-row — use operators.augment.mixup(df, ...) "
                    "on the image DataFrame")
            elif s.startswith("I"):
                interp = int(s[1:])
            elif s.startswith("B"):
                jit_b = float(s[1:])
            elif s.startswith("C"):
                jit_c = float(s[1:])
            elif s.startswith("T"):
                jit_t = float(s[1:])

        def coin(tag: str) -> Column:
            if seed is None:
                raise ValueError(
                    f"{name}: prob/offset sampling needs a seed column")
            return _hash_u(seed, f"{idx}:{name}:{tag}")

        def signed(mag: float) -> Column:
            if seed is None:
                return F.lit(mag)
            return F.when(coin("sign") > 0.5, F.lit(-mag)) \
                    .otherwise(F.lit(mag))

        def jitter_factor(tag: str, v: float) -> Column:
            # torchvision ColorJitter: factor ~ U[max(0, 1-v), 1+v],
            # drawn per image from the md5 stream
            lo = max(0.0, 1.0 - v)
            return F.lit(lo) + coin(tag) * F.lit((1.0 + v) - lo)

        ow, oh = cw, ch  # dims after this transform
        factor = 0.1 + level * 1.8  # the shared enhancer range
        if name == "AutoContrast":
            out = auto_contrast(px)
        elif name == "ColorJitter":
            out = color_jitter(
                px,
                b_factor=jitter_factor("jb", jit_b) if jit_b > 0 else None,
                c_factor=jitter_factor("jc", jit_c) if jit_c > 0 else None,
                t_factor=jitter_factor("jt", jit_t) if jit_t > 0 else None)
        elif name == "Brightness":
            out = brightness(px, F.lit(factor))
        elif name == "Color":
            out = color(px, F.lit(factor))
        elif name == "Contrast":
            out = contrast(px, F.lit(factor))
        elif name == "Cutout":
            deg = int(level * max_pixel)
            if seed is not None:
                x0 = F.greatest(F.lit(0),
                                F.floor(coin("x") * cw - deg / 2.0)) \
                      .cast("int")
                y0 = F.greatest(F.lit(0),
                                F.floor(coin("y") * ch - deg / 2.0)) \
                      .cast("int")
            else:
                x0 = F.floor((cw - deg) / 2).cast("int")
                y0 = F.floor((ch - deg) / 2).cast("int")
            out = cutout(px, cw, ch, x0, y0, F.lit(deg), fill=121 / 255.0)
        elif name == "Equalize":
            out = equalize(px)
        elif name == "HorizontalFlip":
            out = flip_horizontal(px, cw, ch)
        elif name == "VerticalFlip":
            out = flip_vertical(px, cw, ch)
        elif name == "Identity":
            out = px
        elif name == "Invert":
            out = invert(px)
        elif name == "Posterize":
            out = posterize(px, F.lit(int(level * 4)))
        elif name == "RandomCrop":
            if size is None:
                raise ValueError("RandomCrop needs an S<size> setting")
            if prob < 1.0:
                raise ValueError(
                    "probabilistic RandomCrop would make output dims "
                    "data-dependent")
            if padding:
                px = pad(px, cw, ch, F.lit(padding), mode=pad_mode)
                cw, ch = cw + 2 * padding, ch + 2 * padding
            if seed is not None:
                x0 = F.floor(coin("x") * (cw - size + 1)).cast("int")
                y0 = F.floor(coin("y") * (ch - size + 1)).cast("int")
            else:
                x0 = F.floor((cw - size) / 2).cast("int")
                y0 = F.floor((ch - size) / 2).cast("int")
            out = crop(px, cw, ch, x0, y0, F.lit(size), F.lit(size))
            ow, oh = F.lit(size), F.lit(size)
        elif name == "Resize":
            if size is None:
                raise ValueError("Resize needs an S<size> setting")
            if prob < 1.0:
                # same hazard RandomCrop guards against: the final prob
                # gate picks per-row between a size*size output and the
                # original-size input, while the returned dims are fixed
                # (size, size) — skipped rows would carry pixel arrays
                # disagreeing with the declared width/height
                raise ValueError(
                    "probabilistic Resize would make output dims "
                    "data-dependent")
            if interp == 0:
                out = resize(px, cw, ch, F.lit(size), F.lit(size))
            elif interp == 2:
                # PIL code 2 = BILINEAR, the reference Resize's default
                # (transforms/resize.py:7)
                out = resize_bilinear(px, cw, ch, F.lit(size), F.lit(size))
            else:
                raise ValueError(
                    f"Resize: unsupported interpolation I{interp} "
                    "(0 = nearest, 2 = bilinear)")
            ow, oh = F.lit(size), F.lit(size)
        elif name == "Rotate":
            deg = level * 30.0
            if seed is None:
                out = rotate(px, cw, ch, deg)
            else:
                out = F.when(coin("sign") > 0.5,
                             rotate(px, cw, ch, -deg)) \
                       .otherwise(rotate(px, cw, ch, deg))
        elif name == "Sharpness":
            out = sharpness(px, cw, ch, F.lit(factor))
        elif name == "ShearX":
            out = shear_x(px, cw, ch, signed(level * 0.3))
        elif name == "ShearY":
            out = shear_y(px, cw, ch, signed(level * 0.3))
        elif name == "Solarize":
            out = solarize(px, F.lit(level))
        elif name == "TranslateX":
            out = translate_x(px, cw, ch, signed(level * max_degree))
        elif name == "TranslateY":
            out = translate_y(px, cw, ch, signed(level * max_degree))
        else:
            raise ValueError(f"Unrecognized transformation {spec!r}")

        if prob < 1.0:
            out = F.when(coin("p") <= F.lit(prob), out).otherwise(px)
        px, cw, ch = out, ow, oh
    return px, cw, ch
