"""Media-span lane: burned-in-text redaction over binary payloads.

Reference semantics (/root/reference/deidcm/dicom/deid_mammogram.py):

* OCR detection       — get_text_areas :153-179 (easyOCR ``(box, text,
  conf)``; whole-image gate: first result's confidence must exceed 0.3);
* dictionary exemption — remove_authorized_words_from :182-205 (upper-cased
  membership in the authorized-words list);
* redaction           — hide_text :208-267 (skip empty/len≤1 words, corners
  0 and 2 of the quad, sign-aware ±300 px margin expansion, filled rectangle
  in black/white — tuple-aware for RGB — or 30× blur).

Spark-first re-design: the pixel payloads live OUT of the document rows (a
``media_payloads`` table keyed by ``media_ref``), so the document shuffle
stays slim and the pixel stage is an independent ``mapInPandas`` over
payload batches.  The gates and the margin geometry exist once, as Spark
SQL (:func:`_gated_rects`); :func:`redaction_plan` clamps those rects into
the oracle-checked fill plan and :func:`redact_media` paints them
with the numpy kernel :func:`redact_array`.  OCR is a pluggable backend
(:func:`ocr_detect`); the default box source is the ground-truth
``ocr_boxes`` table the corpus synthesizer embeds.

Plan shape (one shuffle, of the boxes only; nothing collected):

    ocr_boxes ──groupBy(media_ref): gates → rects──┐
    media_payloads ──left join(media_ref)──────────┴─▶ mapInPandas(paint) ─▶ sink

(the rects side is broadcast when Spark's size estimate allows it, and the
payload side is not shuffled).

Document rows are untouched: spans keep (kind, media_ref, order), satisfying
span-sequence equality; only the payload bytes behind ``media_ref`` change.
"""

from __future__ import annotations

import string
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from deidcm_spark.config import load_authorized_words
from deidcm_spark.schema import (  # shared spec — one source of truth
    MEDIA_H as MEDIA_DEFAULT_H,
    MEDIA_W as MEDIA_DEFAULT_W,
)

REDACT_MARGIN = 300


def redact_array(
    pixels: np.ndarray,
    rects: list[dict],
    color_value: str = "black",
    mode: str = "rectangle",
) -> np.ndarray:
    """numpy paint kernel for one image: fill or blur each gated rectangle.

    ``rects`` are :func:`_gated_rects` elements (``box_idx, xa, ya, xb, yb``,
    margin-expanded, corner-sorted, NOT clamped); every gate has already
    run in SQL.  Rects are painted in ``box_idx`` order (overlapping blurs
    compound) after clamping to the image; bounds are inclusive, like PIL's
    draw.rectangle.  ``blur`` mode applies :func:`pil_blur` ×30 — the exact
    ImageFilter.BLUR ring-kernel spec (unfiltered 2-px border) without PIL
    — except crops smaller than the 5×5 kernel, which PIL would refuse and
    which are mean-filled here so content is always destroyed.
    """
    out = pixels.copy()
    h, w = out.shape[0], out.shape[1]
    for r in sorted(rects, key=lambda r: r["box_idx"]):
        xa0, ya0, xb0, yb0 = (int(r[k]) for k in ("xa", "ya", "xb", "yb"))
        xa, xb = max(0, xa0), min(w - 1, xb0)
        ya, yb = max(0, ya0), min(h - 1, yb0)
        if xa > xb or ya > yb:
            continue
        if mode == "blur":
            # crop → ImageFilter.BLUR x30 → paste, exactly the reference's
            # hide_text blur path (:249-253); pil_blur reproduces the
            # public BLUR ring-kernel spec without PIL.  The crop is built
            # at the UNCLAMPED box size with zero padding where the box
            # extends past the frame — PIL.Image.crop pads out-of-image
            # area with 0, which is what puts BLUR's unfiltered 2-px
            # border in the padding: without it a box clamped to the
            # image edge left rows/cols 0-1 (and w-1/w-2) UNBLURRED —
            # boundary PHI pixels survived verbatim.  A crop smaller than
            # the 5x5 kernel cannot be blurred (PIL raises; the kernel
            # passes through) — the PHI contract is DESTRUCTION, so such
            # slivers are mean-filled instead of silently kept.
            inner = out[ya : yb + 1, xa : xb + 1]
            bh, bw = yb0 - ya0 + 1, xb0 - xa0 + 1
            if bh < 5 or bw < 5:
                out[ya : yb + 1, xa : xb + 1] = np.floor(
                    inner.mean() + 0.5
                ).astype(out.dtype)
            else:
                crop = np.zeros((bh, bw) + out.shape[2:], dtype=out.dtype)
                crop[ya - ya0 : yb - ya0 + 1, xa - xa0 : xb - xa0 + 1] = inner
                blurred = pil_blur(crop, iterations=30)
                out[ya : yb + 1, xa : xb + 1] = blurred[
                    ya - ya0 : yb - ya0 + 1, xa - xa0 : xb - xa0 + 1
                ]
        else:
            out[ya : yb + 1, xa : xb + 1] = 255 if color_value == "white" else 0
    return out


# PIL ImageFilter.BLUR is a PUBLIC fixed BuiltinFilter spec: 5x5 kernel of
# ones on the ring (Chebyshev distance 2), zeros inside, scale 16, offset 0;
# pixels where the kernel does not fit (a 2-px border) pass through
# unfiltered.  Reproducing that spec exactly (instead of an iterated box
# blur) gives the reference's hide_text blur (deid_mammogram.py:249-253,
# cut.filter(ImageFilter.BLUR) x30) its real semantics without PIL.
_RING_OFFSETS = [
    (dy, dx)
    for dy in range(-2, 3)
    for dx in range(-2, 3)
    if max(abs(dy), abs(dx)) == 2
]


def pil_blur(pixels: np.ndarray, iterations: int = 1) -> np.ndarray:
    """ImageFilter.BLUR parity: ring-kernel convolution on the interior
    (sum of the 16 ring neighbors / 16, rounded half-up, clipped to the
    dtype range), border copied through — applied ``iterations`` times.

    Images smaller than 5x5 have no interior and pass through unchanged
    (PIL raises there) — callers whose CONTRACT is content destruction
    (redact_array blur mode) must guard that case themselves; the kernel
    stays faithful to the filter spec."""
    out = pixels.copy()
    h, w = out.shape[0], out.shape[1]
    if h < 5 or w < 5:
        return out
    if np.issubdtype(out.dtype, np.integer):
        info = np.iinfo(out.dtype)
        lo, hi = info.min, info.max
    else:
        lo, hi = -np.inf, np.inf
    for _ in range(iterations):
        acc = np.zeros_like(out[2:-2, 2:-2], dtype=np.float64)
        for dy, dx in _RING_OFFSETS:
            acc += out[2 + dy : h - 2 + dy, 2 + dx : w - 2 + dx]
        nxt = out.copy()
        nxt[2:-2, 2:-2] = np.clip(np.floor(acc / 16.0 + 0.5), lo, hi).astype(out.dtype)
        out = nxt
    return out


def _lanczos3(x: np.ndarray) -> np.ndarray:
    """Lanczos kernel, a=3 (the LANCZOS resample filter's windowed sinc)."""
    out = np.sinc(x) * np.sinc(x / 3.0)
    out[np.abs(x) >= 3.0] = 0.0
    return out


def _lanczos_axis_weights(src: int, dst: int) -> list[tuple[int, np.ndarray]]:
    """Per-output-pixel (window start, normalized weights) following the
    published resample algorithm PIL uses: scale = src/dst,
    filterscale = max(scale, 1), support = 3 * filterscale,
    center = (i + 0.5) * scale, window = [center - support + 0.5,
    center + support + 0.5), weights = lanczos((k - center + 0.5)/filterscale)
    normalized to sum 1."""
    scale = src / dst
    fscale = max(scale, 1.0)
    support = 3.0 * fscale
    rows = []
    for i in range(dst):
        center = (i + 0.5) * scale
        xmin = max(0, int(center - support + 0.5))
        xmax = min(src, int(center + support + 0.5))
        k = np.arange(xmin, xmax, dtype=np.float64)
        w = _lanczos3((k - center + 0.5) / fscale)
        s = w.sum()
        rows.append((xmin, w / s if s != 0 else w))
    return rows


def resize_lanczos(pixels: np.ndarray, factor: int) -> np.ndarray:
    """LANCZOS downsample to (round(h/f), round(w/f)) — the
    reduce_PIL_img_size analogue (utils.py:86-93, thumbnail + LANCZOS)
    implemented as the separable windowed-sinc resample PIL's LANCZOS
    performs, in float64 (PIL quantizes coefficients to 8-bit fixed point
    — differences are ≤1 LSB; thumbnail's reducing_gap pre-step is not
    emulated)."""
    h, w = pixels.shape[0], pixels.shape[1]
    dh, dw = max(1, round(h / factor)), max(1, round(w / factor))
    arr = pixels.astype(np.float64)
    # horizontal pass
    cols = _lanczos_axis_weights(w, dw)
    tmp = np.stack(
        [
            np.tensordot(arr[:, x0 : x0 + len(wts)], wts, axes=([1], [0]))
            for x0, wts in cols
        ],
        axis=1,
    )
    # vertical pass
    rows = _lanczos_axis_weights(h, dh)
    out = np.stack(
        [
            np.tensordot(tmp[y0 : y0 + len(wts)], wts, axes=([0], [0]))
            for y0, wts in rows
        ],
        axis=0,
    )
    if np.issubdtype(pixels.dtype, np.integer):
        info = np.iinfo(pixels.dtype)
        return np.clip(np.floor(out + 0.5), info.min, info.max).astype(pixels.dtype)
    return out.astype(pixels.dtype)


def lut_window_level(data: np.ndarray, window: int, level: int) -> np.ndarray:
    """Piecewise window/level LUT (get_LUT_value parity, deid_mammogram.py:83-90):
    values below the window → 0, above → 255, inside → linear ramp."""
    d = data.astype(np.float64)
    lo = level - 0.5 - (window - 1) / 2
    hi = level - 0.5 + (window - 1) / 2
    out = ((d - (level - 0.5)) / (window - 1) + 0.5) * 255.0
    out[d <= lo] = 0.0
    out[d > hi] = 255.0
    return out


def apply_modality_lut_linear(data: np.ndarray, slope: float, intercept: float) -> np.ndarray:
    """Linear modality LUT (pydicom apply_modality_lut with RescaleSlope /
    RescaleIntercept — the CT branch of dicom2narray, dicom2png.py:28-31)."""
    return data.astype(np.float64) * float(slope) + float(intercept)


def apply_voi_lut_linear(
    data: np.ndarray, center: float, width: float, y_max: float = 255.0
) -> np.ndarray:
    """LINEAR VOI LUT from (WindowCenter, WindowWidth) metadata — the
    piecewise ramp pydicom's apply_voi_lut computes (dicom2png.py:24-33):
    below the window → 0, above → y_max, inside → linear ramp.  A window
    width ≤ 1 is the DICOM threshold degenerate (the ramp denominator
    w−1 would divide by zero): every value ≤ center−0.5 maps to 0, the
    rest to y_max."""
    c, w = float(center), float(width)
    d = data.astype(np.float64)
    if w <= 1:
        return np.where(d <= c - 0.5, 0.0, y_max)
    out = ((d - (c - 0.5)) / (w - 1) + 0.5) * y_max
    out[d <= c - 0.5 - (w - 1) / 2] = 0.0
    out[d > c - 0.5 + (w - 1) / 2] = y_max
    return out


def dicom_decode_normalize(
    arr: np.ndarray,
    modality: str | None = None,
    rescale_slope: float = 1.0,
    rescale_intercept: float = 0.0,
    voi_center: float | None = None,
    voi_width: float | None = None,
    monochrome1: bool = False,
    voi_lut: bool = False,
) -> np.ndarray:
    """Full dicom2narray parity (dicom2png.py:15-51): optional VOI-LUT
    branch (CT applies the modality rescale first), MONOCHROME1 inversion,
    then min-max normalize to uint8."""
    data = arr.astype(np.float64)
    if voi_lut and voi_center is not None and voi_width is not None:
        if modality == "CT":
            data = apply_modality_lut_linear(data, rescale_slope, rescale_intercept)
        data = apply_voi_lut_linear(data, voi_center, voi_width)
    return normalize_to_uint8(data, monochrome1)


def normalize_to_uint8(pixels: np.ndarray, monochrome1: bool = False) -> np.ndarray:
    """dicom2narray parity (dicom2png.py:15-51): optional MONOCHROME1
    inversion (max - x), then min-max normalize to uint8."""
    arr = pixels.astype(np.float64)
    if monochrome1:
        arr = arr.max() - arr
    arr = arr - arr.min()
    mx = arr.max()
    if mx > 0:
        arr = arr / mx
    return (arr * 255).astype(np.uint8)


def pil_image_mode(bits: int, samples: int, has_window: bool) -> str:
    """get_PIL_image's mode-dispatch table (deid_mammogram.py:93-141)
    without PIL: window metadata present → 8-bit LUT output (PIL's
    ``convert('L')`` after get_LUT_value); otherwise (BitsAllocated,
    SamplesPerPixel) selects the raw-buffer mode, and the unknown
    combination raises the reference's TypeError."""
    if has_window:
        return "L"
    if bits == 8 and samples == 1:
        return "L"
    if bits == 8 and samples == 3:
        return "RGB"
    if 8 < bits <= 16:  # 2-byte samples: BitsStored 12 rides BitsAllocated 16
        return "I;16"
    raise TypeError(
        "Don't know PIL mode for %d BitsAllocated and %d SamplesPerPixel"
        % (bits, samples))


def frame_from_buffer(mode: str, raw: bytes, width: int, height: int) -> np.ndarray:
    """``Image.frombuffer(mode, (w, h), PixelData, "raw", mode, 0, 1)``
    parity (deid_mammogram.py:130-131) as a numpy view: L → uint8 (h, w),
    RGB → uint8 (h, w, 3), I;16 → little-endian uint16 (h, w)."""
    if mode == "L":
        return np.frombuffer(raw, dtype=np.uint8).reshape(height, width)
    if mode == "RGB":
        return np.frombuffer(raw, dtype=np.uint8).reshape(height, width, 3)
    if mode == "I;16":
        return np.frombuffer(raw, dtype="<u2").reshape(height, width)
    raise TypeError(f"unsupported raw mode {mode!r}")


def decode_frame(
    raw: bytes,
    width: int,
    height: int,
    bits: int = 8,
    samples: int = 1,
    window: int | None = None,
    level: int | None = None,
) -> np.ndarray:
    """The full get_PIL_image decode branch: with window/level metadata the
    frame goes through the 256-value LUT (8-bit out, mode L); without it the
    raw buffer is reinterpreted per the mode table."""
    has_window = window is not None and level is not None
    mode = pil_image_mode(bits, samples, has_window)
    if has_window:
        raw_mode = "I;16" if bits > 8 else ("RGB" if samples == 3 else "L")
        src = frame_from_buffer(raw_mode, raw, width, height)
        out = lut_window_level(src, window, level)
        if out.ndim == 3:
            # PIL convert('L') after the LUT: ITU-R 601-2 luma transform
            out = out @ np.array([299, 587, 114]) / 1000
        # the reference's Image.fromarray(...).convert('L') truncates to uint8
        return out.astype(np.uint8)
    return frame_from_buffer(mode, raw, width, height)


def resize_area(pixels: np.ndarray, factor: int) -> np.ndarray:
    """Integer-factor area downsample (reduce_PIL_img_size analogue,
    utils.py:86-93 — PIL LANCZOS thumbnail replaced by block mean; PIL is
    not in this container, contract = smaller image, content preserved)."""
    h, w = pixels.shape[0] - pixels.shape[0] % factor, pixels.shape[1] - pixels.shape[1] % factor
    crop = pixels[:h, :w].astype(np.float64)
    if crop.ndim == 2:
        blocks = crop.reshape(h // factor, factor, w // factor, factor)
        return blocks.mean(axis=(1, 3)).astype(pixels.dtype)
    c = crop.shape[2]
    blocks = crop.reshape(h // factor, factor, w // factor, factor, c)
    return blocks.mean(axis=(1, 3)).astype(pixels.dtype)


_PAYLOAD_COLS = ["media_ref", "width", "height", "channels", "bits", "pixels"]


def transform_media(
    payloads: DataFrame,
    normalize: bool = True,
    monochrome1: bool = False,
    window: int | None = None,
    level: int | None = None,
    resize_factor: int | None = None,
    voi_lut: bool = False,
    resize_method: str = "area",
) -> DataFrame:
    """Pixel-transform stage (decode → LUT/normalize → resize → re-encode),
    one mapInPandas over payload batches — the M5/M6 composition shape.

    ``voi_lut=True`` mirrors dicom2narray(voi_lut=True): per-row VOI window
    metadata (optional columns ``voi_center``/``voi_width``, plus
    ``modality``/``rescale_slope``/``rescale_intercept`` for the CT branch)
    drives the piecewise ramp before normalization; rows without metadata
    fall back to plain normalize.  Metadata columns are consumed — the
    output schema is always the 6-column payload shape."""
    from pyspark.sql.types import StructType

    schema = StructType([payloads.schema[c] for c in _PAYLOAD_COLS])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # zip over column arrays (the redact_media idiom) — pdf.iterrows()
        # builds a Series per row, pure overhead next to the pixel work
        for pdf in batches:
            out_rows = []
            n = len(pdf)
            cols = [pdf[c].to_numpy() for c in _PAYLOAD_COLS]
            voi = None
            if voi_lut and "voi_center" in pdf.columns:
                voi = [
                    pdf[c].to_numpy() if c in pdf.columns else [None] * n
                    for c in ("voi_center", "voi_width", "modality",
                              "rescale_slope", "rescale_intercept")
                ]
            for i, (ref, w, h, ch, bits, pixels) in enumerate(
                zip(cols[0], cols[1], cols[2], cols[3], cols[4], cols[5])
            ):
                arr = decode_payload(
                    {"pixels": pixels, "width": w, "height": h,
                     "channels": ch, "bits": bits}
                )
                # pandas surfaces NULL floats as NaN, not None; BOTH window
                # params must be present or the row falls back to plain
                # normalize (a NaN width would poison the whole image)
                def _ok(v):
                    return v is not None and v == v

                has_voi = voi is not None and _ok(voi[0][i]) and _ok(voi[1][i])
                if has_voi:
                    def _num(v, default):
                        return default if v is None or v != v else float(v)

                    arr = dicom_decode_normalize(
                        arr,
                        modality=voi[2][i],
                        rescale_slope=_num(voi[3][i], 1.0),
                        rescale_intercept=_num(voi[4][i], 0.0),
                        voi_center=voi[0][i],
                        voi_width=voi[1][i],
                        monochrome1=monochrome1,
                        voi_lut=True,
                    )
                elif window is not None and level is not None:
                    arr = lut_window_level(arr, window, level).astype(np.uint8)
                elif normalize:
                    arr = normalize_to_uint8(arr, monochrome1)
                if resize_factor and resize_factor > 1:
                    if resize_method == "lanczos":
                        arr = resize_lanczos(arr, resize_factor)
                    else:
                        arr = resize_area(arr, resize_factor)
                out_rows.append(
                    {
                        "media_ref": ref,
                        "width": arr.shape[1],
                        "height": arr.shape[0],
                        "channels": 1 if arr.ndim == 2 else arr.shape[2],
                        # derive from the ACTUAL dtype: normalize=False
                        # leaves >8-bit payloads as uint16 (keep their
                        # stored depth, e.g. 12), and a hard-coded bits=8
                        # would make decode_payload misread the buffer
                        "bits": int(bits) if arr.dtype.itemsize == 2 else 8,
                        "pixels": arr.tobytes(),
                    }
                )
            yield pd.DataFrame(out_rows, columns=_PAYLOAD_COLS)

    return payloads.mapInPandas(run, schema)


def decode_payload(row: dict | pd.Series) -> np.ndarray:
    """binary column + typed metadata → ndarray (S8 analogue, dicom2png.py:15-51).
    Repo-wide payload convention: ``bits > 8`` → 2-byte samples (12-bit
    JPEG-LL frames ride in uint16 storage, as in ``png.render_png``)."""
    dtype = np.uint16 if row["bits"] > 8 else np.uint8
    arr = np.frombuffer(row["pixels"], dtype=dtype)
    shape = (row["height"], row["width"]) if row["channels"] == 1 else (
        row["height"], row["width"], row["channels"])
    return arr.reshape(shape)


def _gated_rects(
    boxes: DataFrame, margin: int, authorized: frozenset[str] | None = None
) -> DataFrame:
    """The reference's redaction gates, once, as one Spark aggregate:
    ``(media_ref, rects)`` per image whose FIRST detection (smallest
    ``box_idx`` present — a pre-filtered box table need not start at 0) has
    confidence > 0.3 (deid_mammogram.py:171-179) and that keeps at least
    one rect.  A box becomes a rect unless its word is empty/len≤1 (:228)
    or authorized (upper-cased membership, :201); its corners grow by the
    sign-aware ±margin (:232-244) and are sorted into (xa, ya) ≤ (xb, yb).
    Rects are NOT clamped: blur pads the out-of-image part of its crop."""
    words = sorted(authorized if authorized is not None else load_authorized_words())
    x1, y1, x2, y2 = (F.col(c) for c in ("x1", "y1", "x2", "y2"))
    ex1 = F.when(x1 < x2, x1 - margin).otherwise(x1 + margin)
    ex2 = F.when(x1 < x2, x2 + margin).otherwise(x2 - margin)
    ey1 = F.when(y1 < y2, y1 - margin).otherwise(y1 + margin)
    ey2 = F.when(y1 < y2, y2 + margin).otherwise(y2 - margin)
    rect = F.struct(
        "box_idx",
        F.least(ex1, ex2).alias("xa"),
        F.least(ey1, ey2).alias("ya"),
        F.greatest(ex1, ex2).alias("xb"),
        F.greatest(ey1, ey2).alias("yb"),
    )
    word = F.col("word")
    # ASCII words (the usual case) upper-case through translate: Spark's
    # upper() maps case with ICU, whose first use in a process costs
    # ~1.5 s (measured in the first redact_media job, 4-core host)
    upper = F.when(
        F.length(word) == F.octet_length(word),
        F.translate(word, string.ascii_lowercase, string.ascii_uppercase),
    ).otherwise(F.upper(word))
    word_ok = (F.length(word) > 1) & ~upper.isin(words)
    return (
        boxes.groupBy("media_ref")
        .agg(
            F.min_by("confidence", "box_idx").alias("_first_conf"),
            F.collect_list(F.when(word_ok, rect)).alias("rects"),
        )
        .filter((F.col("_first_conf") > 0.3) & (F.size("rects") > 0))
        .select("media_ref", "rects")
    )


def redaction_plan(
    boxes: DataFrame,
    margin: int = REDACT_MARGIN,
    width: int = MEDIA_DEFAULT_W,
    height: int = MEDIA_DEFAULT_H,
    authorized: frozenset[str] | None = None,
    dims: DataFrame | None = None,
) -> DataFrame:
    """Fill rectangles ``(media_ref, box_idx, xa, ya, xb, yb)`` as pure
    Spark SQL: the :func:`_gated_rects` rects, one row each, clamped to the
    image and dropped when the clamp leaves nothing — exactly the pixels
    :func:`redact_media` fills.  The DuckDB twin in ``__spark_entry__``
    re-derives the same rows independently, so the gates are
    oracle-checked.

    Clamping: ``dims`` — a (media_ref, width, height) table (e.g. a
    projection of the payload table) — clamps each rectangle to ITS OWN
    image, as redact_array does on mixed-size corpora (real
    ``read_dcm_documents`` ingests vary in Rows/Columns).  Without it the
    static ``width``/``height`` arguments apply to every image — only
    correct for uniform corpora like the synthetic 96x96 one.
    """
    b = _gated_rects(boxes, margin, authorized).select(
        "media_ref", F.inline("rects")
    )
    if dims is not None:
        b = b.join(
            dims.select(
                "media_ref",
                (F.col("width") - 1).alias("_xmax"),
                (F.col("height") - 1).alias("_ymax"),
            ),
            "media_ref",
        )
        xmax, ymax = F.col("_xmax"), F.col("_ymax")
    else:
        xmax, ymax = F.lit(width - 1), F.lit(height - 1)
    planned = b.select(
        "media_ref",
        "box_idx",
        F.greatest(F.lit(0), "xa").alias("xa"),
        F.greatest(F.lit(0), "ya").alias("ya"),
        F.least(xmax, "xb").alias("xb"),
        F.least(ymax, "yb").alias("yb"),
    )
    return planned.filter((F.col("xa") <= F.col("xb")) & (F.col("ya") <= F.col("yb")))


def ocr_detect(payloads: DataFrame, backend_factory) -> DataFrame:
    """media_payloads → ocr_boxes via a pluggable easyOCR-shaped backend.

    ``backend_factory()`` constructs the reader ONCE per task, amortized
    over every Arrow batch and image the task sees — the reference builds
    an ``easyocr.Reader`` per image (deid_mammogram.py:169), a per-image
    model load that dominates at corpus scale and is exactly the
    anti-pattern this seam removes.  The reader must expose easyOCR's
    detection surface: ``reader.readtext(arr)`` returning
    ``[(quad, text, confidence), ...]`` where ``quad`` is the 4-point
    box; corners 0 and 2 become the stored diagonal, matching the
    reference's ``res[0][0]`` / ``res[0][2]`` (deid_mammogram.py:228-231).

    Output is the standard ``ocr_boxes`` shape, so the result feeds
    :func:`redaction_plan` / :func:`redact_media` unchanged — gates,
    exemption, margin and masking are backend-independent.  Plan: one
    zero-shuffle ``mapInPandas`` over payload batches.
    """
    out_cols = ["media_ref", "box_idx", "x1", "y1", "x2", "y2",
                "word", "confidence"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        reader = backend_factory()  # once per task, NOT per image
        for pdf in batches:
            rows = []
            cols = (pdf["media_ref"], pdf["pixels"], pdf["width"],
                    pdf["height"], pdf["channels"], pdf["bits"])
            for ref, pixels, w, h, ch, bits in zip(*[c.to_numpy() for c in cols]):
                arr = decode_payload(
                    {"pixels": pixels, "width": w, "height": h,
                     "channels": ch, "bits": bits}
                )
                for i, (quad, text, conf) in enumerate(reader.readtext(arr)):
                    x1, y1 = quad[0]
                    x2, y2 = quad[2]
                    rows.append(
                        {"media_ref": ref, "box_idx": i,
                         "x1": int(x1), "y1": int(y1),
                         "x2": int(x2), "y2": int(y2),
                         "word": str(text), "confidence": float(conf)}
                    )
            yield pd.DataFrame(rows, columns=out_cols)

    from deidcm_spark.schema import OCR_BOXES_SCHEMA

    return payloads.mapInPandas(run, OCR_BOXES_SCHEMA)


def redact_media(
    payloads: DataFrame,
    boxes: DataFrame,
    margin: int = REDACT_MARGIN,
    color_value: str = "black",
    mode: str = "rectangle",
) -> DataFrame:
    """media_payloads × ocr_boxes → redacted media_payloads (same schema).

    The gates run in SQL (:func:`_gated_rects`); the left join hands each
    payload its rects and the ``mapInPandas`` stage only paints them
    (:func:`redact_array`).  An image without rects — no detections
    (the reference returns the original pixels, :43), a low-confidence
    first box, or only exempt words — passes through undecoded.
    ``color_value`` is ``black``/``white``; ``mode`` is ``rectangle``/``blur``.
    """
    if mode not in ("rectangle", "blur"):
        raise ValueError(f"mode must be 'rectangle' or 'blur', got {mode!r}")
    if color_value not in ("black", "white"):
        raise ValueError(f"color_value must be 'black' or 'white', got {color_value!r}")
    joined = payloads.join(_gated_rects(boxes, margin), "media_ref", "left")
    schema = payloads.schema

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_pixels = []
            cols = (pdf["pixels"], pdf["width"], pdf["height"],
                    pdf["channels"], pdf["bits"], pdf["rects"])
            for pixels, w, h, ch, bits, rects in zip(*[c.to_numpy() for c in cols]):
                if rects is None:
                    out_pixels.append(pixels)
                    continue
                arr = decode_payload(
                    {"pixels": pixels, "width": w, "height": h, "channels": ch, "bits": bits}
                )
                out_pixels.append(redact_array(arr, rects, color_value, mode).tobytes())
            res = pdf[["media_ref", "width", "height", "channels", "bits"]].copy()
            res["pixels"] = out_pixels
            yield res

    return joined.mapInPandas(run, schema)
