"""Media-lane tests: engine redaction (Spark mapInPandas) vs oracle, plus
the reference's gate semantics (confidence, dictionary, length, margins)."""

import numpy as np
import pytest

from deidcm_spark import corpus
from deidcm_spark.operators.media import (
    decode_payload,
    redact_array,
    redact_media,
    redaction_plan,
)
from deidcm_spark.oracle import redact_pixels_oracle
from deidcm_spark.schema import MEDIA_PAYLOADS_SCHEMA, OCR_BOXES_SCHEMA

SEED = 5
N_DOCS = 120
RATE = 0.5


@pytest.fixture(scope="module")
def media_tables(spark):
    payloads, boxes = corpus.synth_media(spark, N_DOCS, seed=SEED, media_rate=RATE)
    p = {r["media_ref"]: r.asDict() for r in payloads.collect()}
    b = {}
    for r in boxes.collect():
        b.setdefault(r["media_ref"], []).append(r.asDict())
    return p, b


def test_engine_matches_oracle_pixel_exact(spark, media_tables):
    p_in, b_in = media_tables
    payloads, boxes = corpus.synth_media(spark, N_DOCS, seed=SEED, media_rate=RATE)
    out = redact_media(payloads, boxes, margin=8)
    got = {r["media_ref"]: r.asDict() for r in out.collect()}
    assert set(got) == set(p_in)
    n_changed = 0
    for ref, row in p_in.items():
        arr_in = decode_payload(row)
        expected = redact_pixels_oracle(arr_in, b_in.get(ref, []), margin=8)
        actual = decode_payload(got[ref])
        assert np.array_equal(actual, expected), f"pixel mismatch for {ref}"
        if not np.array_equal(actual, arr_in):
            n_changed += 1
    assert n_changed > 0  # corpus must actually exercise redaction


def test_metadata_preserved(spark, media_tables):
    p_in, _ = media_tables
    payloads, boxes = corpus.synth_media(spark, N_DOCS, seed=SEED, media_rate=RATE)
    out = redact_media(payloads, boxes, margin=8)
    for r in out.collect():
        src = p_in[r["media_ref"]]
        assert (r["width"], r["height"], r["channels"], r["bits"]) == (
            src["width"], src["height"], src["channels"], src["bits"])
        assert len(r["pixels"]) == len(src["pixels"])


def _img(h=60, w=60):
    return np.full((h, w), 7, dtype=np.uint8)


def _box(i, x1, y1, x2, y2, word, conf=0.9):
    return {"box_idx": i, "x1": x1, "y1": y1, "x2": x2, "y2": y2,
            "word": word, "confidence": conf}


def test_low_confidence_first_box_gates_whole_image():
    img = _img()
    boxes = [_box(0, 5, 5, 15, 15, "SECRET", conf=0.2),
             _box(1, 30, 30, 40, 40, "NAME", conf=0.99)]
    out = redact_array(img, boxes, margin=2)
    assert np.array_equal(out, img)


def test_authorized_word_exempt_and_len1_skipped():
    img = _img()
    boxes = [_box(0, 2, 2, 10, 10, "HELLO"),   # authorized → exempt
             _box(1, 20, 20, 28, 28, "X"),     # len 1 → skipped
             _box(2, 40, 40, 50, 50, "BADWORD")]
    out = redact_array(img, boxes, margin=0)
    assert np.array_equal(out[2:11, 2:11], img[2:11, 2:11])
    assert np.array_equal(out[20:29, 20:29], img[20:29, 20:29])
    assert (out[40:51, 40:51] == 0).all()


def test_margin_expansion_and_clamping():
    img = _img()
    out = redact_array(img, [_box(0, 5, 5, 10, 10, "AB")], margin=7)
    # expanded to [-2..17] clamped to [0..17]
    assert (out[0:18, 0:18] == 0).all()
    assert (out[18:, :] == 7).all() and (out[:, 18:] == 7).all()


def test_reversed_corners_sign_aware():
    img = _img()
    # corners given bottom-right → top-left (x1 > x2): expansion flips signs
    out = redact_array(img, [_box(0, 10, 10, 5, 5, "AB")], margin=2)
    assert (out[3:13, 3:13] == 0).all()
    assert out[2, 2] == 7 and out[13, 13] == 7


def test_white_fill_and_rgb():
    img = np.full((20, 20, 3), 9, dtype=np.uint8)
    out = redact_array(img, [_box(0, 2, 2, 6, 6, "AB")], margin=0, color_value="white")
    assert (out[2:7, 2:7, :] == 255).all()
    assert (out[0, 0] == 9).all()


def test_blur_mode_destroys_content_keeps_shape():
    img = _img()
    img[10:20, 10:20] = 250  # high-contrast "text"
    out = redact_array(img, [_box(0, 8, 8, 22, 22, "TXT")], margin=0)
    blurred = redact_array(img, [_box(0, 8, 8, 22, 22, "TXT")], mode="blur", margin=0)
    assert blurred.shape == img.shape
    assert not np.array_equal(blurred[8:23, 8:23], img[8:23, 8:23])
    # rectangle mode paints flat; blur keeps a gradient (not flat zero)
    assert (out[8:23, 8:23] == 0).all()
    assert blurred[8:23, 8:23].max() > 0


def test_no_boxes_identity(spark):
    payloads, boxes = corpus.synth_media(spark, 40, seed=SEED, media_rate=RATE)
    empty = boxes.filter("media_ref = 'nonexistent'")
    out = {r["media_ref"]: r["pixels"] for r in redact_media(payloads, empty).collect()}
    src = {r["media_ref"]: r["pixels"] for r in payloads.collect()}
    assert out == src


def test_pil_image_mode_dispatch_table():
    """M6: get_PIL_image's mode table (deid_mammogram.py:108-125) —
    (8,1)→L, (8,3)→RGB, (16,*)→I;16, window present→L, unknown→TypeError.
    Payload bits 9-16 are 2-byte samples (BitsStored 12 rides
    BitsAllocated 16), so they take the reference's 16-bit row."""
    from deidcm_spark.operators.media import pil_image_mode

    assert pil_image_mode(8, 1, False) == "L"
    assert pil_image_mode(8, 3, False) == "RGB"
    assert pil_image_mode(16, 1, False) == "I;16"
    assert pil_image_mode(16, 3, False) == "I;16"
    assert pil_image_mode(12, 1, False) == "I;16"
    assert pil_image_mode(12, 1, True) == "L"  # LUT output is always 8-bit L
    import pytest as _pytest

    for bits, samples in ((8, 2), (32, 1), (4, 1)):
        with _pytest.raises(TypeError, match="Don't know PIL mode"):
            pil_image_mode(bits, samples, False)


def test_redact_media_12bit_payload(spark):
    """bits=12 payloads (BitsStored 12 in 2-byte samples, as parse_part10
    emits for 12-bit JPEG-LL) decode as uint16 and redact in place, the
    stored depth kept: uint8 would read twice the elements and fail the
    reshape."""
    import pandas as pd

    w, h = 24, 16
    vals = (np.arange(w * h, dtype=np.uint16) * 37 % 4096).reshape(h, w)
    row = {"media_ref": "m/12bit", "width": w, "height": h,
           "channels": 1, "bits": 12, "pixels": vals.tobytes()}
    got = decode_payload(row)
    assert got.dtype == np.uint16 and np.array_equal(got, vals)
    from deidcm_spark.operators.media import decode_frame, lut_window_level

    assert np.array_equal(decode_frame(vals.tobytes(), w, h, bits=12), vals)
    lut = decode_frame(vals.tobytes(), w, h, bits=12, window=2000, level=1500)
    assert np.array_equal(lut, lut_window_level(vals, 2000, 1500).astype(np.uint8))

    box = {"media_ref": "m/12bit", "box_idx": 0, "x1": 3, "y1": 2,
           "x2": 9, "y2": 6, "word": "SMITH", "confidence": 0.9}
    payloads = spark.createDataFrame(pd.DataFrame([row]), MEDIA_PAYLOADS_SCHEMA)
    boxes = spark.createDataFrame(pd.DataFrame([box]), OCR_BOXES_SCHEMA)
    (out,) = redact_media(payloads, boxes, margin=1).collect()
    assert out["bits"] == 12
    red = decode_payload(out.asDict())
    expected = redact_array(vals, [box], margin=1)
    assert red.dtype == np.uint16 and np.array_equal(red, expected)
    assert (red[1:8, 2:11] == 0).all() and red.sum() < vals.sum()


def test_decode_frame_modes_and_window():
    from deidcm_spark.operators.media import decode_frame, lut_window_level

    gray = np.arange(12, dtype=np.uint8).reshape(3, 4)
    assert np.array_equal(decode_frame(gray.tobytes(), 4, 3), gray)

    rgb = np.arange(24, dtype=np.uint8).reshape(2, 4, 3)
    assert np.array_equal(
        decode_frame(rgb.tobytes(), 4, 2, bits=8, samples=3), rgb)

    deep = (np.arange(12, dtype=np.uint16) * 4000).reshape(3, 4)
    got = decode_frame(deep.astype("<u2").tobytes(), 4, 3, bits=16)
    assert got.dtype == np.uint16 and np.array_equal(got, deep)

    # window/level metadata routes through the 256-value LUT (mode L)
    lut = decode_frame(deep.astype("<u2").tobytes(), 4, 3, bits=16,
                       window=20000, level=22000)
    assert np.array_equal(
        lut, lut_window_level(deep, 20000, 22000).astype(np.uint8))
    assert lut.dtype == np.uint8


def test_blur_destroys_boundary_pixels_when_box_clamps():
    """A box whose margin-expanded rectangle extends past the frame must
    blur the image-boundary pixels too: the crop is built at the
    unclamped size with zero padding (PIL.Image.crop semantics), so
    BLUR's unfiltered 2-px border lands in the padding, not on rows/cols
    0-1 where burned-in text used to survive verbatim."""
    img = np.full((40, 40), 30, dtype=np.uint8)
    img[0:8, 0:12] = 200  # burned-in text touching the corner
    out = redact_array(
        img, [_box(0, 0, 0, 11, 7, "TXT")], mode="blur", margin=300
    )
    # no pixel of the text block survives unchanged — including (0,0)
    assert not np.any(out[0:8, 0:12] == 200)
    assert out.shape == img.shape


def test_redaction_plan_per_image_dims(spark):
    """With a dims table the plan clamps each rectangle to ITS OWN image
    (redact_array parity on mixed-size corpora); the static width/height
    arguments only fit uniform corpora."""
    boxes = spark.createDataFrame(
        [("big", 0, 10, 10, 150, 150, 0.9, "SECRET"),
         ("small", 0, 10, 10, 150, 150, 0.9, "SECRET")],
        "media_ref string, box_idx int, x1 int, y1 int, x2 int, y2 int, "
        "confidence double, word string",
    )
    dims = spark.createDataFrame(
        [("big", 200, 180), ("small", 64, 48)],
        "media_ref string, width int, height int",
    )
    plan = {r["media_ref"]: r for r in redaction_plan(
        boxes, margin=0, dims=dims).collect()}
    assert (plan["big"]["xb"], plan["big"]["yb"]) == (150, 150)
    assert (plan["small"]["xb"], plan["small"]["yb"]) == (63, 47)
