"""Media-lane tests: engine redaction (Spark mapInPandas) vs oracle, plus
the reference's gate semantics (confidence, dictionary, length, margins)
driven through redact_media, and the paint kernel's fill/blur."""

import numpy as np
import pandas as pd
import pytest

from deidcm_spark import corpus
from deidcm_spark import duck_oracle as dk
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


def _sql_box_corpus(spark):
    """dk.boxes_sql's box corpus over doc_ids 0-499 (those of the sf0.001
    documents), with one 96x96 payload per image of its media universe
    (zero-box images too).  The box SQL reads only ``doc_id``."""
    spark.range(500).withColumnRenamed("id", "doc_id").createOrReplaceTempView("documents")
    boxes = spark.sql(dk.boxes_sql("spark"))
    refs = [r["media_ref"] for r in spark.sql(dk.media_universe_sql("spark")).collect()]
    base = (np.arange(96 * 96, dtype=np.int64).reshape(96, 96) % 251)
    rows = [
        {"media_ref": ref, "width": 96, "height": 96, "channels": 1, "bits": 8,
         "pixels": ((base * (i + 3)) % 256).astype(np.uint8).tobytes()}
        for i, ref in enumerate(refs)
    ]
    payloads = spark.createDataFrame(pd.DataFrame(rows), MEDIA_PAYLOADS_SCHEMA)
    return payloads, boxes


def test_engine_matches_oracle_pixel_exact(spark):
    """redact_media ≡ redact_pixels_oracle byte for byte on the synthetic
    media corpus and on the SQL box corpus (low-confidence first boxes,
    authorized and one-character words, margins past the frame); filling
    redaction_plan's rects (both corpora are 96x96) gives the same bytes."""
    for payloads, boxes in (
        corpus.synth_media(spark, N_DOCS, seed=SEED, media_rate=RATE),
        _sql_box_corpus(spark),
    ):
        p_in = {r["media_ref"]: r.asDict() for r in payloads.collect()}
        b_in: dict[str, list[dict]] = {}
        for r in boxes.collect():
            b_in.setdefault(r["media_ref"], []).append(r.asDict())
        assert len(b_in) > 20
        plan: dict[str, list] = {}
        for r in redaction_plan(boxes, margin=8).collect():
            plan.setdefault(r["media_ref"], []).append(r)
        out = redact_media(payloads, boxes, margin=8)
        got = {r["media_ref"]: r.asDict() for r in out.collect()}
        assert set(got) == set(p_in)
        n_changed = 0
        for ref, row in p_in.items():
            arr_in = decode_payload(row)
            expected = redact_pixels_oracle(arr_in, b_in.get(ref, []), margin=8)
            actual = decode_payload(got[ref])
            assert np.array_equal(actual, expected), f"pixel mismatch for {ref}"
            planned = arr_in.copy()
            for r in plan.get(ref, []):
                planned[r["ya"] : r["yb"] + 1, r["xa"] : r["xb"] + 1] = 0
            assert np.array_equal(planned, actual), f"plan mismatch for {ref}"
            if not np.array_equal(actual, arr_in):
                n_changed += 1
        # the corpus must exercise redaction AND every gate's pass-through
        assert 0 < n_changed < len(b_in)


def test_metadata_preserved(spark, media_tables):
    p_in, _ = media_tables
    payloads, boxes = corpus.synth_media(spark, N_DOCS, seed=SEED, media_rate=RATE)
    out = redact_media(payloads, boxes, margin=8)
    for r in out.collect():
        src = p_in[r["media_ref"]]
        assert (r["width"], r["height"], r["channels"], r["bits"]) == (
            src["width"], src["height"], src["channels"], src["bits"])
        assert len(r["pixels"]) == len(src["pixels"])


def _box(i, x1, y1, x2, y2, word, conf=0.9):
    return {"box_idx": i, "x1": x1, "y1": y1, "x2": x2, "y2": y2,
            "word": word, "confidence": conf}


def _rect(i, xa, ya, xb, yb):
    return {"box_idx": i, "xa": xa, "ya": ya, "xb": xb, "yb": yb}


def _redact_one(spark, img, boxes, **kw):
    """Run redact_media on one hand-made uint8 image and its boxes."""
    ch = 1 if img.ndim == 2 else img.shape[2]
    row = {"media_ref": "m", "width": img.shape[1], "height": img.shape[0],
           "channels": ch, "bits": 8, "pixels": img.tobytes()}
    payloads = spark.createDataFrame(pd.DataFrame([row]), MEDIA_PAYLOADS_SCHEMA)
    bdf = spark.createDataFrame(
        pd.DataFrame([dict(b, media_ref="m") for b in boxes],
                     columns=OCR_BOXES_SCHEMA.fieldNames()),
        OCR_BOXES_SCHEMA,
    )
    (out,) = redact_media(payloads, bdf, **kw).collect()
    return decode_payload(out.asDict())


_GRAY = np.full((60, 60), 7, dtype=np.uint8)

# (image, boxes, margin, color_value, whether any pixel changes)
_GATE_CASES = {
    # a low-confidence FIRST box gates the whole image, confident later ones too
    "low_conf_first": (_GRAY, [_box(0, 5, 5, 15, 15, "SECRET", conf=0.2),
                               _box(1, 30, 30, 40, 40, "NAME", conf=0.99)],
                       2, "black", False),
    # the gate anchors to the smallest box_idx PRESENT, not literal 0
    "first_idx_3_confident": (_GRAY, [_box(7, 30, 30, 40, 40, "OTHER", conf=0.1),
                                      _box(3, 10, 10, 20, 20, "WORDY", conf=0.9)],
                              2, "black", True),
    "first_idx_2_low_conf": (_GRAY, [_box(5, 30, 30, 40, 40, "OTHER", conf=0.9),
                                     _box(2, 10, 10, 20, 20, "WORDY", conf=0.1)],
                             2, "black", False),
    # authorized word exempt, one-character word skipped, the rest filled
    "authorized_and_len1": (_GRAY, [_box(0, 2, 2, 10, 10, "HELLO"),
                                    _box(1, 20, 20, 28, 28, "X"),
                                    _box(2, 40, 40, 50, 50, "BADWORD")],
                            0, "black", True),
    "only_exempt_words": (_GRAY, [_box(0, 2, 2, 10, 10, "HELLO"),
                                  _box(1, 20, 20, 28, 28, "X")],
                          0, "black", False),
    # the exemption upper-cases: lower-case ASCII and non-ASCII words whose
    # upper case is authorized ("ſhocr" -> "SHOCR") are exempt too
    "case_mapped_words": (_GRAY, [_box(0, 2, 2, 10, 10, "hello"),
                                  _box(1, 20, 20, 28, 28, "ſhocr"),
                                  _box(2, 40, 40, 50, 50, "Straße")],
                          0, "black", True),
    # expanded to [-2..17], clamped to [0..17]
    "margin_clamp": (_GRAY, [_box(0, 5, 5, 10, 10, "AB")], 7, "black", True),
    # corners given bottom-right -> top-left: expansion flips signs
    "reversed_corners": (_GRAY, [_box(0, 10, 10, 5, 5, "AB")], 2, "black", True),
    "rgb_white": (np.full((20, 20, 3), 9, dtype=np.uint8),
                  [_box(0, 2, 2, 6, 6, "AB")], 0, "white", True),
}


@pytest.mark.parametrize("case", sorted(_GATE_CASES))
def test_redact_media_gates_match_oracle(spark, case):
    img, boxes, margin, color, changes = _GATE_CASES[case]
    got = _redact_one(spark, img, boxes, margin=margin, color_value=color)
    want = redact_pixels_oracle(img, boxes, margin=margin, color_value=color)
    assert got.dtype == img.dtype and np.array_equal(got, want)
    assert (not np.array_equal(got, img)) == changes


@pytest.mark.parametrize("kw", [{"mode": "blurr"}, {"mode": "Blur"},
                                {"color_value": "White"}, {"color_value": "red"}])
def test_redact_media_rejects_unknown_mode_or_color(spark, kw):
    payloads, boxes = corpus.synth_media(spark, 4, seed=SEED, media_rate=RATE)
    with pytest.raises(ValueError, match="mode|color_value"):
        redact_media(payloads, boxes, **kw)


def test_white_fill_and_rgb():
    img = np.full((20, 20, 3), 9, dtype=np.uint8)
    out = redact_array(img, [_rect(0, 2, 2, 6, 6)], color_value="white")
    assert (out[2:7, 2:7, :] == 255).all()
    assert (out[0, 0] == 9).all()


def test_blur_mode_destroys_content_keeps_shape():
    img = _GRAY.copy()
    img[10:20, 10:20] = 250  # high-contrast "text"
    out = redact_array(img, [_rect(0, 8, 8, 22, 22)])
    blurred = redact_array(img, [_rect(0, 8, 8, 22, 22)], mode="blur")
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
    expected = redact_pixels_oracle(vals, [box], margin=1)
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


def test_blur_destroys_boundary_pixels_when_box_clamps(spark):
    """A box whose margin-expanded rectangle extends past the frame must
    blur the image-boundary pixels too: the crop is built at the
    unclamped size with zero padding (PIL.Image.crop semantics), so
    BLUR's unfiltered 2-px border lands in the padding, not on rows/cols
    0-1 where burned-in text used to survive verbatim.  Driven through
    redact_media, whose rects reach the painter unclamped."""
    img = np.full((40, 40), 30, dtype=np.uint8)
    img[0:8, 0:12] = 200  # burned-in text touching the corner
    out = _redact_one(spark, img, [_box(0, 0, 0, 11, 7, "TXT")],
                      mode="blur", margin=300)
    # no pixel of the text block survives unchanged — including (0,0)
    assert not np.any(out[0:8, 0:12] == 200)
    assert out.shape == img.shape
    # the painter saw the unclamped margin-300 rect
    want = redact_array(img, [_rect(0, -300, -300, 311, 307)], mode="blur")
    assert np.array_equal(out, want)


def test_redaction_plan_per_image_dims(spark):
    """With a dims table the plan clamps each rectangle to ITS OWN image
    (as redact_array clamps on mixed-size corpora); the static
    width/height arguments only fit uniform corpora."""
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
