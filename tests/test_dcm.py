"""DICOM Part-10 writer/reader (deidcm_spark/dcm.py) — the S5 binary sink.

Verification strategy mirrors the reference's (df2dicom_verification.py:
55-77 round-trips generate_test_cases through df2dicom/dicom2df):

* the 9-case corpus (the reference's own writer test input) round-trips
  byte-exactly through encode_part10/parse_part10;
* a GOLDEN test checks exact file bytes against a byte string assembled
  BY HAND from the published standard (PS3.10 §7.1 / PS3.5 §7.1.2) —
  an independent derivation the writer cannot influence;
* Spark-side: render_dcm over the synthetic corpus (media payloads
  joined in) and the full deid-pipeline output both round-trip.
"""

from __future__ import annotations

import struct

import pytest

from deidcm_spark.corpus import (
    case_documents,
    doc_spans,
    media_ground_truth,
)
from deidcm_spark.dcm import (
    canonical_spans,
    encode_part10,
    parse_part10,
)


def _text_set(spans):
    return {s["text"] for s in spans if s["kind"] == "text"}


def _assert_roundtrip(got_spans, orig_spans, label=""):
    """Every original span must survive; the only additions allowed are the
    group-0002 file-meta elements the writer is REQUIRED to synthesize
    (PS3.10 table 7.1-1) — the reference's read side includes file meta the
    same way (flat_dicom chains ds.file_meta + ds, dicom2df.py:83)."""
    got, want = _text_set(got_spans), _text_set(orig_spans)
    assert want - got == set(), (label, sorted(want - got)[:3])
    allowed = ("_0x0002", "_0x00280002", "_0x00280010", "_0x00280011",
               "_0x00280100")
    for extra in got - want:
        key = extra.split("=", 1)[0]
        assert any(a in key for a in allowed), (label, extra)


# ---------------------------------------------------------------------------
# pure-python codec
# ---------------------------------------------------------------------------

def test_case_corpus_roundtrip_strict():
    """All 9 reference test cases (UI/SQ/DA/SH/TM/OB/UC/LO/PN/IS/DS)
    round-trip in standard-conformant strict mode."""
    for doc in case_documents():
        blob = encode_part10(doc["spans"])
        assert blob[128:132] == b"DICM"
        out = parse_part10(blob)
        assert out["media"] is None
        assert _text_set(out["spans"]) == _text_set(canonical_spans(doc["spans"])), doc["doc_id"]


def test_parse_order_is_ascending_tag():
    doc = case_documents()[0]  # 48 UI leaves in corpus (offset) order
    out = parse_part10(encode_part10(doc["spans"]))
    tags = [int(s["text"].split("=", 1)[0].rsplit("_0x", 1)[1][:8], 16)
            for s in out["spans"]]
    assert tags == sorted(tags)
    assert [s["offset"] for s in out["spans"]] == list(range(len(tags)))


def test_golden_bytes_hand_assembled():
    """Exact file bytes vs a stream assembled by hand from PS3.10/PS3.5 —
    every header byte below was written out manually, not produced by the
    module under test."""
    spans = [
        {"kind": "text", "text": "SOPInstanceUID_0x00080018_UI_1____=1.2.3",
         "media_ref": "", "offset": 0},
        {"kind": "text", "text": "PatientID_0x00100020_LO_1____=ABC",
         "media_ref": "", "offset": 1},
    ]
    got = encode_part10(spans)

    # file meta, explicit VR LE (PS3.10 table 7.1-1)
    meta = (
        b"\x02\x00\x01\x00" + b"OB" + b"\x00\x00" + struct.pack("<I", 2) + b"\x00\x01"
        + b"\x02\x00\x02\x00" + b"UI" + struct.pack("<H", 26)
        + b"1.2.840.10008.5.1.4.1.1.7\x00"
        + b"\x02\x00\x03\x00" + b"UI" + struct.pack("<H", 6) + b"1.2.3\x00"
        + b"\x02\x00\x10\x00" + b"UI" + struct.pack("<H", 20)
        + b"1.2.840.10008.1.2.1\x00"
        + b"\x02\x00\x12\x00" + b"UI" + struct.pack("<H", 38)
        + b"2.25.31415926535897932384626433832795\x00"
        + b"\x02\x00\x13\x00" + b"SH" + struct.pack("<H", 12) + b"DEIDCM_SPARK"
    )
    expected = (
        b"\x00" * 128 + b"DICM"
        + b"\x02\x00\x00\x00" + b"UL" + struct.pack("<H", 4)
        + struct.pack("<I", len(meta))
        + meta
        # dataset, ascending tag order
        + b"\x08\x00\x18\x00" + b"UI" + struct.pack("<H", 6) + b"1.2.3\x00"
        + b"\x10\x00\x20\x00" + b"LO" + struct.pack("<H", 4) + b"ABC "
    )
    assert got == expected


def test_sequence_and_empty_sequence_bytes():
    from deidcm_spark.corpus import attr_key, seq_base

    spans = [
        {"kind": "text",
         "text": f"{attr_key('0x00080100', 'SH', seq_base('0x00081072', 1))}=AB",
         "media_ref": "", "offset": 0},
        {"kind": "text", "text": f"{attr_key('0x0040A730', 'SQ')}@__empty=",
         "media_ref": "", "offset": 1},
    ]
    blob = encode_part10(spans)
    out = parse_part10(blob)
    assert _text_set(out["spans"]) == _text_set(spans)
    # structural: item header (FFFE,E000) + defined uint32 length
    item = b"\xfe\xff\x00\xe0" + struct.pack("<I", 10)
    inner = b"\x08\x00\x00\x01" + b"SH" + struct.pack("<H", 2) + b"AB"
    seq = (b"\x08\x00\x72\x10" + b"SQ" + b"\x00\x00"
           + struct.pack("<I", 8 + 10) + item + inner)
    empty = b"\x40\x00\x30\xa7" + b"SQ" + b"\x00\x00" + struct.pack("<I", 0)
    assert seq in blob and empty in blob


def test_binary_vr_strict_vs_text_mode():
    us = [{"kind": "text", "text": "_0x00280010_US_1____=512",
           "media_ref": "", "offset": 0}]
    blob = encode_part10(us)
    assert b"US" + struct.pack("<H", 2) + struct.pack("<H", 512) in blob
    assert parse_part10(blob)["spans"][0]["text"].endswith("=512")
    # non-numeric cell in a binary VR: strict raises (decode_unit parity),
    # text mode round-trips the opaque string
    bad = [{"kind": "text", "text": "_0x00280010_US_1____=FBbrMONV",
            "media_ref": "", "offset": 0}]
    with pytest.raises(ValueError):
        encode_part10(bad)
    out = parse_part10(encode_part10(bad, binary_vr="text"), binary_vr="text")
    assert out["spans"][0]["text"].endswith("=FBbrMONV")


def test_multivalue_backslash_delimited():
    mv = [{"kind": "text", "text": '_0x00200032_DS_3____=["1.5", "2.5", "3.5"]',
           "media_ref": "", "offset": 0}]
    blob = encode_part10(mv)
    assert b"1.5\\2.5\\3.5 " in blob  # PS3.5 §6.4 + even pad
    got = parse_part10(blob)["spans"][0]["text"]
    assert got == '_0x00200032_DS_3____=["1.5", "2.5", "3.5"]'


def test_odd_length_values_padded_even():
    for doc in case_documents():
        blob = encode_part10(doc["spans"])
        assert len(blob) % 2 == 0
        # every parsed value survives a second encode identically
        again = encode_part10(parse_part10(blob)["spans"])
        assert again == blob


def test_media_payload_embedding():
    spans = doc_spans(3, seed=55, tags_per_doc=12, media_rate=1.0, hot=False)
    payload, _ = media_ground_truth(3, 55)
    blob = encode_part10(spans, payload, binary_vr="text")
    out = parse_part10(blob, binary_vr="text")
    assert out["media"]["pixels"] == payload["pixels"]
    assert (out["media"]["width"], out["media"]["height"]) == (
        payload["width"], payload["height"])
    assert out["media"]["bits"] == payload["bits"]
    # pixel module written as binary US + OB (bits=8)
    assert b"\x28\x00\x10\x00" + b"US" in blob  # Rows
    assert b"\xe0\x7f\x10\x00" + b"OB" in blob  # PixelData
    # media span without payload is an error, not silent omission
    with pytest.raises(ValueError):
        encode_part10(spans, None, binary_vr="text")


def test_meta_group_parse_and_group_length():
    doc = case_documents()[2]
    blob = encode_part10(doc["spans"])
    out = parse_part10(blob, include_meta=True)
    texts = _text_set(out["spans"])
    assert any("TransferSyntaxUID_0x00020010_UI_1____=1.2.840.10008.1.2.1" in t
               for t in texts)
    # group length covers exactly the meta bytes: corrupting it breaks parse
    (glen,) = struct.unpack_from("<I", blob, 140)
    bad = blob[:140] + struct.pack("<I", glen - 2) + blob[144:]
    with pytest.raises(ValueError):
        parse_part10(bad)


# ---------------------------------------------------------------------------
# spark operators
# ---------------------------------------------------------------------------

def test_render_dcm_corpus_roundtrip(spark):
    from deidcm_spark.corpus import synth_documents, synth_media
    from deidcm_spark.dcm import render_dcm

    docs = synth_documents(spark, 40, seed=55, tags_per_doc=10, media_rate=0.3)
    payloads, _ = synth_media(spark, 40, seed=55, media_rate=0.3)
    rendered = render_dcm(docs, payloads, binary_vr="text")
    rows = {r["doc_id"]: bytes(r["dcm"]) for r in rendered.collect()}
    assert len(rows) == 40
    originals = {d["doc_id"]: d["spans"]
                 for d in docs.collect()}
    n_media = 0
    for doc_id, blob in rows.items():
        out = parse_part10(blob, include_meta=True, binary_vr="text")
        orig = [r.asDict() for r in originals[doc_id]]
        _assert_roundtrip(out["spans"],
                          canonical_spans(orig, binary_vr="text"), doc_id)
        if out["media"] is not None:
            n_media += 1
            idx = int(doc_id.split(".")[-1])
            expect, _ = media_ground_truth(idx, 55)
            assert out["media"]["pixels"] == expect["pixels"]
    assert n_media > 0  # media_rate=0.3 must have produced some


def test_render_dcm_after_deid_pipeline(spark):
    """The sink works on the PIPELINE's output: deidentified spans (incl.
    the PatientIdentityRemoved marker) round-trip through the writer."""
    from deidcm_spark.corpus import synth_documents
    from deidcm_spark.dcm import render_dcm
    from deidcm_spark.operators.deidentify import deidentify_attributes

    docs = synth_documents(spark, 20, seed=7, tags_per_doc=10, media_rate=0.0)
    deid = deidentify_attributes(docs, org_root="9.9.9.9.9", salt="t")
    rendered = render_dcm(deid, binary_vr="text")
    originals = {d["doc_id"]: [r.asDict() for r in d["spans"]]
                 for d in deid.collect()}
    for r in rendered.collect():
        out = parse_part10(bytes(r["dcm"]), include_meta=True,
                           binary_vr="text")
        _assert_roundtrip(
            out["spans"],
            canonical_spans(originals[r["doc_id"]], binary_vr="text"),
            r["doc_id"])
        assert any("PatientIdentityRemoved_0x00120062_CS_1____=YES" == s["text"]
                   for s in out["spans"])


def test_export_dcm_files(spark, tmp_path):
    from deidcm_spark.corpus import synth_documents
    from deidcm_spark.dcm import export_dcm

    import os
    from urllib.parse import quote

    out_dir = str(tmp_path / "dcm_out")
    docs = synth_documents(spark, 10, seed=3, tags_per_doc=8, media_rate=0.0)
    # a file from an earlier export, hard-linked from outside out_dir: it is
    # replaced by a rename, never truncated and rewritten in place
    old = b"stale " * 100_000
    stale = os.path.join(out_dir, quote(docs.first()["doc_id"], safe="") + ".dcm")
    os.makedirs(out_dir)
    with open(stale, "wb") as f:
        f.write(old)
    os.link(stale, tmp_path / "stale_link")
    export_dcm(docs, out_dir, binary_vr="text")

    files = sorted(os.listdir(out_dir))  # no temporary file remains
    assert len(files) == 10 and all(f.endswith(".dcm") for f in files)
    assert (tmp_path / "stale_link").read_bytes() == old
    for name in files:
        with open(os.path.join(out_dir, name), "rb") as f:
            data = f.read()
        assert data[128:132] == b"DICM"
        assert parse_part10(data, binary_vr="text")["spans"]


def test_dcm_files_full_circle(spark, tmp_path):
    """The complete reference loop over REAL binary DICOM: corpus →
    export_dcm (.dcm files) → read_dcm_documents (dicom2df analogue) →
    spans match, media payload recovered, deid pipeline runs on the
    re-ingested table."""
    from deidcm_spark.corpus import synth_documents, synth_media
    from deidcm_spark.dcm import export_dcm
    from deidcm_spark.operators.deidentify import deidentify_attributes
    from deidcm_spark.sources import (
        documents_view,
        payloads_view,
        read_dcm_documents,
    )

    out_dir = str(tmp_path / "dcm_circle")
    docs = synth_documents(spark, 24, seed=11, tags_per_doc=8, media_rate=0.4)
    payloads, _ = synth_media(spark, 24, seed=11, media_rate=0.4)
    export_dcm(docs, out_dir, payloads, binary_vr="text")

    back = read_dcm_documents(spark, out_dir, binary_vr="text")
    got_docs = {d["doc_id"]: d["spans"] for d in documents_view(back).collect()}
    originals = {d["doc_id"]: [r.asDict() for r in d["spans"]]
                 for d in docs.collect()}
    assert set(got_docs) == set(originals)
    n_media = 0
    for doc_id, spans in got_docs.items():
        _assert_roundtrip([r.asDict() for r in spans],
                          canonical_spans(originals[doc_id],
                                          binary_vr="text"), doc_id)
        n_media += sum(1 for s in spans if s["kind"] == "media")
    assert n_media > 0

    # payloads: pixel bytes identical to the pre-export media table
    src = {r["media_ref"]: bytes(r["pixels"]) for r in payloads.collect()}
    got_m = {r["media_ref"]: bytes(r["pixels"])
             for r in payloads_view(back).collect()}
    assert len(got_m) == n_media
    # refs differ (m_<doc_id> vs m_<seed>_<idx>) — compare by pixel content;
    # synth_media emits exactly one payload per has_media doc, so the sets
    # must coincide
    assert sorted(got_m.values()) == sorted(src.values())

    # the deid pipeline accepts the re-ingested table as-is
    deid = deidentify_attributes(documents_view(back), org_root="9.9.9.9.9",
                                 salt="circle")
    assert deid.count() == 24


# ---------------------------------------------------------------------------
# review fixes: implicit VR, undefined lengths, meta text mode, filenames
# ---------------------------------------------------------------------------

def _implicit_stream(ts_uid: str = "1.2.840.10008.1.2") -> bytes:
    """Hand-assembled Implicit VR LE file: meta (explicit, as the standard
    requires) declaring the given transfer syntax, then a dataset with an
    implicit element, a pixel-module US element, and an UNDEFINED-length
    private SQ holding an UNDEFINED-length item."""
    ts = ts_uid.encode()
    if len(ts) % 2:
        ts += b"\x00"  # UI NUL-pads to even length
    meta_body = struct.pack("<HH", 2, 0x10) + b"UI" + struct.pack("<H", len(ts)) + ts
    meta = (
        struct.pack("<HH", 2, 0) + b"UL" + struct.pack("<H", 4)
        + struct.pack("<I", len(meta_body)) + meta_body
    )
    ds = b""
    ds += struct.pack("<HHI", 0x0008, 0x0018, 6) + b"1.2.3\x00"   # UI via rule table
    ds += struct.pack("<HHI", 0x0028, 0x0010, 2) + struct.pack("<H", 123)  # Rows US
    inner = struct.pack("<HHI", 0x0009, 0x1002, 4) + b"ABCD"      # unknown -> UN
    item = (struct.pack("<HHI", 0xFFFE, 0xE000, 0xFFFFFFFF) + inner
            + struct.pack("<HHI", 0xFFFE, 0xE00D, 0))
    ds += (struct.pack("<HHI", 0x0009, 0x1001, 0xFFFFFFFF) + item
           + struct.pack("<HHI", 0xFFFE, 0xE0DD, 0))
    return b"\x00" * 128 + b"DICM" + meta + ds


def test_parse_implicit_vr_with_undefined_lengths():
    """The DICOM default syntax (Implicit VR LE) parses: VRs resolve via
    the rule table (unknown tags -> UN), undefined-length SQ/items walk
    the delimitation items."""
    out = parse_part10(_implicit_stream())
    texts = _text_set(out["spans"])
    assert "SOPInstanceUID_0x00080018_UI_1____=1.2.3" in texts
    assert "Rows_0x00280010_US_1____=123" in texts
    assert "_0x00091001_SQ_1____@1._0x00091002_UN_1____=QUJDRA==" in texts
    assert out["media"] is None


def test_parse_rejects_unreadable_syntaxes():
    """Lossy/unsupported JPEG-encapsulated syntaxes fail with a clear
    per-file error, not a cryptic struct error.  (Explicit VR Big Endian
    and JPEG Lossless process 14 moved out of this list in r5 — they parse
    natively, tests/test_dcm_bigendian.py + tests/test_jpegll.py.)"""
    for uid in ("1.2.840.10008.1.2.4.50",     # JPEG Baseline (lossy)
                "1.2.840.10008.1.2.4.80",     # JPEG-LS
                "1.2.840.10008.1.2.4.90"):    # JPEG 2000
        with pytest.raises(ValueError, match="unsupported transfer syntax"):
            parse_part10(_implicit_stream(uid))


def _deflated_stream(body_transform=None, ts_uid: str = "1.2.840.10008.1.2.1.99") -> bytes:
    """Hand-assembled Deflated Explicit VR LE file (PS3.10 §A.5): explicit
    meta group declaring the deflated UID, then ONE raw-deflate stream of
    an ordinary Explicit VR LE dataset — assembled independently of the
    writer so the parser is tested against the standard, not itself."""
    import zlib

    ts = ts_uid.encode()
    if len(ts) % 2:
        ts += b"\x00"
    meta_body = struct.pack("<HH", 2, 0x10) + b"UI" + struct.pack("<H", len(ts)) + ts
    meta = (
        struct.pack("<HH", 2, 0) + b"UL" + struct.pack("<H", 4)
        + struct.pack("<I", len(meta_body)) + meta_body
    )
    ds = (struct.pack("<HH", 0x0008, 0x0018) + b"UI" + struct.pack("<H", 6)
          + b"1.2.3\x00"
          + struct.pack("<HH", 0x0028, 0x0010) + b"US" + struct.pack("<H", 2)
          + struct.pack("<H", 123))
    if body_transform is None:
        co = zlib.compressobj(wbits=-15)      # raw deflate per the standard
        body = co.compress(ds) + co.flush()
    else:
        body = body_transform(ds)
    return b"\x00" * 128 + b"DICM" + meta + body


def test_parse_deflated_explicit_le():
    """Deflated Explicit VR LE (1.2.840.10008.1.2.1.99) parses: the body
    inflates to a plain explicit dataset.  Reference parity: pydicom reads
    it transparently via the TransferSyntaxUID dispatch the reference
    relies on (df2dicom.py:162-183)."""
    out = parse_part10(_deflated_stream())
    texts = _text_set(out["spans"])
    assert "SOPInstanceUID_0x00080018_UI_1____=1.2.3" in texts
    assert "Rows_0x00280010_US_1____=123" in texts


def test_parse_deflated_accepts_zlib_wrapped_body():
    """Some real-world writers emit a zlib header despite PS3.10 §A.5
    specifying raw deflate; both variants must parse identically."""
    import zlib

    out = parse_part10(_deflated_stream(lambda ds: zlib.compress(ds)))
    assert "SOPInstanceUID_0x00080018_UI_1____=1.2.3" in _text_set(out["spans"])


def test_parse_deflated_invalid_body_is_clear_error():
    """A deflated UID over a non-deflate body must raise the parser's
    per-file ValueError, never a cryptic zlib traceback or a misparse."""
    with pytest.raises(ValueError, match="not a valid deflate stream"):
        parse_part10(_deflated_stream(lambda ds: b"\xff\xfe" + ds))


def test_writer_deflated_roundtrip():
    """Spans declaring the deflated UID: the writer deflates the dataset
    (meta and body stay consistent) and the result round-trips."""
    spans = [
        {"kind": "text",
         "text": "TransferSyntaxUID_0x00020010_UI_1____=1.2.840.10008.1.2.1.99",
         "media_ref": "", "offset": 0},
        {"kind": "text", "text": "SOPInstanceUID_0x00080018_UI_1____=1.2.3",
         "media_ref": "", "offset": 1},
        {"kind": "text", "text": "PatientName_0x00100010_PN_1____=DOE^JANE",
         "media_ref": "", "offset": 2},
    ]
    blob = encode_part10(spans)
    # the dataset is compressed: the raw element bytes must NOT appear
    assert b"DOE^JANE" not in blob
    out = parse_part10(blob, include_meta=True)
    texts = _text_set(out["spans"])
    assert "SOPInstanceUID_0x00080018_UI_1____=1.2.3" in texts
    assert "PatientName_0x00100010_PN_1____=DOE^JANE" in texts
    assert any("_0x00020010_UI_1____=1.2.840.10008.1.2.1.99" in t for t in texts)


def test_meta_group_honors_text_mode():
    """binary_vr='text' must reach the group-0002 encoder too: a private
    meta element with a binary VR holding an opaque-text cell round-trips
    instead of raising from the strict struct packer."""
    spans = [
        {"kind": "text", "text": "_0x00020102_US_1____=opaque", "media_ref": "",
         "offset": 0},
        {"kind": "text", "text": "SOPInstanceUID_0x00080018_UI_1____=1.2.3",
         "media_ref": "", "offset": 1},
    ]
    blob = encode_part10(spans, binary_vr="text")
    out = parse_part10(blob, binary_vr="text", include_meta=True)
    assert "_0x00020102_US_1____=opaque" in _text_set(out["spans"])
    with pytest.raises((ValueError, struct.error)):
        encode_part10(spans, binary_vr="strict")


def test_export_filenames_collision_free(spark, tmp_path):
    """doc_ids that sanitize identically under naive replacement must not
    overwrite each other: percent-encoding keeps them distinct and the
    ingest side inverts it."""
    import os

    from pyspark.sql import Row

    from deidcm_spark.dcm import export_dcm
    from deidcm_spark.schema import SPAN_SCHEMA
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType([
        StructField("doc_id", StringType(), False),
        StructField("spans", SPAN_SCHEMA, False),
    ])
    span = [{"kind": "text", "text": "SOPInstanceUID_0x00080018_UI_1____=1.2.3",
             "media_ref": "", "offset": 0}]
    docs = spark.createDataFrame(
        [Row(doc_id="a/b", spans=span), Row(doc_id="a_b", spans=span)], schema)
    out_dir = str(tmp_path / "dcm_out")
    export_dcm(docs, out_dir)
    files = sorted(os.listdir(out_dir))
    assert files == ["a%2Fb.dcm", "a_b.dcm"]

    from deidcm_spark.sources import read_dcm_documents

    back = read_dcm_documents(spark, out_dir)
    assert {r["doc_id"] for r in back.select("doc_id").collect()} == {"a/b", "a_b"}


def test_writer_defaults_to_implicit_on_unrecognized_syntax():
    """Reference parity (df2dicom.py:173-181 else-branch): a declared
    (0002,0010) that is neither explicit-LE nor an unreadable family is
    written as Implicit VR LE with the declared value preserved as data —
    and round-trips through the implicit parser."""
    spans = [
        {"kind": "text",
         "text": "TransferSyntaxUID_0x00020010_UI_1____=1.3.6.1.4.1.99999.1",
         "media_ref": "", "offset": 0},
        {"kind": "text", "text": "SOPInstanceUID_0x00080018_UI_1____=1.2.3",
         "media_ref": "", "offset": 1},
    ]
    blob = encode_part10(spans)
    # implicit header for (0008,0018): tag + uint32 length, no VR bytes
    at = blob.index(struct.pack("<HH", 0x0008, 0x0018))
    assert blob[at + 4:at + 6] != b"UI"
    out = parse_part10(blob, include_meta=True)
    texts = _text_set(out["spans"])
    assert "SOPInstanceUID_0x00080018_UI_1____=1.2.3" in texts
    assert any("_0x00020010_UI_1____=1.3.6.1.4.1.99999.1" in t for t in texts)
