"""Property-based cross-checks (hypothesis): the engine's rule/kernel modules
must agree with the independent oracle on arbitrary generated inputs — not
just the curated fixtures.  Pure Python, no Spark session."""

import string
from datetime import date

from hypothesis import given, settings, strategies as st

from deidcm_spark import kernels, oracle
from deidcm_spark.rules import resolve_action_cached

hex_tag = st.integers(min_value=0, max_value=0xFFFFFFFF).map(lambda v: f"0x{v:08x}")
keyword = st.text(alphabet=string.ascii_letters, min_size=0, max_size=12)
vr = st.sampled_from(["UI", "DA", "DT", "TM", "PN", "SH", "LO", "OB", "UC",
                      "IS", "DS", "CS", "LT", "SQ", "FD", "UN"])


@st.composite
def attr_keys(draw):
    """Random attribute keys incl. nested sequence paths."""
    def leaf(v=None):
        kw = draw(keyword)
        name = f"{kw}_" if kw else "_"
        return f"{name}{draw(hex_tag)}_{v or draw(vr)}_1____"

    depth = draw(st.integers(min_value=0, max_value=2))
    parts = []
    for i in range(depth):
        kw = draw(keyword)
        name = f"{kw}_" if kw else "_"
        parts.append(f"{name}{draw(hex_tag)}_SQ_1____@{draw(st.integers(1, 3))}")
    return ".".join(parts + [leaf()])


@given(attr_keys())
@settings(max_examples=500, deadline=None)
def test_rule_resolution_matches_oracle(key):
    action, vr_, tags = resolve_action_cached(key)
    o_action, o_vr, o_tags = oracle._action_for_key(key)
    assert action == o_action
    assert vr_ == o_vr
    assert list(tags) == o_tags


@given(
    st.text(min_size=0, max_size=64),
    st.text(alphabet=string.ascii_letters + string.digits + ".", min_size=1, max_size=40),
    st.text(alphabet=string.ascii_letters, min_size=1, max_size=30),
)
@settings(max_examples=200, deadline=None)
def test_det_str_spec_shared(salt, doc_id, key):
    assert kernels.dummy_letters(16, salt, doc_id, key) == oracle._det_str(
        string.ascii_letters, 16, salt, doc_id, key, "letters"
    )
    assert kernels.dummy_digits(8, salt, doc_id, key) == oracle._det_str(
        string.digits, 8, salt, doc_id, key, "digits"
    )


@st.composite
def mode_and_value(draw):
    """``(date_mode, date_offset, value)``: any text under year coarsening;
    under ``offset`` a YYYYMMDD date (plus any tail), since offset mode
    parses the first 8 characters as a date."""
    if draw(st.booleans()):
        return "first_day_year", 100000, draw(st.text(min_size=0, max_size=100))
    day = draw(st.dates(min_value=date(1900, 1, 1), max_value=date(2100, 12, 31)))
    tail = draw(st.text(min_size=0, max_size=20))
    return "offset", draw(st.integers(0, 100000)), day.strftime("%Y%m%d") + tail


@given(mode_and_value())
@settings(max_examples=200, deadline=None)
def test_pseudonymize_doc_matches_oracle(case):
    """The production batch kernel on a one-document RecordBatch vs the
    oracle, for an arbitrary value under every recipe VR family tag, in
    both date modes: spans and all four counters."""
    from deidcm_spark.corpus import attr_key
    from deidcm_spark.operators.deidentify_arrow import deidentify_record_batch
    import pyarrow as pa
    from test_deid_arrow import COUNTERS, SPAN_T, oracle_counters, span_tuples

    date_mode, date_offset, value = case
    spans = []
    for i, (tag, v) in enumerate(
        [("0x00080018", "UI"), ("0x00080020", "DA"), ("0x00080030", "TM"),
         ("0x00100010", "PN"), ("0x00181030", "LO"), ("0x00204000", "LT"),
         ("0x00340007", "OB"), ("0x00189367", "UC")]
    ):
        spans.append({"kind": "text", "text": f"{attr_key(tag, v)}={value}",
                      "media_ref": "", "offset": i})
    batch = pa.RecordBatch.from_arrays(
        [pa.array(["doc"]), pa.array([spans], pa.list_(SPAN_T))],
        names=["doc_id", "spans"],
    )
    (got,) = deidentify_record_batch(
        batch, "1.2.3", "s", date_mode, date_offset
    ).to_pylist()
    want = oracle.deidentify_doc_oracle("doc", spans, "1.2.3", "s",
                                        date_mode, date_offset)
    assert span_tuples(got["spans"]) == span_tuples(want)
    assert {c: got[c] for c in COUNTERS} == oracle_counters(spans)


# ---------------------------------------------------------------------------
# extraction + scrub lanes (pure-Python kernels, no Spark session)
# ---------------------------------------------------------------------------

_htmlish = st.text(
    alphabet=string.ascii_letters + string.digits + " <>/=\"'&;#!-.\n\t",
    max_size=400,
)


@given(_htmlish)
@settings(max_examples=500, deadline=None)
def test_extract_kernel_total_and_offsets_contiguous(html):
    """The DOM tokenizer is total (no input crashes it) and emitted span
    offsets are exactly 0..n-1 in order — the span-sequence invariant."""
    from deidcm_spark.operators.extract import extract_spans_from_html

    spans = extract_spans_from_html(html)
    assert [s[3] for s in spans] == list(range(len(spans)))
    for kind, text, media_ref, _ in spans:
        assert kind in ("text", "media")
        if kind == "text":
            assert text == " ".join(text.split())  # whitespace-normalized
            assert media_ref == ""


_phiish = st.text(
    alphabet=string.ascii_letters + string.digits + " .-/:@%+_",
    max_size=200,
)


@given(_phiish)
@settings(max_examples=500, deadline=None)
def test_scrub_chain_idempotent(text):
    """One scrub pass is a fixpoint: scrubbing scrubbed text changes
    nothing (dates are already 01-01, [EMAIL] has no charset char before
    the '@', times are 00:00:00 — each rule's output escapes its own
    pattern)."""
    import re as _re

    from deidcm_spark.operators import scrub

    def py_chain(t: str) -> str:
        for pat, rep in [
            (scrub.DATE_ISO_RE, r"\g<1>-01-01"),
            (scrub.DATE_EU_RE, r"01/01/\g<3>"),
            (scrub.DATE_BARE_RE, r"\g<1>0101"),
            (scrub.TIME_RE, "00:00:00"),
            (scrub.EMAIL_RE, r"\g<1>[EMAIL]@\g<3>"),
        ]:
            t = _re.sub(pat, rep, t)
        return t

    once = py_chain(text)
    assert py_chain(once) == once


@given(_phiish)
@settings(max_examples=300, deadline=None)
def test_uid_remap_total_and_stable(text):
    """The memoized remapper (the one scrub_uids runs per task) rewrites
    every UID mention, repeated ones included, exactly as one
    gen_dicom_uid call per match would."""
    import re as _re

    from deidcm_spark.kernels import gen_dicom_uid
    from deidcm_spark.operators.scrub import UID_RE, remap_uids_in_text

    doubled = f"{text} {text}"  # every UID twice: the second is a memo hit
    a = remap_uids_in_text(doubled, "9.9")
    assert a == remap_uids_in_text(doubled, "9.9")  # deterministic
    want = _re.sub(UID_RE, lambda m: gen_dicom_uid("", m.group(0), "9.9"), doubled)
    assert a == want


# ---------------------------------------------------------------------------
# DICOM Part-10 codec: random flat documents round-trip losslessly
# ---------------------------------------------------------------------------

_dcm_text = st.text(
    alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E),
    min_size=0, max_size=24,
)


@st.composite
def dcm_spans(draw):
    """A random FLAT document in the span encoding: 1-12 elements over
    text / binary-int / raw-bytes VRs, arbitrary tags outside the
    writer-reserved groups (0000-0007 handles, 0002 file meta, 7FE0
    pixel module, FFFE delimiters)."""
    import base64 as b64

    n = draw(st.integers(min_value=1, max_value=12))
    spans = []
    for off in range(n):
        group = draw(st.integers(min_value=0x0008, max_value=0x7FDF)
                     .filter(lambda g: g != 0x0002))
        elem = draw(st.integers(min_value=0x0001, max_value=0xFFFE))
        v = draw(vr.filter(lambda x: x not in ("SQ", "UN", "UC", "LT", "DT",
                                               "FD", "PN")))
        if v in ("UI",):
            value = draw(st.text(alphabet="0123456789.", max_size=20))
        elif v in ("IS", "DS"):
            value = str(draw(st.integers(min_value=-10**6, max_value=10**6)))
        elif v == "OB":
            value = b64.b64encode(draw(st.binary(max_size=16))).decode()
        else:
            value = draw(_dcm_text)
        tag = f"0x{(group << 16) | elem:08x}"
        spans.append({"kind": "text", "offset": off, "media_ref": "",
                      "text": f"T_{tag}_{v}_1____={value}"})
    return spans


def _tag_vr_values(spans):
    """Round-trip identity: (tag, vr, value) per NON-META span — keyword
    naming differs for tags outside the dictionary, so compare on the
    codec-relevant triple."""
    from deidcm_spark.dcm import _split_key

    out = {}
    for s in spans:
        if s["kind"] != "text" or "=" not in s["text"]:
            continue
        key, value = s["text"].split("=", 1)
        tag, v, _, _ = _split_key(key.split(".")[-1])
        if tag.startswith("0x0002") or tag == "0x00080016" or tag == "0x00080018":
            continue  # synthesized file meta reflects these back
        out[(tag, v)] = value
    return out


@given(dcm_spans())
@settings(max_examples=150, deadline=None)
def test_dcm_random_flat_roundtrip(spans):
    from deidcm_spark.dcm import canonical_spans, encode_part10, parse_part10

    blob = encode_part10(spans)
    assert blob[128:132] == b"DICM"
    back = parse_part10(blob)
    assert back["media"] is None
    want = _tag_vr_values(canonical_spans(spans))
    got = _tag_vr_values(back["spans"])
    for k, v in want.items():
        assert got.get(k) == v, (k, v, got.get(k))
    # parser may only ADD the synthesized meta/sop identity — nothing else
    assert set(got) <= set(want) | {("0x00080016", "UI"), ("0x00080018", "UI")}


# ---------------------------------------------------------------------------
# frame-sampling index spec
# ---------------------------------------------------------------------------

@given(st.integers(min_value=0, max_value=100_000),
       st.integers(min_value=1, max_value=64))
@settings(max_examples=300, deadline=None)
def test_sample_frame_indices_properties(n, k):
    from deidcm_spark.operators.mediastream import sample_frame_indices

    idx = sample_frame_indices(n, k)
    assert len(idx) == min(n, k)
    assert idx == sorted(set(idx))            # strictly increasing, unique
    assert all(0 <= i < n for i in idx)
    if n > k:  # uniform coverage: one index per length-(n/k) stride
        for j, i in enumerate(idx):
            assert j * n // k <= i <= ((j + 1) * n) // k


# ---------------------------------------------------------------------------
# WARC codec: random records round-trip byte-exactly (plain + gzip-member)
# ---------------------------------------------------------------------------

# header values must be CANONICAL to round-trip byte-exactly: the parser
# (correctly) strips insignificant whitespace around values, so generated
# values carry none — and are non-empty (an empty value is elided on
# encode and parses back as the "" default, which IS equal, but a
# whitespace-only value would collapse to it)
_header_text = st.text(
    alphabet=st.characters(blacklist_characters="\r\n", blacklist_categories=("Cs",)),
    min_size=1,
    max_size=60,
).map(lambda s: s.strip()).filter(lambda s: s != "")

_warc_record = st.fixed_dictionaries(
    {
        "type": st.sampled_from(["response", "request", "metadata", "warcinfo"]),
        "record_id": _header_text,
        "date": _header_text,
        "uri": _header_text,
        "content_type": _header_text,
        # payloads are arbitrary bytes — including CRLFs and things that
        # look like header blocks; Content-Length framing must not care
        "payload": st.binary(min_size=0, max_size=400),
    }
)


@given(st.lists(_warc_record, min_size=0, max_size=8), st.booleans())
@settings(max_examples=150, deadline=None)
def test_warc_random_records_roundtrip(records, gz):
    import gzip as _gzip

    from deidcm_spark.warc import encode_warc, parse_warc

    data = encode_warc(records, gzip_members=gz)
    back = parse_warc(_gzip.decompress(data) if gz else data)
    assert back == records


# ---------- CDF-sketch bracket guarantee (operators/quantile.py spec) ----------


@given(
    st.lists(
        st.floats(min_value=0.0, max_value=1000.0, exclude_max=True,
                  allow_nan=False, allow_infinity=False),
        min_size=1, max_size=300,
    ),
    st.integers(min_value=2, max_value=64),
    st.floats(min_value=0.01, max_value=1.0),
)
@settings(max_examples=300, deadline=None)
def test_cdf_bracket_property(values, m, q):
    """For arbitrary inputs in [lo, hi) the bucket bracketing the rank
    ceil(q*n) MUST contain the true q-quantile (within one double ulp of
    the bucket arithmetic) and the rank bounds must bracket the rank —
    the guarantee cdf_quantile's docstring states, exercised on
    hypothesis-generated distributions including bucket-edge floats.
    Pure Python: the spec twin (same IEEE arithmetic as the Spark/SQL
    expression, pinned bit-for-bit in test_quantile)."""
    import math as _math

    lo, hi = 0.0, 1000.0
    counts: dict[int, int] = {}
    for v in values:
        raw = _math.floor((v - lo) / (hi - lo) * m)
        b = max(0, min(raw, m - 1))
        counts[b] = counts.get(b, 0) + 1
    total = len(values)
    target = _math.ceil(q * total)
    cum = 0
    hit = None
    for b in sorted(counts):
        prev = cum
        cum += counts[b]
        if hit is None and cum >= target:
            hit = (b, prev, cum)
    assert hit is not None
    b, rank_lo, rank_hi = hit
    width = (hi - lo) / m
    value_lo, value_hi = lo + b * width, lo + (b + 1) * width
    true_q = sorted(values)[target - 1]
    tol = (hi - lo) * 1e-12
    assert value_lo - tol <= true_q < value_hi + tol
    assert rank_lo < target <= rank_hi
