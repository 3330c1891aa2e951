"""Scalar-kernel golden tests.

Golden pairs ported verbatim from the reference's unit tests (they are
implementation-independent input/output specs):
- offset4date: tests/test_metadata_deidentification.py:55-64
- rule regex classes: tests/test_metadata_deidentification.py:38-53
- gen_dicom_uid determinism + 10k uniqueness: :66-79
- levenshtein: tests/test_deid_verification.py:66-77
"""

import random
import string

from deidcm_spark import kernels
from deidcm_spark.rules import resolve_action_cached
from deidcm_spark.config import load_general_rules
from deidcm_spark.rules import general_rule


def test_offset4date_goldens():
    cases = [
        ("19930822", 1, "19930821"),
        ("20211119", 56, "20210924"),
        ("18700107", 890, "18670801"),
        ("20250101", -78, "20250320"),
        ("20010422", 678, "19990614"),
        ("22010122", 56, "22001127"),
        ("56090102", 15, "56081218"),
        ("20090608", 187, "20081203"),
    ]
    for date, off, want in cases:
        assert kernels.offset4date(date, off) == want


def test_rule_regex_goldens():
    rules = load_general_rules()
    for tag in [
        "0x50ffffff", "0x50a23e56", "0x50123456", "0x60003000",
        "0x60004000", "0x60564000", "0x605d3000",
    ]:
        assert general_rule(tag, rules) == "RETIRER"


def test_odd_group_private_tags_removed():
    rules = load_general_rules()
    assert general_rule("0x00090010", rules) == "RETIRER"  # odd group
    assert general_rule("0x12330010", rules) == "RETIRER"


def test_zero_trust_default():
    rules = load_general_rules()
    assert general_rule("0xeeee0001", rules) == "RETIRER"  # unknown tag


def test_gen_dicom_uid_unique_and_deterministic():
    rng = random.Random(7)
    seen = set()
    for _ in range(10_000):
        pid = "".join(rng.choice(string.ascii_letters) for _ in range(rng.randint(5, 30)))
        guid = "".join(rng.choice(string.digits) for _ in range(30))
        h = kernels.gen_dicom_uid(pid, guid, org_root="1.2.3.4")
        assert h not in seen
        seen.add(h)
        assert kernels.gen_dicom_uid(pid, guid, org_root="1.2.3.4") == h


def test_gen_dicom_uid_shape():
    uid = kernels.gen_dicom_uid("", "1.2.3.4.5", "9.9.9.9.9")
    assert uid.startswith("9.9.9.9.9.")
    digits = uid[len("9.9.9.9.9."):]
    assert len(digits) == 30 and digits.isdigit()


def test_gen_uuid128_variants():
    # stable across runs and distinct encodings of the same hash
    b = kernels.gen_uuid128("I am a personal information")
    assert isinstance(b, bytes) and len(b) > 0
    assert kernels.gen_uuid128_b64("x") == kernels.gen_uuid128_b64("x")
    assert kernels.gen_uuid128_hex("x") == kernels.gen_uuid128("x").hex()


def test_date_time_kernels():
    assert kernels.hide_time() == "000000"
    assert kernels.OB_DATE_CONSTANT == "2022-01-01T00:00:00"


def test_dummy_str_lengths_and_determinism():
    sh = kernels.replace_with_dummy_str("SH", "s", "d1", "k1")
    lo = kernels.replace_with_dummy_str("LO", "s", "d1", "k1")
    assert len(sh) == 16 and sh.isalpha()
    assert len(lo) == 64 and lo.isalpha()
    assert sh == kernels.replace_with_dummy_str("SH", "s", "d1", "k1")
    assert sh != kernels.replace_with_dummy_str("SH", "s", "d2", "k1")
    pn = kernels.patient_name("s", "d1", "k1")
    assert pn.startswith("PATIENT^") and len(pn) == len("PATIENT^") + 8
    assert pn[8:].isdigit()


def test_levenshtein_goldens():
    cases = [
        ("chien", "niche", 4),
        ("javawasneat", "scalaisgreat", 7),
        ("forward", "drawrof", 6),
        ("distance", "eistancd", 2),
        ("sturgeon", "urgently", 6),
        ("difference", "distance", 5),
        ("example", "samples", 3),
        ("bsfhebfkrn", "bsthebtkrn", 2),
        ("cie", "cle", 1),
    ]
    for a, b, want in cases:
        assert kernels.levenshtein_distance(a, b) == want


def test_resolve_action_specific_rule_override():
    # 0x00080100 inside 0x00540220 is CONSERVER despite general rules
    key = "ViewCodeSequence_0x00540220_SQ_1____@1.CodeValue_0x00080100_SH_1____"
    action, vr, tags = resolve_action_cached(key)
    assert action == "CONSERVER"
    assert vr == "SH"
    assert tags == ("0x00540220", "0x00080100")


def test_resolve_action_nested_vr_and_priority():
    # nested child under a RETIRER parent: RETIRER wins over child action
    key = "_0x00081084_SQ_1____@1.CodeValue_0x00080100_SH_1____"
    action, vr, tags = resolve_action_cached(key)
    assert action == "RETIRER"
    # empty sequence marker keeps VR=SQ
    key2 = "_0x0040a730_SQ_1____@__empty"
    action2, vr2, _ = resolve_action_cached(key2)
    assert vr2 == "SQ"
