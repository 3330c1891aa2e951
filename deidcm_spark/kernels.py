"""Scalar de-identification kernels (the reference's pseudonymization core).

Parity targets (all in /root/reference/deidcm/dicom/deid_mammogram.py):

* ``gen_dicom_uid``      — :446-457  (deterministic salted-hash UID, matched exactly)
* ``gen_uuid128``        — :465-474  (sha256 → 16 hex chars → b64 bytes, matched exactly)
* ``offset4date``        — :477-480
* ``hide_time``          — :488-490
* ``replace_with_dummy_str`` / ``gen_dummy_str`` — :493-513.  The reference
  draws from an UNSEEDED ``random.choice`` and its own tests only assert
  lengths (deid_verification.py:703-706).  A distributed engine needs a
  value that is identical on retry/recompute of a task, so this module pins a
  DETERMINISTIC variant keyed on ``(salt, doc_id, attr_key)`` with identical
  length and charset (documented deviation; see FIXTURES.md §4).
* ``levenshtein_distance`` — deid_verification.py:303-324 (golden pairs
  ported in tests; the query surface uses Spark's built-in ``levenshtein``).

These run inside the Arrow deid kernel (operators/deidentify_arrow.py) on
executors — never per-row on the driver.  The active DA/DT coarsening
(``get_first_day_year``, :483-485) is a vectorized slice-and-join there.
"""

from __future__ import annotations

import hashlib
import string
from datetime import datetime, timedelta

ASCII_LETTERS = string.ascii_letters
DIGITS = string.digits


def gen_dicom_uid(patient_id: str, guid: str, org_root: str) -> str:
    """Deterministic UID remap: sha256 of patient_id + guid-without-dots,
    decimal digest truncated to 30 digits, prefixed ``org_root.``."""
    base4hash = f"{patient_id}{guid.replace('.', '')}"
    hash_value = int(hashlib.sha256(base4hash.encode("utf8")).hexdigest(), 16)
    return f"{org_root}.{str(hash_value)[:30]}"


def gen_uuid128(original: str) -> bytes:
    """128-bit id: base64 of the first 16 hex chars of sha256(original)."""
    import base64

    return base64.b64encode(
        hashlib.sha256(original.encode("utf8")).hexdigest()[:16].encode("UTF-8")
    )


def gen_uuid128_b64(original: str) -> str:
    """OB variant (tags 0x00340005/0x00340002): b64 of gen_uuid128 bytes."""
    import base64

    return base64.b64encode(gen_uuid128(original)).decode("UTF-8")


def gen_uuid128_hex(original: str) -> str:
    """UC variant (tag 0x00189367): hex of gen_uuid128 bytes."""
    return gen_uuid128(original).hex()


def offset4date(date: str, offset: int = 100000) -> str:
    """Date minus N days (constant per-patient date-shifting mode)."""
    d = datetime.strptime(date[:8], "%Y%m%d") - timedelta(days=offset)
    return d.strftime("%Y%m%d")


def hide_time() -> str:
    return "000000"


OB_DATE_CONSTANT = datetime.strptime("20220101", "%Y%m%d").isoformat()  # 2022-01-01T00:00:00


# byte -> alphabet char as a 256-byte translation table per alphabet: the
# per-byte ``alphabet[b % n]`` genexpr was 35% of the whole Arrow deid
# kernel (profiled); bytes.translate is the same mapping in C
_TRANS_CACHE: dict[str, bytes] = {}


def _byte_trans(alphabet: str) -> bytes:
    t = _TRANS_CACHE.get(alphabet)
    if t is None:
        enc = alphabet.encode("ascii")
        n = len(alphabet)
        t = _TRANS_CACHE[alphabet] = bytes(enc[b % n] for b in range(256))
    return t


def det_str(alphabet: str, length: int, *keys: str) -> str:
    """Deterministic replacement string: sha256 counter-mode over the keys,
    each output byte mapped into ``alphabet``.

    Spec (shared with the independent oracle in deidcm_spark/oracle.py — both
    implementations must stay byte-identical):
    ``block_i = sha256(key0 + US + key1 + ... + '#' + str(i))``; consume
    digest bytes in order, char = alphabet[byte % len(alphabet)].
    """
    seed = "\x1f".join(keys)
    t = _byte_trans(alphabet)
    n_blocks = (length + 31) // 32
    parts = [
        hashlib.sha256(f"{seed}#{i}".encode("utf8")).digest().translate(t)
        for i in range(n_blocks)
    ]
    return b"".join(parts)[:length].decode("ascii")


def dummy_letters(length: int, salt: str, doc_id: str, attr_key: str) -> str:
    """Deterministic stand-in for gen_dummy_str(length, mode=1)."""
    return det_str(ASCII_LETTERS, length, salt, doc_id, attr_key, "letters")


def dummy_digits(length: int, salt: str, doc_id: str, attr_key: str) -> str:
    """Deterministic stand-in for gen_dummy_str(length, mode=0)."""
    return det_str(DIGITS, length, salt, doc_id, attr_key, "digits")


def replace_with_dummy_str(vr: str, salt: str, doc_id: str, attr_key: str) -> str:
    """SH → 16 letters, LO → 64 letters (lengths per the reference)."""
    if vr == "SH":
        return dummy_letters(16, salt, doc_id, attr_key)
    if vr == "LO":
        return dummy_letters(64, salt, doc_id, attr_key)
    raise ValueError(f"not supported VR : {vr} for dummy str")


def patient_name(salt: str, doc_id: str, attr_key: str) -> str:
    """PN / PatientID (0x00100020) → ``PATIENT^`` + 8 deterministic digits."""
    return f"PATIENT^{dummy_digits(8, salt, doc_id, attr_key)}"


def levenshtein_distance(word_1: str, word_2: str) -> int:
    """Classic DP edit distance (two-row formulation)."""
    if len(word_1) < len(word_2):
        word_1, word_2 = word_2, word_1
    prev = list(range(len(word_2) + 1))
    for i, c1 in enumerate(word_1, 1):
        cur = [i]
        for j, c2 in enumerate(word_2, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (c1 != c2)))
        prev = cur
    return prev[-1]
