"""Arrow-native de-identification kernel: the one batch function behind
``deidentify_attributes`` (operators/deidentify.py).

A scalar UDF would materialize every span as a Python dict on both sides of
the Arrow boundary — ~16M dict allocations per 400k-doc pass, and profiles
of such a stage showed 50-70% of its CPU in the OS kernel (mmap/TLB churn
from the allocation storm).  This module keeps spans out of Python objects
entirely:

* ``mapInArrow`` hands us raw ``pyarrow.RecordBatch``es; spans stay as one
  flat StructArray (``kind/text/media_ref/offset``) plus list offsets;
* attribute keys are ``dictionary_encode``d — rule resolution (rules.py)
  runs once per DISTINCT key (~10^3 universe) per batch, then fans out via
  numpy ``take``;
* all structural transforms are pyarrow compute kernels (split, slice,
  join, if_else, replace_with_mask) — C speed, no Python objects;
* only the sha256 families (UI remap, SH/LO dummies, PN/PatientID,
  OB/UC uuid) touch Python strings, and only for the affected spans;
* per-doc segment reductions (counters, max offset, survivor counts) are
  numpy ``cumsum``/``reduceat`` over the list offsets.

Semantics follow the reference's action and VR dispatch
(deid_mammogram.py:321-340, 407-438; the span-level map is in the
operators/deidentify.py docstring).  tests/test_deid_arrow.py checks the
kernel span-for-span and counter-for-counter against the independent
oracle (oracle.deidentify_doc_oracle) on synthetic corpora, recipe cases,
the ingested table and both date modes.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from deidcm_spark.kernels import (
    OB_DATE_CONSTANT,
    gen_dicom_uid,
    gen_uuid128_b64,
    gen_uuid128_hex,
    offset4date,
    patient_name,
    replace_with_dummy_str,
)
from deidcm_spark.rules import (
    CONSERVER,
    EFFACER,
    PSEUDONYMISER,
    RETIRER,
    resolve_action_cached,
)

MARKER_TEXT = "PatientIdentityRemoved_0x00120062_CS_1____=YES"

# pseudonymization families — per-distinct-key classification replicating
# the reference's VR/tag dispatch ORDER (deid_mammogram.py:407-438)
FAM_NONE, FAM_DADT, FAM_TM, FAM_PN, FAM_OBTS, FAM_SH, FAM_LO, FAM_UI, \
    FAM_OB64, FAM_UCHEX = range(10)

ACT_KEEP, ACT_RM, ACT_ER, ACT_PS = range(4)

_ACTION_CODE = {CONSERVER: ACT_KEEP, RETIRER: ACT_RM, EFFACER: ACT_ER,
                PSEUDONYMISER: ACT_PS}


def _family(vr: str, tags: tuple[str, ...]) -> int:
    """Mirror of the reference's VR/tag if-chain (deid_mammogram.py:407-438),
    evaluated per distinct key."""
    if vr in ("DA", "DT"):
        return FAM_DADT
    if vr == "TM":
        return FAM_TM
    if vr == "PN" or "0x00100020" in tags:
        return FAM_PN
    if vr == "OB" and "0x00340007" in tags:
        return FAM_OBTS
    if vr == "SH":
        return FAM_SH
    if vr == "LO":
        return FAM_LO
    if vr == "UI":
        return FAM_UI
    if vr == "OB" and ("0x00340005" in tags or "0x00340002" in tags):
        return FAM_OB64
    if vr == "UC" and "0x00189367" in tags:
        return FAM_UCHEX
    return FAM_NONE


def _seg_sum(flat: np.ndarray, off: np.ndarray) -> np.ndarray:
    """Per-list sums of a flat array given list offsets (len n+1)."""
    cum = np.concatenate(([0], np.cumsum(flat, dtype=np.int64)))
    return cum[off[1:]] - cum[off[:-1]]


def _hash_loop(fam_idx: np.ndarray, fam: int, values: list, doc_ids: list,
               keys: list, org_root: str, salt: str) -> list[str]:
    """The only per-span Python work: sha256-family transforms."""
    if fam == FAM_UI:
        return [gen_dicom_uid("", v, org_root) for v in values]
    if fam == FAM_PN:
        return [patient_name(salt, d, k) for d, k in zip(doc_ids, keys)]
    if fam == FAM_SH:
        return [
            replace_with_dummy_str("SH", salt, d, k) if v != "" else ""
            for v, d, k in zip(values, doc_ids, keys)
        ]
    if fam == FAM_LO:
        return [
            replace_with_dummy_str("LO", salt, d, k) if v != "" else ""
            for v, d, k in zip(values, doc_ids, keys)
        ]
    if fam == FAM_OB64:
        return [gen_uuid128_b64(v) for v in values]
    if fam == FAM_UCHEX:
        return [gen_uuid128_hex(v) for v in values]
    raise AssertionError(fam)


def deidentify_record_batch(
    batch: pa.RecordBatch, org_root: str, salt: str,
    date_mode: str = "first_day_year", date_offset: int = 100000,
) -> pa.RecordBatch:
    """One batch: (doc_id, spans, *extras) -> (doc_id, spans, *extras,
    n_removed, n_erased, n_pseudonymized, n_kept)."""
    n_docs = batch.num_rows
    extras = [
        (name, batch.column(name))
        for name in batch.schema.names
        if name not in ("doc_id", "spans")
    ]
    counter_fields = [
        pa.field(n, pa.int32())
        for n in ("n_removed", "n_erased", "n_pseudonymized", "n_kept")
    ]
    if n_docs == 0:
        arrs = [batch.column("doc_id"), batch.column("spans")]
        arrs += [c for _, c in extras]
        arrs += [pa.array([], pa.int32()) for _ in counter_fields]
        fields = [batch.schema.field("doc_id"), batch.schema.field("spans")]
        fields += [batch.schema.field(n) for n, _ in extras]
        fields += counter_fields
        return pa.RecordBatch.from_arrays(arrs, schema=pa.schema(fields))

    spans = batch.column("spans")
    if isinstance(spans, pa.ChunkedArray):  # defensive; batches hold Arrays
        spans = spans.combine_chunks()
    off = spans.offsets.to_numpy().astype(np.int64)
    base = off[0]
    off = off - base
    vals = spans.values.slice(base, off[-1])
    n_spans = len(vals)
    lengths = np.diff(off)

    kind = vals.field("kind")
    text = vals.field("text")
    media_ref = vals.field("media_ref")
    span_off = vals.field("offset")

    is_text = pc.equal(kind, "text").to_numpy(zero_copy_only=False)
    has_eq = pc.not_equal(
        pc.find_substring(text, "="), -1
    ).to_numpy(zero_copy_only=False)

    # key = prefix before first '='; value = suffix after it ('' if none).
    # split_pattern(max_splits=1) always yields >= 1 part, so element 0 is
    # total; element 1 only exists where has_eq — recover the value by
    # stripping the key prefix instead (C-speed regex, (?s) so encoded
    # values containing newlines keep their tails).
    parts = pc.split_pattern(text, pattern="=", max_splits=1)
    keys = pc.list_element(parts, 0)
    values = pc.if_else(
        pa.array(has_eq),
        pc.replace_substring_regex(text, pattern="(?s)^[^=]*=", replacement=""),
        pa.scalar("", pa.string()),
    )

    # --- per-distinct-key rule resolution (dictionary-encoded) ---
    dict_keys = pc.dictionary_encode(keys)
    key_idx = dict_keys.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    uniq = dict_keys.dictionary.to_pylist()
    u_action = np.empty(len(uniq), np.int8)
    u_family = np.empty(len(uniq), np.int8)
    for i, k in enumerate(uniq):
        action, vr, tags = resolve_action_cached(k)
        u_action[i] = _ACTION_CODE[action]
        u_family[i] = _family(vr, tags)
    action = u_action[key_idx]
    family = u_family[key_idx]

    m_rm = is_text & (action == ACT_RM)
    m_er = is_text & (action == ACT_ER)
    m_ps = is_text & (action == ACT_PS)
    m_kp = is_text & (action == ACT_KEEP)
    keep = ~m_rm  # media spans and non-RETIRER text spans survive

    # --- pseudonymized values (psval), family by family ---
    empty = pa.scalar("", pa.string())
    psval = pa.nulls(n_spans, pa.string())
    nonempty_val = pc.not_equal(values, "").to_numpy(zero_copy_only=False)

    m = m_ps & (family == FAM_DADT) & nonempty_val
    if m.any():
        if date_mode == "offset":
            idx = np.nonzero(m)[0]
            sub = pc.take(values, pa.array(idx)).to_pylist()
            repl = [offset4date(v, date_offset) for v in sub]
            psval = pc.replace_with_mask(psval, pa.array(m), pa.array(repl, pa.string()))
        else:
            firstday = pc.binary_join_element_wise(
                pc.utf8_slice_codeunits(values, 0, 4), "0101", ""
            )
            psval = pc.if_else(pa.array(m), firstday, psval)
    m = m_ps & (family == FAM_TM)
    if m.any():
        psval = pc.if_else(pa.array(m), pa.scalar("000000"), psval)
    m = m_ps & (family == FAM_OBTS)
    if m.any():
        psval = pc.if_else(pa.array(m), pa.scalar(OB_DATE_CONSTANT), psval)

    # sha256 families need doc_id/key/value as Python strings — affected
    # spans only
    doc_id_col = batch.column("doc_id")
    hash_fams = [FAM_UI, FAM_PN, FAM_SH, FAM_LO, FAM_OB64, FAM_UCHEX]
    need_docids = m_ps & np.isin(family, [FAM_PN, FAM_SH, FAM_LO])
    span_doc: np.ndarray | None = None
    if need_docids.any():
        span_doc = np.repeat(
            np.asarray(doc_id_col.to_pylist(), dtype=object), lengths
        )
    for fam in hash_fams:
        m = m_ps & (family == fam)
        if not m.any():
            continue
        idx = np.nonzero(m)[0]
        take_idx = pa.array(idx)
        sub_vals = pc.take(values, take_idx).to_pylist()
        sub_keys = pc.take(keys, take_idx).to_pylist()
        sub_docs = span_doc[idx].tolist() if span_doc is not None else [""] * len(idx)
        repl = _hash_loop(idx, fam, sub_vals, sub_docs, sub_keys, org_root, salt)
        psval = pc.replace_with_mask(psval, pa.array(m), pa.array(repl, pa.string()))

    # FAM_NONE fallthrough and untouched rows → '' (reference returns None,
    # span model encodes '')
    psval = pc.if_else(pc.is_null(psval), empty, psval)

    # --- final text per span ---
    # EFFACER, CONSERVER-without-'=' → "key="; PSEUDONYMISER → "key=psval";
    # everything else keeps its original text
    key_eq = pc.binary_join_element_wise(keys, "", "=")
    new_text = text
    m_keyeq = m_er | (m_kp & ~has_eq)
    if m_keyeq.any():
        new_text = pc.if_else(pa.array(m_keyeq), key_eq, new_text)
    if m_ps.any():
        ps_text = pc.binary_join_element_wise(key_eq, psval, "")
        new_text = pc.if_else(pa.array(m_ps), ps_text, new_text)

    # --- per-doc reductions ---
    n_rm_doc = _seg_sum(m_rm, off).astype(np.int32)
    n_er_doc = _seg_sum(m_er, off).astype(np.int32)
    n_ps_doc = _seg_sum(m_ps, off).astype(np.int32)
    n_kp_doc = _seg_sum(m_kp, off).astype(np.int32)
    kept_counts = _seg_sum(keep, off)

    flat_off_np = span_off.to_numpy(zero_copy_only=False).astype(np.int64)
    seg_max = np.full(n_docs, -1, dtype=np.int64)
    nz = lengths > 0
    if nz.any():
        seg_max[nz] = np.maximum.reduceat(flat_off_np, off[:-1][nz])

    # --- assemble output span arrays: kept spans then marker, per doc ---
    out_len = kept_counts + 1  # every doc gains the marker span
    out_off = np.concatenate(([0], np.cumsum(out_len))).astype(np.int32)
    n_kept_total = int(kept_counts.sum())
    total_out = n_kept_total + n_docs

    kept_idx = np.nonzero(keep)[0]
    doc_of_span = np.repeat(np.arange(n_docs, dtype=np.int64), lengths)
    # rank of each kept span within its doc
    kept_rank = np.cumsum(keep) - 1
    kept_rank = kept_rank[kept_idx] - np.concatenate(
        ([0], np.cumsum(kept_counts))
    )[doc_of_span[kept_idx]]
    perm = np.empty(total_out, dtype=np.int64)
    perm[out_off[:-1][doc_of_span[kept_idx]] + kept_rank] = np.arange(len(kept_idx))
    perm[out_off[1:] - 1] = n_kept_total + np.arange(n_docs)

    take_kept = pa.array(kept_idx)
    perm_arr = pa.array(perm)

    def interleave(kept_arr: pa.Array, marker_arr: pa.Array) -> pa.Array:
        return pc.take(pa.concat_arrays([kept_arr, marker_arr]), perm_arr)

    marker_text = pa.array(np.full(n_docs, MARKER_TEXT, dtype=object), pa.string())
    marker_kind = pa.array(np.full(n_docs, "text", dtype=object), pa.string())
    marker_media = pa.array(np.full(n_docs, "", dtype=object), pa.string())
    marker_off = pa.array((seg_max + 1).astype(np.int32))

    out_kind = interleave(pc.take(kind, take_kept), marker_kind)
    out_text = interleave(pc.take(new_text, take_kept), marker_text)
    out_media = interleave(pc.take(media_ref, take_kept), marker_media)
    out_offset = interleave(
        pc.take(span_off, take_kept).cast(pa.int32()), marker_off
    )

    span_type = spans.type.value_type
    out_struct = pa.StructArray.from_arrays(
        [out_kind, out_text, out_media, out_offset],
        fields=list(span_type),
    )
    out_spans = pa.ListArray.from_arrays(pa.array(out_off, pa.int32()), out_struct)

    arrs = [doc_id_col, out_spans] + [c for _, c in extras] + [
        pa.array(n_rm_doc), pa.array(n_er_doc), pa.array(n_ps_doc),
        pa.array(n_kp_doc),
    ]
    fields = [batch.schema.field("doc_id"),
              pa.field("spans", out_spans.type)]
    fields += [batch.schema.field(n) for n, _ in extras]
    fields += counter_fields
    return pa.RecordBatch.from_arrays(arrs, schema=pa.schema(fields))


def make_deidentify_arrow_fn(org_root: str, salt: str,
                             date_mode: str = "first_day_year",
                             date_offset: int = 100000, observe=None):
    """``observe``, if given, sees every output batch in the worker before
    it is yielded (lineage tallies its bucket counters this way)."""
    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            out = deidentify_record_batch(
                batch, org_root, salt, date_mode, date_offset
            )
            if observe is not None:
                observe(out)
            yield out

    return run
