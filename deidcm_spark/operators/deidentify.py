"""The metadata de-identification stage — one Arrow-vectorized pandas UDF.

The reference's equivalent is an O(rows × cols) driver-side interpreter loop
with per-cell ``.loc`` writes (``deidcm/dicom/deid_mammogram.py:301-310``).
Here the whole lane is a single executor-side stage:

    documents ──repartition(xxhash64(doc_id, salt))──▶ ArrowEvalPython(
        deidentify_doc: classify each text span against the broadcast rule
        table, apply RETIRER/EFFACER/PSEUDONYMISER/CONSERVER, append the
        PatientIdentityRemoved marker span) ──▶ sink

Span semantics vs the reference (deid_mammogram.py:321-340, 407-438):

* RETIRER       → span deleted from the array (the reference writes NaN,
  then the rebuild drops NaN cells);
* EFFACER       → encoded value becomes '' (key preserved);
* PSEUDONYMISER → value transformed by VR dispatch (kernels.py), key kept;
* CONSERVER     → untouched;
* every document gains the marker span
  ``PatientIdentityRemoved_0x00120062_CS_1____=YES`` (deid_mammogram.py:311)
  appended after the last surviving span;
* ``kind='media'`` spans pass through unchanged here (pixel lane is
  operators/media.py), preserving (kind, media_ref, order);
* the reference's fall-through (PSEUDONYMISER on a VR the dispatch doesn't
  handle, e.g. an empty-sequence marker) returns Python ``None``
  (deid_mammogram.py:407-438 has no else); we encode that as '' — documented
  deviation, asserted identically by the independent oracle.

Why one UDF and not a broadcast join + expression DAG: rule resolution is a
pure function of the attribute key, and the distinct-key universe is ~10^3
while spans are ~10^12, so a per-process memoized dict (rules.py) beats a
join that would explode the span array (explode → join → re-group = two extra
shuffles of the full corpus).  The rule table is 690 rows — it travels in the
UDF closure exactly like a broadcast variable.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from deidcm_spark.kernels import (
    OB_DATE_CONSTANT,
    gen_dicom_uid,
    gen_uuid128_b64,
    gen_uuid128_hex,
    get_first_day_year,
    hide_time,
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
from deidcm_spark.schema import SPAN_SCHEMA

MARKER_KEY = "PatientIdentityRemoved_0x00120062_CS_1____"
MARKER_TEXT = f"{MARKER_KEY}=YES"

DEID_RESULT_SCHEMA = StructType(
    [
        StructField("spans", SPAN_SCHEMA, False),
        StructField("n_removed", IntegerType(), False),
        StructField("n_erased", IntegerType(), False),
        StructField("n_pseudonymized", IntegerType(), False),
        StructField("n_kept", IntegerType(), False),
    ]
)


def pseudonymize_value(
    vr: str,
    tags: tuple[str, ...],
    value: str,
    org_root: str,
    salt: str,
    doc_id: str,
    attr_key: str,
    date_mode: str = "first_day_year",
    date_offset: int = 100000,
) -> str:
    """VR/tag dispatch of deid_mammogram.py:407-438 over encoded values.

    ``date_mode='offset'`` selects the constant date-shifting variant the
    reference keeps disabled (offset4date, deid_mammogram.py:421/477-480).
    """
    if vr in ("DA", "DT"):
        if value == "":
            return value
        if date_mode == "offset":
            from deidcm_spark.kernels import offset4date

            return offset4date(value, date_offset)
        return get_first_day_year(value)
    if vr == "TM":
        return hide_time()
    if vr == "PN" or "0x00100020" in tags:
        return patient_name(salt, doc_id, attr_key)
    if vr == "OB" and "0x00340007" in tags:
        return OB_DATE_CONSTANT
    if vr in ("SH", "LO"):
        return replace_with_dummy_str(vr, salt, doc_id, attr_key) if value != "" else value
    if vr == "UI":
        return gen_dicom_uid("", value, org_root)
    if vr == "OB" and ("0x00340005" in tags or "0x00340002" in tags):
        return gen_uuid128_b64(value)
    if vr == "UC" and "0x00189367" in tags:
        return gen_uuid128_hex(value)
    # reference fall-through returns None; span model encodes as ''
    return ""


def deidentify_doc(doc_id: str, spans: list, org_root: str, salt: str,
                   date_mode: str = "first_day_year", date_offset: int = 100000):
    """De-identify one document's span list.  Returns (spans, counters)."""
    out: list[dict] = []
    n_rm = n_er = n_ps = n_kp = 0
    max_offset = -1
    for span in spans:
        offset = span["offset"]
        if offset > max_offset:
            max_offset = offset
        if span["kind"] != "text":
            out.append(span)  # media spans pass through untouched (no copy:
            continue          # spans are read-only Arrow-decoded dicts)
        text = span["text"]
        eq = text.find("=")
        if eq < 0:
            attr_key, value = text, ""
        else:
            attr_key, value = text[:eq], text[eq + 1 :]
        action, vr, tags = resolve_action_cached(attr_key)
        if action == CONSERVER and eq >= 0:
            n_kp += 1
            out.append(span)  # value unchanged → reuse the input span
            continue
        if action == CONSERVER:  # no '=' in text: normalize to "key=" form
            n_kp += 1
            out.append(
                {"kind": "text", "text": f"{attr_key}=", "media_ref": span["media_ref"],
                 "offset": offset}
            )
            continue
        if action == RETIRER:
            n_rm += 1
            continue
        if action == EFFACER:
            n_er += 1
            new_value = ""
        else:  # PSEUDONYMISER
            n_ps += 1
            new_value = pseudonymize_value(vr, tags, value, org_root, salt, doc_id,
                                           attr_key, date_mode, date_offset)
        out.append(
            {
                "kind": "text",
                "text": f"{attr_key}={new_value}",
                "media_ref": span["media_ref"],
                "offset": offset,
            }
        )
    out.append(
        {"kind": "text", "text": MARKER_TEXT, "media_ref": "", "offset": max_offset + 1}
    )
    return out, n_rm, n_er, n_ps, n_kp


def make_deidentify_udf(org_root: str, salt: str,
                        date_mode: str = "first_day_year", date_offset: int = 100000):
    """Scalar pandas UDF: (doc_id, spans) → struct(spans, counters).

    org_root/salt are plain-value closures — they ship once per task like a
    broadcast, never per row.
    """

    @F.pandas_udf(DEID_RESULT_SCHEMA)
    def deidentify_udf(doc_id: pd.Series, spans: pd.Series) -> pd.DataFrame:
        rows = [
            deidentify_doc(d, s, org_root, salt, date_mode, date_offset)
            for d, s in zip(doc_id.to_numpy(), spans.to_numpy())
        ]
        return pd.DataFrame(
            rows,
            columns=["spans", "n_removed", "n_erased", "n_pseudonymized", "n_kept"],
        )

    return deidentify_udf


def deidentify_attributes(
    df: DataFrame,
    org_root: str,
    salt: str = "deidcm_spark",
    num_partitions: int | None = None,
    with_metrics: bool = False,
    date_mode: str = "first_day_year",
    date_offset: int = 100000,
    impl: str = "arrow",
    observe=None,
) -> DataFrame:
    """Spark-native analogue of the reference's ``deidentify_attributes``
    (deid_mammogram.py:270-312): documents in, de-identified documents out.

    Explicit salted repartition on ``xxhash64(doc_id, salt)`` defeats
    hot-study skew (many spans under few doc_id prefixes): the hash spreads
    lexicographically adjacent ids, the salt de-correlates reruns.

    ``impl='arrow'`` (default) runs the vectorized mapInArrow kernel
    (operators/deidentify_arrow.py — no per-span Python objects);
    ``impl='pandas'`` runs the original scalar pandas UDF (kept as the
    equality cross-check and readability reference).

    ``observe`` (arrow only) is called in the worker on every kernel output
    batch — ``(doc_id, spans, *passthrough, n_removed, n_erased,
    n_pseudonymized, n_kept)`` — before the final projection.
    """
    if num_partitions:
        df = df.repartition(num_partitions, F.xxhash64("doc_id", F.lit(salt)))
    passthrough = [c for c in df.columns if c not in ("doc_id", "spans")]

    if impl == "arrow":
        from pyspark.sql.types import StructType as _St

        from deidcm_spark.operators.deidentify_arrow import (
            make_deidentify_arrow_fn,
        )

        out_schema = _St(
            [df.schema["doc_id"], df.schema["spans"]]
            + [df.schema[c] for c in passthrough]
            + [
                StructField("n_removed", IntegerType(), False),
                StructField("n_erased", IntegerType(), False),
                StructField("n_pseudonymized", IntegerType(), False),
                StructField("n_kept", IntegerType(), False),
            ]
        )
        fn = make_deidentify_arrow_fn(org_root, salt, date_mode, date_offset,
                                      observe)
        result = df.mapInArrow(fn, out_schema)
        cols = ["doc_id", "spans", *passthrough]
        if with_metrics:
            cols += ["n_removed", "n_erased", "n_pseudonymized", "n_kept"]
        return result.select(*cols)

    if impl != "pandas":
        raise ValueError(f"unknown impl {impl!r}")
    if observe is not None:
        raise ValueError("observe needs impl='arrow'")
    udf = make_deidentify_udf(org_root, salt, date_mode, date_offset)
    result = df.withColumn("_deid", udf(F.col("doc_id"), F.col("spans")))
    # preserve any extra caller columns (e.g. a bucket id) — no self-join needed
    cols = ["doc_id", F.col("_deid.spans").alias("spans"), *passthrough]
    if with_metrics:
        cols += [
            F.col("_deid.n_removed").alias("n_removed"),
            F.col("_deid.n_erased").alias("n_erased"),
            F.col("_deid.n_pseudonymized").alias("n_pseudonymized"),
            F.col("_deid.n_kept").alias("n_kept"),
        ]
    return result.select(*cols)
