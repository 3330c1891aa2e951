"""The metadata de-identification stage — one Arrow-vectorized kernel.

The reference's equivalent is an O(rows × cols) driver-side interpreter loop
with per-cell ``.loc`` writes (``deidcm/dicom/deid_mammogram.py:301-310``).
Here the whole lane is a single row-local executor-side stage:

    documents ──▶ MapInArrow(
        deidentify_record_batch: classify each text span against the rule
        table, apply RETIRER/EFFACER/PSEUDONYMISER/CONSERVER, append the
        PatientIdentityRemoved marker span) ──▶ sink

It plans no exchange of its own.  The salted bucket repartition that
spreads hot studies belongs to the bucket-commit job
(``lineage.run_deid_job``), which skips it over a stored ``bucket`` column.

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

Why one kernel and not a broadcast join + expression DAG: rule resolution is
a pure function of the attribute key, and the distinct-key universe is ~10^3
while spans are ~10^12, so a per-process memoized dict (rules.py) beats a
join that would explode the span array (explode → join → re-group = two extra
shuffles of the full corpus).  The rule table is 690 rows — it travels in the
kernel's closure exactly like a broadcast variable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import IntegerType, StructField, StructType

from deidcm_spark.operators.deidentify_arrow import (  # noqa: F401 (re-export)
    MARKER_TEXT,
    make_deidentify_arrow_fn,
)


def deidentify_attributes(
    df: DataFrame,
    org_root: str,
    salt: str = "deidcm_spark",
    with_metrics: bool = False,
    date_mode: str = "first_day_year",
    date_offset: int = 100000,
    observe=None,
) -> DataFrame:
    """Spark-native analogue of the reference's ``deidentify_attributes``
    (deid_mammogram.py:270-312): documents in, de-identified documents out.

    One row-local ``mapInArrow`` stage that keeps the input's partitioning;
    its batch function is in operators/deidentify_arrow.py (no per-span
    Python objects).
    ``date_mode`` is ``'first_day_year'`` (the reference's active DA/DT
    coarsening) or ``'offset'`` (shift by ``date_offset`` days).

    ``observe`` is called in the worker on every kernel output batch —
    ``(doc_id, spans, *passthrough, n_removed, n_erased, n_pseudonymized,
    n_kept)`` — before the final projection.
    """
    if date_mode not in ("first_day_year", "offset"):
        raise ValueError(f"unknown date_mode {date_mode!r}")
    passthrough = [c for c in df.columns if c not in ("doc_id", "spans")]
    counters = ["n_removed", "n_erased", "n_pseudonymized", "n_kept"]
    out_schema = StructType(
        [df.schema["doc_id"], df.schema["spans"]]
        + [df.schema[c] for c in passthrough]
        + [StructField(c, IntegerType(), False) for c in counters]
    )
    fn = make_deidentify_arrow_fn(org_root, salt, date_mode, date_offset, observe)
    cols = ["doc_id", "spans", *passthrough]
    if with_metrics:
        cols += counters
    return df.mapInArrow(fn, out_schema).select(*cols)
