"""deidcm_spark — a PySpark-native de-identification + training-data engine.

A from-scratch re-creation of the query/data-processing capabilities of
Epiconcept-Paris/deidcm (reference at /root/reference, studied for WHAT it
computes, not HOW), re-expressed Spark-first:

* documents are rows of an interleaved span table
  ``(doc_id: string, spans: array<struct<kind, text, media_ref, offset>>)``
  instead of the reference's dynamic-schema wide pandas frame
  (``deidcm/dicom/dicom2df.py:31-54``);
* the per-cell Python interpreter loop of the reference
  (``deidcm/dicom/deid_mammogram.py:301-310``) becomes ONE Arrow-vectorized
  ``mapInArrow`` kernel over the span array, with the rule table broadcast;
* media redaction (``deid_mammogram.py:153-267``) becomes a ``mapInPandas``
  stage over binary payloads with a pluggable (stubbed) OCR backend;
* scale features the reference lacks: salted repartitioning on
  ``xxhash64(doc_id)``, AQE-tuned shuffles, per-partition lineage + metrics
  with idempotent resume, and a suite of training-data operators
  (dedup, similarity search, text quality) over the same tables.
"""

__version__ = "0.1.0"

from deidcm_spark import _zipimport

# every task's start-up invalidation in a Python worker that has imported
# this package skips the eager zip directory re-reads (see _zipimport)
_zipimport.install()

from deidcm_spark.schema import SPAN_SCHEMA, DOCUMENTS_SCHEMA  # noqa: F401
